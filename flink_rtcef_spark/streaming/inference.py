"""Streaming CEP: the keyed engine path as a Structured Streaming
stateful operator.

The Flink reference runs every kernel through one keyed process
function (WayebEngine.processElement, WayebEngine.java:225-316) and
keeps the run state that crosses checkpoints — the quintuple
(configuration/state, buffer, match, counter, paused) — in ValueStates
(WayebEngine.java:102-118, 307-313).  Here one GroupState function
(:func:`_group_fn`) plays that role for all four builders under
``applyInPandasWithState``; a kernel spec supplies only its event
columns and ``load``/``step``/``dump`` around its segment kernel.  The
SDFA and register kernels are the foreachBatch fast path's own specs
(streaming/fastpath.py ``_SdfaSpec``, fastpath_register.py
``_RegisterSpec``), so a key's GroupState row is the fast path's state
row: the spec's state fields plus ``last_ts``.

Ordering semantics: Flink guarantees per-key order; Spark orders within
a microbatch by explicit sort, and the event-time watermark bounds
cross-batch disorder (late rows beyond the watermark are dropped by the
engine) — the A6-parity note of SURVEY.md §7.
"""

from __future__ import annotations

import pickle
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_rtcef_spark.operators.forecast import _run_forecast_segment
from flink_rtcef_spark.plans.compiler import CompiledPattern
from flink_rtcef_spark.streaming.fastpath import _SdfaSpec, _with_event_time
from flink_rtcef_spark.streaming.fastpath_register import _RegisterSpec
from flink_rtcef_spark.streaming.state_table import DET_SCHEMA

FORECAST_OUTPUT_SCHEMA = (
    "key string, ts long, event_id long, counter long, is_detection boolean, "
    "prob double, start_ctr long, end_ctr long, positive boolean"
)
MULTI_OUTPUT_SCHEMA = (
    "pattern_id int, key string, detection_event_id long, detection_ts long, "
    "counter long, min_counter long, n_matched int"
)
_DET_COLUMNS = [f.split()[0] for f in DET_SCHEMA.split(", ")]


def _group_fn(spec, emit, state_ttl_ms: int, ttl_clock: str):
    """The one GroupState function of every builder: one key's rows of
    one microbatch, advanced from the key's carried state.

    The GroupState row is ``(*spec.dump(carry), last_ts)``; ``last_ts``
    (the key's max event ts) is the TTL clock.  ``emit(key, outs)``
    turns the per-batch outputs of ``spec.step`` into the key's output
    frame.  Run expiration (F3, RunPool.runsCollect /
    ERFEngine.scala:213-216): idle keys are reclaimed when the chosen
    clock passes last-event + ttl."""

    def fn(
        key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state_ttl_ms > 0 and state.hasTimedOut:
            state.remove()
            yield pd.DataFrame()
            return
        carry, last_ts = None, -1
        if state.exists:
            *vals, last_ts = state.get
            # Spark's EventTimeTimeout only fires for keys with NO data
            # in the firing batch; Flink's timer fires on watermark
            # passage regardless, so the semantic expiry is enforced
            # here: state whose last event is more than ttl behind the
            # watermark is dead before the new rows are processed
            if (
                state_ttl_ms > 0 and ttl_clock == "event" and last_ts >= 0
                and state.getCurrentWatermarkMs() > last_ts + state_ttl_ms
            ):
                last_ts = -1
            else:
                carry = spec.load(*vals)
        outs = []
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            cols = {c: pdf[c].to_numpy() for c in spec.event_cols}
            rows, carry = spec.step(cols, slice(None), carry)
            outs.append(rows)
            last_ts = max(last_ts, int(cols["ts"][-1]))
        if carry is not None:
            state.update((*spec.dump(carry), last_ts))
            if state_ttl_ms > 0 and ttl_clock == "event":
                # the timeout must sit strictly after the current
                # watermark or Spark rejects it; an idle key with a
                # stale last_ts expires on the very next microbatch,
                # which is exactly Flink's semantics
                state.setTimeoutTimestamp(
                    max(last_ts + state_ttl_ms, state.getCurrentWatermarkMs() + 1)
                )
            elif state_ttl_ms > 0:
                state.setTimeoutDuration(state_ttl_ms)
        yield emit(key[0], outs)

    return fn


def _rows_emit(columns: list[str]):
    """``emit`` for kernels whose step returns row tuples: one frame of
    ``(key, *row)`` labelled ``columns``.  The labels are strings, so
    Spark assigns the frame's columns to the output schema by name."""

    def emit(key, outs):
        return pd.DataFrame(
            [(key, *r) for rows in outs for r in rows], columns=columns
        )

    return emit


def _timeout_conf(state_ttl_ms: int, ttl_clock: str):
    """ttl_clock="processing" caveat: under trigger(availableNow=True)
    a pending ProcessingTimeTimeout keeps the query alive after the
    input is exhausted, spinning ~1 EMPTY microbatch per second of pure
    overhead until the wall timer fires — so the drain takes about as
    long as the TTL itself (measured: no-data batch 158 at t=150s with
    a 10-minute TTL).  Use the event clock (the default, and the Flink
    parity semantics — ERFEngine.scala:213-216) with availableNow
    replays; reserve the processing clock for continuously-triggered
    production streams where the query never waits to terminate."""
    if state_ttl_ms <= 0:
        return GroupStateTimeout.NoTimeout
    if ttl_clock == "event":
        return GroupStateTimeout.EventTimeTimeout
    return GroupStateTimeout.ProcessingTimeTimeout


def _keyed_stream(
    stream_df: DataFrame,
    key: str,
    ts_col: str,
    id_col: str,
    watermark: str,
    kernel_cols: list,
    spec,
    emit,
    output_schema: str,
    state_schema: str,
    state_ttl_ms: int,
    ttl_clock: str,
) -> DataFrame:
    """The keyed stream every builder returns: watermark, the (key
    string, ts millis, event_id, *kernel_cols) projection — symbolization
    stays a JVM Column, identical to batch — and ``spec`` advanced by
    :func:`_group_fn` under ``applyInPandasWithState`` with GroupState
    ``state_schema`` (the spec's state fields, then ``last_ts long``)."""
    with_event_time, et_col = _with_event_time(stream_df, ts_col)
    cols = [
        F.col(key).cast("string").alias("key"),
        F.unix_millis(F.col(et_col)).alias("ts"),
        F.col(id_col).alias("event_id"),
        *kernel_cols,
    ]
    if state_ttl_ms > 0 and ttl_clock == "event":
        # EventTimeTimeout requires the watermarked column to survive
        # into the stateful operator's input (8 extra bytes/row beats
        # losing the event clock)
        cols.append(F.col(et_col).alias("__watermark_time"))
    sym = with_event_time.withWatermark(et_col, watermark).select(*cols)
    return sym.groupBy("key").applyInPandasWithState(
        _group_fn(spec, emit, state_ttl_ms, ttl_clock),
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=_timeout_conf(state_ttl_ms, ttl_clock),
    )


def streaming_detections(
    stream_df: DataFrame,
    compiled: CompiledPattern,
    key_col: str | None = None,
    ts_col: str = "timestamp",
    id_col: str = "id",
    watermark: str = "60 seconds",
    state_ttl_ms: int = 0,
    ttl_clock: str = "event",
) -> DataFrame:
    """Build the streaming detection DataFrame from a streaming source.

    Symbolization stays a JVM Column (identical to batch); only the
    per-key run loop — BatchCEP's ``_run_sdfa_segment`` via the fast
    path's ``_SdfaSpec`` — is stateful Python.  The watermark mirrors
    the reference's 60 s bounded out-of-orderness
    (InferenceJob.java:134-137).  ``state_ttl_ms`` > 0 reclaims idle
    keys (the reference's run-expiration, F3) — by default on the EVENT
    clock, matching Flink's event-time timers (ERFEngine.scala:213-216:
    a run expires when event time, not wall time, advances past
    last-event + ttl); ``ttl_clock="processing"`` opts into wall-clock
    expiry instead.
    """
    spec = _SdfaSpec(compiled)
    return _keyed_stream(
        stream_df, key_col or compiled.partition_by, ts_col, id_col,
        watermark, [compiled.symbol_column().alias("symbol")], spec,
        _rows_emit(_DET_COLUMNS), DET_SCHEMA, spec.out.state, state_ttl_ms,
        ttl_clock,
    )


def streaming_register_detections(
    stream_df: DataFrame,
    compiled_register,
    key_col: str | None = None,
    ts_col: str = "timestamp",
    id_col: str = "id",
    watermark: str = "60 seconds",
    state_ttl_ms: int = 0,
    ttl_clock: str = "event",
) -> DataFrame:
    """Streaming recognition for register (SREMO) patterns.  Static
    predicates fold into the JVM-side ``bits`` column exactly as in
    batch; only register comparisons run in the stateful Python loop
    (the fast path's ``_RegisterSpec``: the configuration set — at most
    ``window`` concurrent runs per key under the mandatory SREMO window
    — is pickled into a binary GroupState column).  Expiry defaults to
    the event clock (see streaming_detections)."""
    cp = compiled_register
    spec = _RegisterSpec(cp)
    return _keyed_stream(
        stream_df, key_col or cp.partition_by, ts_col, id_col, watermark,
        [cp.bits_column().alias("bits"), *[F.col(a) for a in cp.register_attrs]],
        spec, _rows_emit(_DET_COLUMNS), DET_SCHEMA, spec.out.state, state_ttl_ms,
        ttl_clock,
    )


class _MultiSpec:
    """All patterns advance together per key: one ``_SdfaSpec`` per
    pattern, each over its own symbol column, with the carry vector
    (one quintuple per pattern) pickled into one binary GroupState
    column.  Rows are (pattern_id, *detection)."""

    def __init__(self, compiled_list):
        self.specs = [_SdfaSpec(c) for c in compiled_list]
        self.event_cols = [
            "key", "ts", "event_id", *(f"symbol{p}" for p in range(len(self.specs)))
        ]

    @staticmethod
    def load(blob):
        return pickle.loads(blob)

    def step(self, cols, seg, carry):
        carry = carry or [None] * len(self.specs)
        out = []
        for p, spec in enumerate(self.specs):
            rows, carry[p] = spec.step(
                {**cols, "symbol": cols[f"symbol{p}"]}, seg, carry[p]
            )
            out.extend((p, *r) for r in rows)
        return out, carry

    @staticmethod
    def dump(carry):
        return (pickle.dumps(carry),)


def streaming_multi_detections(
    stream_df: DataFrame,
    compiled_list,
    key_col: str | None = None,
    ts_col: str = "timestamp",
    id_col: str = "id",
    watermark: str = "60 seconds",
    state_ttl_ms: int = 0,
    ttl_clock: str = "event",
) -> DataFrame:
    """Streaming twin of MultiPatternCEP (operators/multi_cep.py): the
    reference feeds every event to ALL loaded FSMs
    (ERFEngine.scala:204); here every pattern contributes its own
    JVM-side symbol column, the stream shuffles ONCE on the shared key,
    and one stateful pass advances all automata — detections tagged
    with pattern_id.  Run expiry follows the event clock as in
    streaming_detections."""
    if not compiled_list:
        raise ValueError("need at least one pattern")
    keys = {c.partition_by for c in compiled_list if c.partition_by}
    if key_col is None:
        if len(keys) != 1:
            raise ValueError(
                f"patterns disagree on partitionBy ({keys}); pass key_col"
            )
        key_col = keys.pop()
    return _keyed_stream(
        stream_df, key_col, ts_col, id_col, watermark,
        [c.symbol_column().alias(f"symbol{p}") for p, c in enumerate(compiled_list)],
        _MultiSpec(compiled_list), _rows_emit(["key", "pattern_id", *_DET_COLUMNS[1:]]),
        MULTI_OUTPUT_SCHEMA, "carries binary, last_ts long", state_ttl_ms,
        ttl_clock,
    )


class _ForecastSpec:
    """Streaming twin of ForecastCEP: per-key virtual state + counter,
    forecasts via the SAME ``_run_forecast_segment`` kernel the batch
    operator uses — the reference's online inference path
    (WayebEngine.processElement:225-316).  ``step`` returns the
    segment's FORECAST_COLUMNS frame."""

    event_cols = ["key", "ts", "event_id", "symbol"]

    def __init__(self, spst, method, confidence_threshold, spread):
        self.main = (
            spst.delta,
            spst.finals,
            spst.started,
            spst.forecast_table(method, confidence_threshold, spread),
            spst.compiled.reset_symbols(),
        )

    @staticmethod
    def load(st, counter):
        return st, counter

    def step(self, cols, seg, carry):
        st, counter = carry or (0, 0)
        frame, (st, counter, _) = _run_forecast_segment(
            cols["key"][0], cols["symbol"][seg], cols["ts"][seg],
            cols["event_id"][seg], (st, counter, True), self.main,
        )
        return frame, (int(st), int(counter))

    @staticmethod
    def dump(carry):
        return carry


def _frames_emit(key, frames):
    return pd.concat(frames) if frames else pd.DataFrame()


def streaming_forecasts(
    stream_df: DataFrame,
    spst,
    key_col: str | None = None,
    ts_col: str = "timestamp",
    id_col: str = "id",
    watermark: str = "60 seconds",
    method: str = "classify_nextk",
    confidence_threshold: float = 0.5,
    spread: int = 5,
    state_ttl_ms: int = 0,
    ttl_clock: str = "event",
) -> DataFrame:
    """Streaming recognition + forecasting (detections and forecasts in
    one append stream, split by is_detection).  ``state_ttl_ms`` > 0
    expires idle run/forecast state — event clock by default, as in
    streaming_detections (the reference expires the run the forecaster
    rides, ERFEngine.scala:213-216 — forecast state is run state)."""
    compiled = spst.compiled
    return _keyed_stream(
        stream_df, key_col or compiled.partition_by, ts_col, id_col,
        watermark, [compiled.symbol_column().alias("symbol")],
        _ForecastSpec(spst, method, confidence_threshold, spread),
        _frames_emit, FORECAST_OUTPUT_SCHEMA,
        "state int, counter long, last_ts long", state_ttl_ms, ttl_clock,
    )
