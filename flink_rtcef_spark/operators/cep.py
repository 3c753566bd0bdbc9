"""The CEP physical operator: per-key ordered SDFA execution.

This is the one operator Spark genuinely lacks (SURVEY.md §4 "what must
be custom").  Semantics follow the reference's deterministic runtime
(fsm/runtime/Run.scala:161-297, processEventDet/emitForecasts):

- one run per partition-key, state persists across events;
- each event advances the automaton by its (JVM-computed) symbol;
- a TAKE transition adds the event to the current match;
- entering a final state emits a detection and clears the match
  (state itself is NOT reset — the streaming self-loop/count-policy
  transform governs continuation);
- a window violation (count: counter span; time: timestamp span —
  Run.checkRuntimeWindow:221-238) kills the run: state restarts and
  the violating event is re-processed from the start state.

Spark shape: symbolization is a Column (operators stay JVM-side until
the int symbol is computed), then ``key_sorted`` hash-partitions on the
key and sorts each partition, and one ``mapInPandas`` pass runs the
int-array DFA loop over the key segments ``key_batches`` finds.  At
scale this is one hash shuffle on the partition key — the same
distribution Flink's keyBy performs — and the shuffle payload is
(key, ts, id, symbol), not the full event row.  Every batch per-key
kernel (multi-pattern, register, forecast, Markov-chain counts, HMM
trace) runs on the same ``key_sorted`` shuffle and key walk.

Scale note: the Python loop is per-key linear and allocation-free on
numpy int arrays; state is 3 machine words per key.  Skewed keys are
the same problem Flink has; AQE skew handling does not apply inside a
group, so extremely hot keys should be pre-split upstream when the
pattern allows (documented limitation, as in the reference).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_rtcef_spark.models.cst import key_starts
from flink_rtcef_spark.plans.compiler import CompiledPattern, transition_tables

DETECTION_SCHEMA_SUFFIX = (
    "detection_event_id long, detection_ts long, counter long, min_counter long, n_matched int"
)


def ts_millis(df: DataFrame, ts_col: str):
    """Epoch-millis Column for ``ts_col`` whatever its type.

    ``unix_millis`` only accepts TIMESTAMP (with local time zone); a
    parquet TIMESTAMP_NTZ column is re-tagged wall-clock-as-UTC via a
    tz-free interval expression (sources.io.ntz_as_utc) — a plain cast
    would silently shift event times on a session with a non-UTC
    spark.sql.session.timeZone.  Numeric columns pass through as long.
    """
    from flink_rtcef_spark.sources.io import ntz_as_utc

    dtype = dict(df.dtypes).get(ts_col)
    ts = F.col(ts_col)
    if dtype == "timestamp":
        return F.unix_millis(ts)
    if dtype == "timestamp_ntz":
        return F.unix_millis(ntz_as_utc(ts_col, df.sparkSession))
    return ts.cast("long")


def _run_sdfa_segment(
    symbols, ts, event_ids, delta, take, finals, window, window_type,
    reset_symbols, init=None,
):
    """The deterministic run loop over one key segment, with resumable
    state: ``init`` is (state, counter, min_counter, min_ts, n_matched)
    carried from the previous Arrow batch of the same key.  Returns the
    detections as (event_id, ts, counter, min_counter, n_matched) and
    the carry."""
    out = []
    state, counter, min_counter, min_ts, n_matched = init or (0, 0, -1, -1, 0)
    n = len(symbols)
    i = 0
    while i < n:
        sym = symbols[i]
        counter += 1
        if sym in reset_symbols:
            # ResetEvent: clear FSM state and match, consume the event
            # without a transition (Run.scala:309-323)
            state, min_counter, min_ts, n_matched = 0, -1, -1, 0
            i += 1
            continue
        # window check before the transition (Run.scala:221-238): span
        # counted from the first matched event; a violation kills the
        # run and the event is processed by the fresh one
        if window > 0 and min_counter != -1:
            span = (counter - min_counter) if window_type == "count" else (ts[i] - min_ts)
            if span >= window:
                state, min_counter, min_ts, n_matched = 0, -1, -1, 0
        nxt = int(delta[state, sym])
        if take[state, sym]:
            if min_counter == -1:
                min_counter, min_ts = counter, int(ts[i])
            n_matched += 1
        if finals[nxt]:
            out.append((int(event_ids[i]), int(ts[i]), counter, min_counter, n_matched))
            # full match: clear the match, keep the state
            # (Run.emitForecasts: matchedEvents.clear(), counter runs on)
            min_counter, min_ts, n_matched = -1, -1, 0
        state = nxt
        i += 1
    return out, (state, counter, min_counter, min_ts, n_matched)


def _run_sdfa_batch_vectorized(
    keys, symbols, ts, event_ids, delta, take, finals_arr, reset_symbols,
    carry=None,
):
    """Windowless fast path: one whole Arrow batch (all key segments) in
    O(n·S·log n) numpy instead of an O(n) Python loop.

    A DFA transition on symbol a is a mapping M_a: S -> S over the state
    set; mappings compose associatively, so the running state is an
    inclusive prefix scan under composition — computed in log2(n)
    doubling rounds of row-wise gathers (np.take_along_axis).  Key
    starts and RESET events become CONSTANT mappings (everything ->
    delta[start, sym] resp. start), which erase history exactly where
    the loop would restart, letting ONE scan cover every key segment in
    the batch.  Only valid with window == 0: window violations rewind
    state based on match accounting, which breaks pure composition (the
    loop path handles windowed patterns).

    Match accounting (min_counter / n_matched per detection) is
    reconstructed per epoch — the stretches delimited by key starts,
    resets, and detections — with flatnonzero/searchsorted, all
    vectorized.  ``carry`` is the first key's state from the previous
    batch, or None when that key starts here.  Returns (rows,
    carry_out), bit-identical to running _run_sdfa_segment over each key
    segment; ``carry_out`` is the last key's state.
    """
    n = len(symbols)
    if n == 0:
        return [], carry
    state0, counter0, minc0, mints0, nm0 = carry if carry is not None else (0, 0, -1, -1, 0)

    key_start = key_starts(keys)
    continuing = carry is not None
    is_reset = (
        np.isin(symbols, list(reset_symbols)) if reset_symbols else np.zeros(n, dtype=bool)
    )

    # per-event mappings M[i, s] = next state from s on symbols[i]
    maps = delta.T[symbols].astype(np.int32)  # (n, S)
    const_start = key_start.copy()
    if continuing:
        const_start[0] = False
    if const_start.any():
        maps[const_start] = delta[0, symbols[const_start]][:, None]
    if is_reset.any():
        maps[is_reset] = 0  # ResetEvent: state -> start, no transition

    # inclusive prefix scan under composition (doubling)
    P = maps.copy()
    d = 1
    while d < n:
        # P[i] = P[i] ∘ P[i-d]  (earlier prefix applied first)
        P[d:] = np.take_along_axis(P[d:], P[:-d], axis=1)
        d *= 2
    s0 = state0 if continuing else 0
    states = P[:, s0]

    prev_states = np.empty(n, dtype=np.int32)
    prev_states[0] = state0 if continuing else 0
    prev_states[1:] = states[:-1]
    prev_states[const_start] = 0  # fresh keys advance from the start state

    takes = take[prev_states, symbols] & ~is_reset
    det = finals_arr[states] & ~is_reset

    # per-key counters: counter restarts at each key boundary
    kstarts = np.flatnonzero(key_start)
    kseg = np.searchsorted(kstarts, np.arange(n), side="right") - 1
    counters = np.arange(n, dtype=np.int64) - kstarts[kseg] + 1
    if continuing:
        first_seg_end = kstarts[1] if len(kstarts) > 1 else n
        counters[:first_seg_end] += counter0

    # epochs: new match-accounting stretch at key starts, after resets,
    # after detections
    epoch_start = key_start.copy()
    epoch_start[1:] |= det[:-1] | is_reset[:-1]
    starts = np.flatnonzero(epoch_start)
    epoch_of = np.searchsorted(starts, np.arange(n), side="right") - 1

    take_idx = np.flatnonzero(takes)
    take_epochs = epoch_of[take_idx]
    first_take: dict = {}
    count_take: dict = {}
    for pos, ep in zip(take_idx.tolist(), take_epochs.tolist()):
        if ep not in first_take:
            first_take[ep] = pos
        count_take[ep] = count_take.get(ep, 0) + 1

    carried_epoch0 = continuing and nm0 > 0
    rows: list = []
    for i in np.flatnonzero(det).tolist():
        ep = epoch_of[i]
        nm = count_take.get(ep, 0)
        mc = int(counters[first_take[ep]]) if ep in first_take else -1
        if ep == 0 and carried_epoch0:
            nm += nm0
            mc = minc0
        rows.append((keys[i], int(event_ids[i]), int(ts[i]), int(counters[i]), mc, nm))

    # carry-out: the open (last) epoch of the last key
    if det[-1] or is_reset[-1]:
        out_minc, out_mints, out_nm = -1, -1, 0
    else:
        last_ep = int(epoch_of[-1])
        out_nm = count_take.get(last_ep, 0)
        if last_ep in first_take:
            ft = first_take[last_ep]
            out_minc, out_mints = int(counters[ft]), int(ts[ft])
        else:
            out_minc, out_mints = -1, -1
        if last_ep == 0 and carried_epoch0:
            out_nm += nm0
            out_minc, out_mints = minc0, mints0
    out_state = 0 if is_reset[-1] else int(states[-1])
    return rows, (out_state, int(counters[-1]), out_minc, out_mints, out_nm)


KEY_ORDER = ("key", "ts", "event_id")
#: the columns of ``BatchCEP.symbolized``
SYMBOLIZED = (*KEY_ORDER, "symbol")


def key_sorted_pandas(table: pa.Table) -> pd.DataFrame:
    """The driver twin of ``BatchCEP.key_sorted`` for a collected
    ``symbolized`` table: its rows sorted by (key, ts, event_id) with
    NULLs first, as Spark's ascending sort places them, returned as
    pandas.  An integer column holding NULLs becomes Python ints rather
    than float64, so ids above 2**53 stay exact."""
    return table.sort_by(
        [(c, "ascending") for c in KEY_ORDER], null_placement="at_start"
    ).to_pandas(integer_object_nulls=True)


def key_sorted(sym_df: DataFrame) -> DataFrame:
    """The one key shuffle of every per-key kernel: a frame with
    ``KEY_ORDER``'s columns hash-partitioned on the key, each partition
    sorted by (key, ts, event_id)."""
    return sym_df.repartition("key").sortWithinPartitions(*KEY_ORDER)


_NO_KEY = object()  # no open key yet (None is a key: the NULL key)


def key_batches(batches, names):
    """The one key walk of every batch per-key kernel, over the pandas
    Arrow batches of one ``key_sorted`` partition.  Yields, per
    non-empty batch: the key column, the ``names`` columns (numpy), the
    key segments' bounds (``[start, ..., n]``) and whether the first
    segment continues the previous batch's last key.  NULL keys compare
    equal, so a NULL-key run is one run like any other, however Arrow
    cuts the partition into batches."""
    open_key = _NO_KEY
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        keys = pdf["key"].to_numpy()
        first = keys[0]
        continues = first == open_key or pd.isna(first) and pd.isna(open_key)
        bounds = [*np.flatnonzero(key_starts(keys)).tolist(), n]
        yield keys, [pdf[c].to_numpy() for c in names], bounds, continues
        open_key = keys[-1]


def key_segments(batches, names, fresh, step):
    """``key_batches`` with one call per key segment:
    ``step(key, cols, seg, init) -> (out, carry)`` runs the rows
    ``seg`` (a slice of ``cols``), ``init`` being the previous batch's
    carry when the key continues it and ``fresh`` when the key starts.
    Yields, per non-empty batch, the list of (key, continues, out)."""
    carry = None
    for keys, cols, bounds, continues in key_batches(batches, names):
        segs = []
        for start, end in zip(bounds[:-1], bounds[1:]):
            cont = continues and start == 0
            out, carry = step(
                keys[start], cols, slice(start, end), carry if cont else fresh
            )
            segs.append((keys[start], cont, out))
        yield segs


class BatchCEP:
    """Batch Complex Event Recognition over a DataFrame; its
    `key_sorted` (the module's `key_sorted` of `symbolized`) is the key
    shuffle of detections, forecasts, the scorer and
    `ModelFactory.prepare`.

    >>> cep = BatchCEP(compiled, key_col="user_id", ts_col="ts", id_col="event_id")
    >>> detections = cep.detections(events_df)
    """

    def __init__(
        self,
        compiled: CompiledPattern,
        key_col: str | None = None,
        ts_col: str = "timestamp",
        id_col: str = "id",
    ):
        self.compiled = compiled
        self.key_col = key_col or compiled.partition_by
        if not self.key_col:
            raise ValueError("pattern needs {partitionBy:...} or an explicit key_col")
        self.ts_col = ts_col
        self.id_col = id_col

    def symbol_columns(self, df: DataFrame, prefix: str = "") -> list:
        """``symbolized``'s four columns over ``df`` — key, ts_millis, id,
        symbol — named ``prefix`` + ``SYMBOLIZED``, for a projection that
        keeps ``df``'s own columns next to them."""
        return [
            F.col(self.key_col).alias(prefix + "key"),
            ts_millis(df, self.ts_col).alias(prefix + "ts"),
            F.col(self.id_col).alias(prefix + "event_id"),
            self.compiled.symbol_column().alias(prefix + "symbol"),
        ]

    def symbolized(self, df: DataFrame) -> DataFrame:
        """Project to (key, ts_millis, id, symbol) — everything heavier
        stays JVM-side and the shuffle payload is minimal."""
        return df.select(*self.symbol_columns(df))

    def key_sorted(self, df: DataFrame) -> DataFrame:
        """``key_sorted`` of ``symbolized(df)``."""
        return key_sorted(self.symbolized(df))

    def detections(self, df: DataFrame) -> DataFrame:
        """(key, detection_event_id, detection_ts, counter, min_counter,
        n_matched) — one row per full match, per key.

        One key shuffle (``key_sorted``) and ONE mapInPandas pass over
        the key walk (``key_batches``): one Python invocation per Arrow
        batch instead of per key, since the per-group overhead
        dominates when keys are many and small (the common CEP
        regime)."""
        delta, take, finals = transition_tables(self.compiled.sdfa)
        window = self.compiled.window
        window_type = self.compiled.window_type
        resets = self.compiled.reset_symbols()
        key_type = dict(df.dtypes)[self.key_col]
        schema = f"key {key_type}, {DETECTION_SCHEMA_SUFFIX}"
        columns = [
            "key",
            "detection_event_id",
            "detection_ts",
            "counter",
            "min_counter",
            "n_matched",
        ]
        names = ("symbol", "ts", "event_id")

        def run_vectorized(batches):
            carry = None
            for keys, cols, _, continues in key_batches(batches, names):
                rows, carry = _run_sdfa_batch_vectorized(
                    keys, *cols, delta, take, finals, resets,
                    carry=carry if continues else None,
                )
                yield pd.DataFrame(rows, columns=columns)

        def step(key, cols, seg, init):
            rows, carry = _run_sdfa_segment(
                *(c[seg] for c in cols),
                delta, take, finals, window, window_type, resets, init,
            )
            return [(key, *r) for r in rows], carry

        def run_loop(batches):
            for segs in key_segments(batches, names, None, step):
                yield pd.DataFrame(
                    [r for _, _, rows in segs for r in rows], columns=columns
                )

        # prefix-composition scan costs O(S) per event; past ~64 states
        # (large disambiguated automata) the O(1)-per-event loop wins —
        # and windows break composition entirely
        vectorized = window == 0 and delta.shape[0] <= 64
        return self.key_sorted(df).mapInPandas(
            run_vectorized if vectorized else run_loop, schema=schema
        )
