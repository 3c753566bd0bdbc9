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
(key, ts, id, symbol), not the full event row.

One kernel spec per pattern kind (``_KernelSpec``): this module's
``_SdfaSpec``, and the multi-pattern, register and forecast specs
next to their kernels.  Every batch operator is ``run_spec`` of its
spec — the key shuffle, one mapInPandas over the key walk, one output
projection — and the streaming fast path (streaming/fastpath.py) runs
the same specs, so batch and streaming cannot diverge per kernel.
The Markov-chain counts and the HMM trace read their states from the
SDFA kernel (``sdfa_states``), so the RESET rule lives in the kernel.

Scale note: the Python loop is per-key linear and allocation-free on
numpy int arrays; state is 3 machine words per key.  Skewed keys are
the same problem Flink has; AQE skew handling does not apply inside a
group, so extremely hot keys should be pre-split upstream when the
pattern allows (documented limitation, as in the reference).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame
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
    reset_symbols, init=None, trace=None,
):
    """The deterministic run loop over one key segment, with resumable
    state: ``init`` is (state, counter, min_counter, min_ts, n_matched)
    carried from the previous Arrow batch of the same key.  Returns the
    detections as (event_id, ts, counter, min_counter, n_matched) and
    the carry.  ``trace``, an int array as long as the segment, if
    given, receives each event's state after it."""
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
            if trace is not None:
                trace[i] = 0
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
        if trace is not None:
            trace[i] = state
        i += 1
    return out, (state, counter, min_counter, min_ts, n_matched)


def _run_sdfa_batch_vectorized(
    keys, symbols, ts, event_ids, delta, take, finals_arr, reset_symbols,
    carry=None, trace=None,
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
    segment; ``carry_out`` is the last key's state.  ``trace``, as in
    ``_run_sdfa_segment``, receives each event's state.
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
    if trace is not None:
        trace[:] = states

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

#: the event id that stands for a NULL id between the symbol projection
#: (``key_sorted``, the fast path's ``_symbolize``) and the output
#: projection (``sink_columns``), which maps it back to NULL.  An int64
#: column holding a NULL reaches pandas as float64, which rounds every
#: id above 2**53 in its Arrow batch; Long.MIN_VALUE also sorts where
#: Spark's ascending sort puts a NULL.  An event whose id IS
#: Long.MIN_VALUE reads back as NULL.
NULL_ID = -(1 << 63)


def non_null_id(event_id: Column) -> Column:
    """``event_id`` with ``NULL_ID`` in place of NULL."""
    return F.coalesce(event_id, F.lit(NULL_ID))


def null_id(event_id: Column) -> Column:
    """The inverse of ``non_null_id``: ``NULL_ID`` read back as NULL."""
    return F.when(event_id != F.lit(NULL_ID), event_id)


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
    sorted by (key, ts, event_id), a NULL event id read as
    ``NULL_ID``."""
    return (
        sym_df.withColumn("event_id", non_null_id(F.col("event_id")))
        .repartition("key")
        .sortWithinPartitions(*KEY_ORDER)
    )


_NO_KEY = object()  # no open key yet (None is a key: the NULL key)


def key_batches(batches, names):
    """The one key walk of every per-key kernel, over the pandas Arrow
    batches of one ``key_sorted`` partition.  Yields, per non-empty
    batch: the key column, the ``names`` columns (numpy, by name), the
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
        yield keys, {c: pdf[c].to_numpy() for c in names}, bounds, continues
        open_key = keys[-1]


def key_segments(batches, names, fresh, step):
    """``key_batches`` with one call per key segment:
    ``step(cols, seg, init) -> (out, carry)`` runs the rows ``seg`` (a
    slice of ``cols``), ``init`` being the previous batch's carry when
    the key continues it and ``fresh`` when the key starts.  Yields,
    per non-empty batch, the list of (key, continues, out)."""
    carry = None
    for keys, cols, bounds, continues in key_batches(batches, names):
        segs = []
        for start, end in zip(bounds[:-1], bounds[1:]):
            cont = continues and start == 0
            out, carry = step(cols, slice(start, end), carry if cont else fresh)
            segs.append((keys[start], cont, out))
        yield segs


# ------------------------------------------------------------ kernel specs

_ARROW_TYPES = {
    "int": pa.int32(), "long": pa.int64(), "string": pa.string(),
    "binary": pa.binary(), "double": pa.float64(), "boolean": pa.bool_(),
    "array<long>": pa.list_(pa.int64()),
}

#: the output columns of the SDFA and register kernels
DET_SCHEMA = (
    "key string, detection_event_id long, detection_ts long, counter long, "
    "min_counter long, n_matched int"
)
#: output columns read from a differently named kernel column
_SINK_SOURCES = {"detection_event_id": "event_id", "detection_ts": "ts"}


def sink_columns(sink_schema: str) -> list:
    """The output projection of every kernel, batch or streaming: the
    columns of ``sink_schema``, each read from the kernel's column of
    the same name (``detection_event_id``/``detection_ts`` from
    ``event_id``/``ts``), with ``NULL_ID`` read back as NULL."""
    cols = []
    for name in (f.split()[0] for f in sink_schema.split(", ")):
        source = _SINK_SOURCES.get(name, name)
        col = F.col(source)
        if source == "event_id":
            col = null_id(col)
        elif source == "matched_event_ids":
            col = F.transform(col, null_id)
        cols.append(col.alias(name))
    return cols


class _OutSchema(NamedTuple):
    """A kernel's written rows, built by :func:`_out_schema`: the Spark
    schema string, the Arrow schema, the column list and the per-column
    Spark types; the carried-state columns (a kind=1 row's fields
    after ``key``, ending in ``last_ts``) as a list and as a schema
    string; the output fields a kind=0 row fills after ``key``; and the
    sink's schema string."""

    sql: str
    arrow: pa.Schema
    columns: list[str]
    types: dict[str, str]
    carried: list[str]
    state: str
    row: list[str]
    sink: str


def _out_schema(
    row_fields: list[tuple[str, str]],
    state_fields: list[tuple[str, str]],
    sink: str = DET_SCHEMA,
) -> _OutSchema:
    """The written rows of a kernel whose output rows are
    ``(0, key, *row_fields)`` and whose state rows are ``(1, key, ...,
    *state_fields, last_ts)`` — ``last_ts`` is the TTL and watermark
    clock.  A field in both lists is ONE column, so the state fields
    must continue the row fields' tail (the SDFA's counter,
    min_counter and n_matched are both).  ``sink`` is the schema of the
    kernel's output, whose columns ``sink_columns`` reads from the
    written ones."""
    fields = [("kind", "int"), ("key", "string"), *row_fields]
    fields += [f for f in state_fields if f not in row_fields]
    fields.append(("last_ts", "long"))
    carried = fields[-1 - len(state_fields):]
    if carried[:-1] != list(state_fields):
        raise ValueError(f"state fields {state_fields} must end the row fields")
    return _OutSchema(
        ", ".join(f"{n} {t}" for n, t in fields),
        pa.schema([(n, _ARROW_TYPES[t]) for n, t in fields]),
        [n for n, _ in fields],
        dict(fields),
        [n for n, _ in carried],
        ", ".join(f"{n} {t}" for n, t in carried),
        [n for n, _ in row_fields],
        sink,
    )


# a detection row of the SDFA and register kernels
_DET_FIELDS = [
    ("event_id", "long"), ("ts", "long"), ("counter", "long"),
    ("min_counter", "long"), ("n_matched", "int"),
]


class _KernelSpec:
    """One per-key kernel, run alike by the batch operators
    (``run_spec``) and the streaming fast path
    (streaming/fastpath._make_partition_runner).  A spec supplies:

    - ``out``, its :func:`_out_schema`: the row fields it emits after
      ``key``, the state fields it carries and the output columns;
    - ``key``, the default key column, and ``patterns``, its compiled
      patterns;
    - ``event_cols`` (key, ts, event_id, then its own columns) and the
      JVM ``columns()`` that compute its own columns from an event row;
    - ``step(cols, seg, carry) -> (rows, carry)``, the kernel over the
      rows ``seg`` of one key (``cols`` by name; ``carry`` None when
      the key starts), each row the row fields as a tuple — or, for a
      columnar kernel, one dict of row-field arrays;
    - ``load(*state fields) -> carry`` and ``dump(carry) -> state
      fields`` between a carry and the fast path's state row;
    - ``jvm_fold``: whether the fast path has a pure-JVM fold of it
      (the SDFA); ``vectorized``: whether ``scan(keys, cols, carry) ->
      (rows, carry)`` runs a whole Arrow batch, rows led by the key."""

    jvm_fold = False
    vectorized = False


class _SdfaSpec(_KernelSpec):
    """The deterministic kernel, ``_run_sdfa_segment``: the per-key
    quintuple rides the state row's typed columns.  The vectorized scan
    runs a whole batch for windowless automata of at most 64 states
    (``windowed=False`` ignores the pattern's window)."""

    out = _out_schema(
        _DET_FIELDS, [*_DET_FIELDS[2:], ("state", "int"), ("min_ts", "long")]
    )
    jvm_fold = True
    event_cols = ["key", "ts", "event_id", "symbol"]

    def __init__(self, compiled: CompiledPattern, windowed: bool = True):
        self.compiled = compiled
        self.patterns = (compiled,)
        self.key = compiled.partition_by
        self.delta, self.take, self.finals = transition_tables(compiled.sdfa)
        self.window = compiled.window if windowed else 0
        self.window_type = compiled.window_type
        self.resets = compiled.reset_symbols()
        # prefix-composition scan costs O(S) per event; past ~64 states
        # (large disambiguated automata) the O(1)-per-event loop wins —
        # and windows break composition entirely
        self.vectorized = self.window == 0 and self.delta.shape[0] <= 64

    def columns(self) -> list:
        return [self.compiled.symbol_column().alias("symbol")]

    @staticmethod
    def load(counter, min_counter, n_matched, state, min_ts):
        return int(state), int(counter), int(min_counter), int(min_ts), int(n_matched)

    def step(self, cols, seg, carry, trace=None):
        return _run_sdfa_segment(
            cols["symbol"][seg].astype(np.int64, copy=False),
            cols["ts"][seg].astype(np.int64, copy=False),
            cols["event_id"][seg].astype(np.int64, copy=False),
            self.delta, self.take, self.finals, self.window,
            self.window_type, self.resets, carry, trace,
        )

    def scan(self, keys, cols, carry, trace=None):
        return _run_sdfa_batch_vectorized(
            keys, cols["symbol"], cols["ts"], cols["event_id"], self.delta,
            self.take, self.finals, self.resets, carry, trace,
        )

    @staticmethod
    def dump(carry):
        state, counter, min_counter, min_ts, n_matched = carry
        return counter, min_counter, n_matched, state, min_ts


def key_column(spec, key_col: str | None) -> str:
    """``key_col``, else the spec's partitionBy key."""
    if not (key_col or spec.key):
        raise ValueError("no single partitionBy (none, or the patterns disagree); pass key_col")
    return key_col or spec.key


def spec_partition(spec):
    """The batch pass of a kernel spec over the pandas Arrow batches of
    one ``key_sorted`` partition: per non-empty batch, one frame of
    ``(key, *spec.out.row)`` rows.  Each key's run starts fresh and its
    carry is handed across the batches, as the fast path hands it
    across microbatches; a vectorized spec ``scan``s each batch whole."""
    names = spec.event_cols[1:]
    columns = ["key", *spec.out.row]

    def frame(segs):
        if isinstance(segs[0][2], dict):  # a columnar kernel
            return pd.concat(
                [pd.DataFrame({"key": k, **rows}, columns=columns) for k, _, rows in segs]
            )
        return pd.DataFrame(
            [(k, *r) for k, _, rows in segs for r in rows], columns=columns
        )

    def run_partition(batches):
        if spec.vectorized:
            carry = None
            for keys, cols, _, continues in key_batches(batches, names):
                rows, carry = spec.scan(keys, cols, carry if continues else None)
                yield pd.DataFrame(rows, columns=columns)
            return
        for segs in key_segments(batches, names, None, spec.step):
            yield frame(segs)

    return run_partition


def run_spec(spec, sym_df: DataFrame, key_type: str) -> DataFrame:
    """The batch run of a kernel spec over a frame with its
    ``event_cols``: the key shuffle (``key_sorted``), then ONE
    mapInPandas pass of ``spec_partition`` — one Python invocation per
    Arrow batch, not per key — and the output projection
    (``sink_columns``) to ``spec.out.sink``'s columns, the key keeping
    ``key_type``."""
    schema = ", ".join(
        [f"key {key_type}", *(f"{c} {spec.out.types[c]}" for c in spec.out.row)]
    )
    return (
        key_sorted(sym_df)
        .mapInPandas(spec_partition(spec), schema=schema)
        .select(*sink_columns(spec.out.sink))
    )


def sdfa_states(batches, compiled: CompiledPattern):
    """The SDFA kernel's state walk over the key walk of one
    ``key_sorted`` partition, windows ignored (the Markov-chain and HMM
    estimators model the automaton, not one windowed run).  Yields, per
    non-empty batch, its key column, its columns by name, each event's
    state after it, and the state it moved from — -1 for a RESET
    event, which clears the run without a transition
    (Run.scala:309-323)."""
    spec = _SdfaSpec(compiled, windowed=False)
    carry = None
    for keys, cols, bounds, continues in key_batches(batches, spec.event_cols[1:]):
        states = np.empty(len(keys), dtype=np.int32)
        entry = carry[0] if continues else 0
        if spec.vectorized:
            _, carry = spec.scan(keys, cols, carry if continues else None, states)
        else:
            for start, end in zip(bounds[:-1], bounds[1:]):
                _, carry = spec.step(
                    cols, slice(start, end),
                    carry if continues and start == 0 else None,
                    states[start:end],
                )
        prev = np.empty_like(states)
        prev[1:] = states[:-1]
        prev[bounds[:-1]] = 0
        prev[0] = entry
        prev[np.isin(cols["symbol"], list(spec.resets))] = -1
        yield keys, cols, states, prev


class KernelOperator:
    """A kernel spec run per key over a DataFrame: ``symbolized``
    projects the events to the spec's ``event_cols`` JVM-side (so the
    shuffle payload is those narrow columns, not the event row),
    ``key_sorted`` adds the one key shuffle, and ``detections`` runs the
    spec over it (``run_spec``)."""

    def __init__(self, spec, key_col: str | None, ts_col: str, id_col: str):
        self.spec = spec
        self.key_col = key_column(spec, key_col)
        self.ts_col = ts_col
        self.id_col = id_col

    def symbol_columns(self, df: DataFrame, prefix: str = "") -> list:
        """``symbolized``'s columns over ``df`` — key, ts_millis, id,
        then the spec's own — named ``prefix`` + the spec's
        ``event_cols``, for a projection that keeps ``df``'s own
        columns next to them."""
        own = zip(self.spec.columns(), self.spec.event_cols[3:])
        return [
            F.col(self.key_col).alias(prefix + "key"),
            ts_millis(df, self.ts_col).alias(prefix + "ts"),
            F.col(self.id_col).alias(prefix + "event_id"),
            *(c.alias(prefix + name) for c, name in own),
        ]

    def symbolized(self, df: DataFrame) -> DataFrame:
        """Project to the spec's ``event_cols`` — everything heavier
        stays JVM-side and the shuffle payload is minimal."""
        return df.select(*self.symbol_columns(df))

    def key_sorted(self, df: DataFrame) -> DataFrame:
        """``key_sorted`` of ``symbolized(df)``."""
        return key_sorted(self.symbolized(df))

    def detections(self, df: DataFrame) -> DataFrame:
        """The spec's output rows over ``df``, per key."""
        return self._run(self.spec, df)

    def _run(self, spec, df: DataFrame) -> DataFrame:
        return run_spec(spec, self.symbolized(df), dict(df.dtypes)[self.key_col])


class BatchCEP(KernelOperator):
    """Batch Complex Event Recognition over a DataFrame; its
    `key_sorted` (the module's `key_sorted` of `symbolized`) is the key
    shuffle of detections, forecasts, the scorer and
    `ModelFactory.prepare`.  ``detections`` gives (key,
    detection_event_id, detection_ts, counter, min_counter, n_matched),
    one row per full match, per key.

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
        super().__init__(_SdfaSpec(compiled), key_col, ts_col, id_col)
        self.compiled = compiled
