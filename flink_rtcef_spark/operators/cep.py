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
the int symbol is computed), then ``groupBy(key).applyInPandas`` runs
the int-array DFA loop per key.  At scale this is one hash shuffle on
the partition key — the same distribution Flink's keyBy performs — and
the per-group payload is a single int column, not the full event row.

Scale note: the Python loop is per-key linear and allocation-free on
numpy int arrays; state is 3 machine words per key.  Skewed keys are
the same problem Flink has; AQE skew handling does not apply inside a
group, so extremely hot keys should be pre-split upstream when the
pattern allows (documented limitation, as in the reference).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


def _run_sdfa(
    symbols: np.ndarray,
    ts: np.ndarray,
    event_ids: np.ndarray,
    delta: np.ndarray,
    take: np.ndarray,
    finals: np.ndarray,
    window: int,
    window_type: str,
    reset_symbols: frozenset = frozenset(),
) -> list[tuple[int, int, int, int, int]]:
    """The deterministic run loop.  Returns detections as
    (event_id, ts, counter, min_counter, n_matched)."""
    out: list[tuple[int, int, int, int, int]] = []
    state = 0
    min_counter = -1
    min_ts = -1
    n_matched = 0
    counter = 0
    n = len(symbols)
    i = 0
    while i < n:
        sym = symbols[i]
        counter += 1
        if sym in reset_symbols:
            # ResetEvent: clear FSM state and match, consume the event
            # without a transition (Run.scala:309-323)
            state = 0
            min_counter, min_ts, n_matched = -1, -1, 0
            i += 1
            continue
        # window check before the transition (Run.scala:221-238): span
        # counted from the first matched event; violation kills the run.
        if window > 0 and min_counter != -1:
            span = (counter - min_counter) if window_type == "count" else (ts[i] - min_ts)
            if span >= window:
                state = 0
                min_counter = -1
                min_ts = -1
                n_matched = 0
                # fall through: event is processed by the fresh run
        nxt = int(delta[state, sym])
        if take[state, sym]:
            if min_counter == -1:
                min_counter = counter
                min_ts = ts[i]
            n_matched += 1
        if finals[nxt]:
            out.append((int(event_ids[i]), int(ts[i]), counter, min_counter, n_matched))
            # full match: clear the match, keep the state
            # (Run.emitForecasts: matchedEvents.clear(), counter runs on)
            min_counter = -1
            min_ts = -1
            n_matched = 0
        state = nxt
        i += 1
    return out


def _run_sdfa_segment(
    symbols, ts, event_ids, delta, take, finals, window, window_type,
    reset_symbols, init=None,
):
    """_run_sdfa over one key segment with resumable state: ``init`` is
    (state, counter, min_counter, min_ts, n_matched) carried from the
    previous Arrow batch of the same key; returns (detections, state)."""
    out = []
    state, counter, min_counter, min_ts, n_matched = init or (0, 0, -1, -1, 0)
    n = len(symbols)
    i = 0
    while i < n:
        sym = symbols[i]
        counter += 1
        if sym in reset_symbols:
            state, min_counter, min_ts, n_matched = 0, -1, -1, 0
            i += 1
            continue
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
            min_counter, min_ts, n_matched = -1, -1, 0
        state = nxt
        i += 1
    return out, (state, counter, min_counter, min_ts, n_matched)


def _run_sdfa_batch_vectorized(
    keys, symbols, ts, event_ids, delta, take, finals_arr, reset_symbols,
    carry_key=None, carry=None,
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
    vectorized.  Returns (rows, (last_key, carry_tuple)) bit-identical
    to running _run_sdfa_segment over each key segment.
    """
    n = len(symbols)
    if n == 0:
        return [], (carry_key, carry)
    state0, counter0, minc0, mints0, nm0 = carry if carry is not None else (0, 0, -1, -1, 0)

    key_start = np.empty(n, dtype=bool)
    key_start[0] = True
    key_start[1:] = keys[1:] != keys[:-1]
    continuing = carry is not None and carry_key is not None and keys[0] == carry_key
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
    carry_out = (out_state, int(counters[-1]), out_minc, out_mints, out_nm)
    return rows, (keys[-1], carry_out)


class BatchCEP:
    """Batch Complex Event Recognition over a DataFrame; `key_sorted` is
    the one key shuffle of every per-key kernel (detections, forecasts,
    the scorer and `ModelFactory.prepare`).

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

    def symbolized(self, df: DataFrame) -> DataFrame:
        """Project to (key, ts_millis, id, symbol) — everything heavier
        stays JVM-side and the shuffle payload is minimal."""
        ts_ms = ts_millis(df, self.ts_col)
        return df.select(
            F.col(self.key_col).alias("key"),
            ts_ms.alias("ts"),
            F.col(self.id_col).alias("event_id"),
            self.compiled.symbol_column().alias("symbol"),
        )

    def key_sorted(self, df: DataFrame) -> DataFrame:
        """The one shuffle of every per-key kernel: ``symbolized(df)``
        hash-partitioned on the key, each partition sorted by (key, ts,
        event_id)."""
        return (
            self.symbolized(df)
            .repartition("key")
            .sortWithinPartitions("key", "ts", "event_id")
        )

    def detections(self, df: DataFrame, fused: bool = True) -> DataFrame:
        """(key, detection_event_id, detection_ts, counter, min_counter,
        n_matched) — one row per full match, per key.

        Default physical strategy (``fused``): hash-repartition on the
        key + sortWithinPartitions(key, ts, id) + ONE mapInPandas pass
        that walks key segments inside each Arrow batch and carries the
        open key's run state across batches.  Same shuffle as
        groupBy().applyInPandas but one Python invocation per batch
        instead of per key — the per-group overhead dominates when keys
        are many and small (the common CEP regime)."""
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

        if not fused:
            def run_group(pdf: pd.DataFrame) -> pd.DataFrame:
                pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
                rows = _run_sdfa(
                    pdf["symbol"].to_numpy(),
                    pdf["ts"].to_numpy(),
                    pdf["event_id"].to_numpy(),
                    delta, take, finals, window, window_type, resets,
                )
                key = pdf["key"].iloc[0]
                return pd.DataFrame([(key, *r) for r in rows], columns=columns)

            return (
                self.symbolized(df).groupBy("key").applyInPandas(run_group, schema=schema)
            )

        def run_partition(batches):
            # state of the key spanning a batch boundary:
            # (key, dfa_state, counter, min_counter, min_ts, n_matched)
            open_key = None
            carry = None
            # prefix-composition scan costs O(S) per event; past ~64
            # states (large disambiguated automata) the O(1)-per-event
            # loop wins — and windows break composition entirely
            vectorized = window == 0 and delta.shape[0] <= 64
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                keys = pdf["key"].to_numpy()
                syms = pdf["symbol"].to_numpy()
                tss = pdf["ts"].to_numpy()
                ids = pdf["event_id"].to_numpy()
                if vectorized:
                    rows, (open_key, carry) = _run_sdfa_batch_vectorized(
                        keys, syms, tss, ids, delta, take, finals, resets,
                        carry_key=open_key, carry=carry,
                    )
                    yield pd.DataFrame(rows, columns=columns)
                    continue
                out = []
                # walk contiguous key segments
                start = 0
                n = len(keys)
                while start < n:
                    end = start
                    k = keys[start]
                    while end < n and keys[end] == k:
                        end += 1
                    init = carry if (open_key is not None and k == open_key) else None
                    rows, carry_state = _run_sdfa_segment(
                        syms[start:end], tss[start:end], ids[start:end],
                        delta, take, finals, window, window_type, resets,
                        init,
                    )
                    out.extend((k, *r) for r in rows)
                    open_key, carry = k, carry_state
                    start = end
                yield pd.DataFrame(out, columns=columns)

        return self.key_sorted(df).mapInPandas(run_partition, schema=schema)
