"""Streaming CEP: foreachBatch + state-as-DataFrame, for every kernel.

The reference runs every kernel through one keyed process function
(WayebEngine.processElement, WayebEngine.java:225-316).  Here one
``foreachBatch`` skeleton (:func:`_make_foreach_batch`) plays that
role for all four kernel specs, the same spec objects the batch
operators run (``run_spec``): the SDFA (operators/cep.py
``_SdfaSpec``), the register automaton (operators/cep_register.py
``_RegisterSpec``, started from streaming/fastpath_register.py), all
patterns of a multi-pattern set at once (operators/multi_cep.py
``_MultiSpec``) and recognition plus forecasting
(operators/forecast.py ``_ForecastSpec``).  Each microbatch advances
ALL of its keys in one pass over the batch operators' key walk
(operators/cep.py ``key_batches``) and carries run state as a
co-partitioned DataFrame.  A per-key stateful operator instead pays
per-group Arrow round trips and a state-store commit on every
microbatch (measured ~9x slower on bench.py's sf0.1 replay), which no
kernel optimization can recover.

Flink parity.  The reference engine's run state is the per-key
quintuple (state, counter, min_counter, min_ts, n_matched) inside a
KeyedProcessFunction (WayebEngine.java:102-118); Flink snapshots it on
the checkpoint interval and recovers by rewinding the Kafka source.
Here a key's state row lives in a versioned, hash-BUCKETED parquet
table (streaming/state_table.py): batch ``b`` reads only the buckets
its keys hash into, advances them in one fused pass, and writes those
buckets into ``v{b+1}``; untouched buckets carry forward by manifest
reference.  Idempotent under Spark's microbatch replay (a re-run of
batch ``b`` re-reads the same ``v{b}`` manifest and overwrites
``v{b+1}``), which is exactly-once without any state store.

Event-time semantics.  The watermark is max-event-ts-minus-delay
(the reference's bounded out-of-orderness, InferenceJob.java:134-137)
carried across batches in the state version's metadata; rows later
than the watermark are dropped JVM-side, and (``state_ttl_ms`` > 0)
runs whose last event is more than ttl behind the watermark are
expired by a filter before the kernel sees them (ERFEngine.scala:
213-216 run expiry, on the event clock).  Expired rows in UNTOUCHED
buckets are dropped lazily — at the next read of their bucket — which
is observationally identical (they could never reach a kernel
un-filtered) but means TTL bounds the LIVE state a batch processes,
not the bytes parked on disk; a periodic compaction (read + rewrite
every bucket) reclaims disk if that matters.

Scale design.  Per microbatch: ONE hash shuffle of (events ∪
touched-bucket state) on the key, a within-partition sort, one
Arrow-batched Python pass (or a pure-JVM fold), and a parquet write
of O(touched-bucket rows).  NOTHING is proportional to the live-key
population: a 10k-row batch against 10M carried keys reads and
rewrites only the buckets its keys collide with.  Size
``num_buckets`` so a typical batch touches a fraction of them; the
uniform-random-keys worst case degrades gracefully to the full
rewrite.  At production scale the state table is a normal columnar
table — re-clustering, TTL sweeps, and inspection are plain DataFrame
operations rather than state-store internals.

A kernel spec (the protocol of operators/cep.py ``_KernelSpec``)
supplies its written rows (``out``), its event columns and the JVM
columns that symbolize a stream into them, and ``load``/``step``/
``dump`` around its segment kernel; the SDFA also has a pure-JVM fold
(``jvm_fold``, :class:`_SqlFold`).  The protocol contract every route
of every kernel keeps:

- routes, picked per batch from the data alone: ``driver`` advances
  the batch on the driver with zero Spark jobs, taken when a bounded
  ``limit(bounded.DRIVER_MAX_ROWS + 1)`` probe of the batch AND the
  manifest's counts of its touched buckets' carried state (no scan,
  at most ``bounded.DRIVER_MAX_STATE_ROWS``) fit; otherwise the batch
  runs distributed, on ``sql`` (the JVM fold) for the SDFA and on
  ``arrow`` (the fused mapInPandas kernel) for the other kernels.  All
  routes speak the same versioned-bucketed-state protocol, so the
  route can flip per batch with no state migration; each version's
  manifest records the route that wrote it (``engine_used``).
- rows with a NULL key are dropped before any route runs: a keyed run
  over a null key is undefined — the reference's keyBy raises on null
  keys (InferenceJob.java keyBy(mmsi)) — and per-engine null handling
  would otherwise diverge (pandas groupby vs JVM groupBy null groups).
- Spark actions per microbatch: the driver route runs NONE beyond the
  routing collect that doubles as the batch read; the distributed
  routes run the probe, one tiny per-bucket count
  aggregate (touched buckets + group sizing), on the arrow route one
  count that materializes the passive/active split, and the write of
  the kernel's rows (kind 0 = output row, kind 1 = one state row per
  live key) into ``v{batch_id+1}`` (layout and footer-statistics
  recovery: streaming/state_table.py).
- a carried key with no events in the batch writes its state row back
  unchanged: verbatim on the driver route (the key walk passes it
  through) and the arrow route (the passive/active split keeps it out
  of the kernel); the sql fold re-emits it from its pseudo-event.
- no int64 column passes through float64: a NULL event id is read as
  operators/cep.NULL_ID (``_symbolize``) and back as NULL by the sink
  view, each side of the (state ∪ event) union fills the other's
  integer columns with typed zeros, and the kernel's output frame
  keeps Python ints, so event ids above 2**53 survive every route.
- ``sink(df, batch_id)``, if given, receives a LAZY view over the
  batch's written output rows in the spec's sink columns (a no-op sink
  pays nothing): ``state_table.DET_SCHEMA`` for the SDFA and register
  kernels, :data:`MULTI_OUTPUT_SCHEMA` and
  :data:`FORECAST_OUTPUT_SCHEMA` for the other two.  Old versions are
  GC'd after ``keep_versions`` batches EXCEPT bucket dirs a live
  manifest still references; a sink that wants a durable history must
  write it onward, idempotently per ``batch_id`` (a replayed batch
  re-delivers its rows) — the standard foreachBatch delivery contract.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from flink_rtcef_spark.operators.cep import (
    _SdfaSpec,
    key_batches,
    key_column,
    non_null_id,
    ts_millis,
)
from flink_rtcef_spark.operators.forecast import FORECAST_OUTPUT_SCHEMA, _ForecastSpec
from flink_rtcef_spark.operators.multi_cep import MULTI_OUTPUT_SCHEMA, _MultiSpec
from flink_rtcef_spark.plans.compiler import CompiledPattern
from flink_rtcef_spark.streaming import bounded
from flink_rtcef_spark.streaming import state_table as stt

# long-form union of events and carried state; state rows sort before
# any real event of their key (ts = _STATE_TS)
_STATE_TS = -(1 << 62)

_NUMPY_TYPES = {
    "int": np.int32, "long": np.int64, "double": np.float64,
    "boolean": np.bool_,
}
# Spark's simple-string names of the integer types (DataFrame.dtypes)
_SPARK_INTS = {"tinyint", "smallint", "int", "bigint", "long"}

_OUT_SCHEMA = _SdfaSpec.out.sql


def _make_partition_runner(spec):
    """The one key walk of every route: a fused pass over a partition
    of (state ∪ event) rows sorted by (key, ts, event_id), on the batch
    kernels' key walk (operators/cep.key_batches), a key's carry handed
    on across Arrow batches.  A key's leading state row (ts = _STATE_TS
    sorts it first) is its carry-in; the kernel ``load``s it only when
    the key has events, and a key with none writes its row back
    verbatim, byte for byte — at 1M uniform live keys almost every
    carried key rides through here with no event.  The key's carry-out
    is emitted as a kind=1 row when the key closes.  A kind=0 row is
    ``(0, key, *row)`` for each row ``step`` returns, padded to the
    written columns.

    The output frame is built with object columns: inferring dtypes
    from rows that mix ints and None would turn event ids into
    float64 and corrupt every id above 2**53."""
    out_cols = spec.out.columns
    state_cols = spec.out.carried[:-1]
    lead = (None,) * (len(out_cols) - len(state_cols) - 3)
    pad = (None,) * (len(out_cols) - 2 - len(spec.out.row))
    # column-at-a-time numpy views: a per-key pdf.iloc[...] row access
    # costs ~50 us, which at 100k carried keys per partition dominated
    # the whole batch (measured 7 s/batch pre-fix in the uniform
    # key-cardinality bench)
    names = [*spec.event_cols[1:], "is_state", "last_ts", *state_cols]

    def run_partition(batches):
        out: list[tuple] = []
        key = None
        raw = None            # the key's carried state values, unloaded
        carry = None          # the kernel's carry once the key has events
        active = False
        last_ts = -1

        def close_key():
            if key is not None:
                vals = spec.dump(carry) if active else raw
                out.append((1, key, *lead, *vals, last_ts))

        for keys, cols, bounds, continues in key_batches(batches, names):
            is_state = cols["is_state"]
            for start, end in zip(bounds[:-1], bounds[1:]):
                k = keys[start]
                if start > 0 or not continues:
                    close_key()
                    key, raw, carry, active, last_ts = k, None, None, False, -1
                if is_state[start]:
                    raw = tuple(cols[c][start] for c in state_cols)
                    last_ts = int(cols["last_ts"][start])
                    start += int(is_state[start:end].sum())
                if start < end:
                    if not active:
                        carry = None if raw is None else spec.load(*raw)
                        active = True
                    rows, carry = spec.step(cols, slice(start, end), carry)
                    last_ts = max(last_ts, int(cols["ts"][end - 1]))
                    if isinstance(rows, dict):  # a columnar kernel
                        rows = zip(*(rows[c].tolist() for c in spec.out.row))
                    out.extend((0, k, *row, *pad) for row in rows)
        close_key()
        yield pd.DataFrame(out, columns=out_cols, dtype=object)

    return run_partition


def _driver_batch(
    spec,
    runner,
    ev: pd.DataFrame,
    touched: list[int],
    state_dir: str,
    batch_id: int,
    meta: dict,
    state_ttl_ms: int,
) -> tuple[dict[int, int], int | None, int]:
    """Advance one SMALL microbatch — its live events ``ev``, touching
    the buckets ``touched`` — entirely on the driver: no Spark job.
    Returns :func:`stt.write_driver_output`'s manifest inputs.

    A distributed plan has a ~0.35 s floor per microbatch on this
    workload (measured: task scheduling + shuffle + commit — independent
    of row count), which caps sustained small-batch throughput.  When
    the batch AND its touched-bucket state fit in driver memory the
    same fused kernel (_make_partition_runner, identical semantics)
    runs over one pandas frame in ~10 ms, and the state buckets are
    written with one pyarrow ``write_dataset``.  The versioned-state
    protocol — read ``v{b}``'s manifest, write ``v{b+1}``'s touched
    buckets, idempotent replay — is byte-identical to the distributed
    routes', so a query can cross the routing threshold mid-stream
    (batch b driver-side, batch b+1 distributed) without any state
    migration.  This is the microbatch analogue of AQE's
    local-shuffle-reader: pick the non-distributed physical strategy
    when the stats say distribution costs more than it buys."""
    wm = meta["watermark_ms"]
    st = stt.read_state_pandas(meta, state_dir, touched)
    if st is not None and state_ttl_ms > 0 and wm is not None:
        st = st[~(int(wm) > st["last_ts"] + state_ttl_ms)]
    out = next(runner([_wide_frame(spec, ev, st)]))
    return stt.write_driver_output(
        out, touched, meta, spec.out.arrow, state_dir, batch_id
    )


def _wide_frame(spec, ev: pd.DataFrame, st) -> pd.DataFrame:
    """The driver route's (state ∪ event) frame in the kernel's input
    shape, sorted by (key, ts, event_id).  Each side fills the other's
    integer columns with typed zeros (never read: ``is_state`` tells
    the walk which side a row is on): a concat that introduced NaN
    would upcast the unified column to float64, which corrupts int64
    values above 2**53 (event ids, long register attrs).  The other
    columns take the concat's nulls, as the distributed routes'
    typed-null fills do."""
    state_cols = spec.out.carried
    types = spec.out.types
    ev = ev.assign(
        is_state=False,
        **{
            c: np.zeros(len(ev), dtype=_NUMPY_TYPES[types[c]])
            if types[c] in _NUMPY_TYPES else None
            for c in state_cols
        },
    )
    if st is not None and len(st):
        st = st[["key", *state_cols]].assign(
            ts=np.int64(_STATE_TS),
            is_state=True,
            **{
                c: np.zeros(len(st), dtype=ev[c].dtype)
                for c in spec.event_cols
                if c not in ("key", "ts")
                and pd.api.types.is_integer_dtype(ev[c].dtype)
            },
        )
        ev = pd.concat([st, ev], ignore_index=True)[list(ev.columns)]
    return ev.sort_values(
        ["key", "ts", "event_id"], kind="stable"
    ).reset_index(drop=True)


def _arrow_plan(spec, runner, events: DataFrame, carried: DataFrame | None):
    """The distributed arrow route: one hash shuffle of (events ∪
    ACTIVE carried state) on the key, a within-partition sort, and the
    key walk as one Arrow-batched pass.  Returns (output rows, the
    persisted frame the caller must unpersist after the write, or
    None).

    PASSIVE/ACTIVE split: a carried key with no events this batch
    writes back verbatim, so it never needs the shuffle+sort+Arrow+
    Python pass at all — only keys the batch actually touches ride the
    kernel.  Uniform keys over a large live population are the case
    this pays for (10k batch keys vs 1M carried rows: the kernel sees
    1% of the state); the batch-key side is a distinct over the batch,
    small enough that AQE broadcasts it.  ONE state scan (r8 ADVICE):
    an anti- plus a semi-join would read the touched buckets' parquet
    twice, so left-join a hit flag instead and persist the flagged
    frame — the split becomes two cache filters, and the count()
    materializes the cache before the write job's two consumers can
    race to recompute the scan."""

    def fill(c, t):
        # typed zeros for the other side's integer columns, as in
        # _wide_frame, else typed nulls
        return F.lit(0 if t in _SPARK_INTS else None).cast(t).alias(c)

    ev_types = dict(events.dtypes)
    state_cols = spec.out.carried
    unioned = events.select(
        *spec.event_cols,
        F.lit(False).alias("is_state"),
        *[fill(c, spec.out.types[c]) for c in state_cols],
    )
    passive = flagged = None
    if carried is not None:
        batch_keys = events.select("key").distinct().withColumn(
            "__hit", F.lit(True)
        )
        flagged = carried.join(batch_keys, "key", "left").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        flagged.count()
        passive = flagged.filter(F.col("__hit").isNull()).drop("__hit")
        active = flagged.filter(F.col("__hit").isNotNull())
        unioned = unioned.unionByName(
            active.select(
                "key",
                F.lit(_STATE_TS).alias("ts"),
                *[
                    fill(c, ev_types[c])
                    for c in spec.event_cols if c not in ("key", "ts")
                ],
                F.lit(True).alias("is_state"),
                *state_cols,
            )
        )
    out = (
        unioned.repartition("key")
        .sortWithinPartitions("key", "ts", "event_id")
        .mapInPandas(runner, schema=spec.out.sql)
    )
    if passive is not None:
        out = out.unionByName(passive)
    return out, flagged



class _SqlFold:
    """The SDFA microbatch as a 100% JVM plan with ONE shuffle
    (plans/sql_kernel.py).  Column expression trees are built ONCE
    per query (not per batch): the fold lambda alone is a multi-KB SQL
    string whose re-parse cost (~100 ms/batch, measured) would
    otherwise land on every microbatch's critical path.  Columns are
    stateless expression trees, safe to reuse across DataFrames."""

    def __init__(self, compiled: CompiledPattern):
        from flink_rtcef_spark.plans.sql_kernel import fold_column

        self.ev_x = F.struct(
            F.col("ts"), F.col("event_id"), F.col("symbol"),
            F.lit(False).alias("is_state"),
            F.lit(None).cast("int").alias("st"),
            F.lit(None).cast("long").alias("sc"),
            F.lit(None).cast("long").alias("smc"),
            F.lit(None).cast("long").alias("smts"),
            F.lit(None).cast("int").alias("snm"),
            F.lit(None).cast("long").alias("slts"),
        ).alias("x")
        self.st_x = F.struct(
            F.lit(_STATE_TS).alias("ts"),
            F.lit(0).cast("long").alias("event_id"),
            F.lit(0).cast("int").alias("symbol"),
            F.lit(True).alias("is_state"),
            F.col("state").alias("st"),
            F.col("counter").alias("sc"),
            F.col("min_counter").alias("smc"),
            F.col("min_ts").alias("smts"),
            F.col("n_matched").alias("snm"),
            F.col("last_ts").alias("slts"),
        ).alias("x")
        self.fold = fold_column(compiled).alias("r")
        self.rows = F.expr(
            "array_append("
            "  transform(r.dets, d -> named_struct("
            "    'kind', 0, 'key', key, 'event_id', d.event_id, 'ts', d.ts, "
            "    'counter', d.counter, 'min_counter', d.min_counter, "
            "    'n_matched', d.n_matched, 'state', CAST(NULL AS int), "
            "    'min_ts', CAST(NULL AS bigint), "
            "    'last_ts', CAST(NULL AS bigint))), "
            "  named_struct("
            "    'kind', 1, 'key', key, 'event_id', CAST(NULL AS bigint), "
            "    'ts', CAST(NULL AS bigint), 'counter', r.c, "
            "    'min_counter', r.mc, 'n_matched', r.nm, 'state', r.s, "
            "    'min_ts', r.mts, 'last_ts', r.lt))"
        )

    def __call__(
        self, events: DataFrame, carried: DataFrame | None
    ) -> DataFrame:
        """Carried-state rows union in as pseudo-events whose ts
        (-2^62) sorts them first within their key, so the
        aggregate-fold's is_state branch loads them as the resume
        accumulator — no state join, no second Exchange.  One explode
        emits each key's detections (kind=0) and carry-out (kind=1)
        from the same pass; state-only keys survive via their
        pseudo-event.  No Python boundary anywhere in the batch."""
        unioned = events.select("key", self.ev_x)
        if carried is not None:
            unioned = unioned.unionByName(carried.select("key", self.st_x))
        folded = (
            unioned.groupBy("key")
            .agg(F.sort_array(F.collect_list("x")).alias("evs"))
            .select("key", self.fold)
        )
        return folded.select(F.explode(self.rows).alias("o")).select("o.*")


def _route_to_driver(batch_df: DataFrame, cols: list[str], meta: dict):
    """The routing decision: collect the batch to driver pandas when
    both bounds hold, read here at call time — the batch fits
    ``bounded.DRIVER_MAX_ROWS`` (the ``limit(n+1)`` probe of
    :func:`bounded.collect_bounded`, shared with the adaptation loop)
    and the carried state its touched buckets hold fits
    ``bounded.DRIVER_MAX_STATE_ROWS`` (manifest counts — no scan).
    Returns (the batch's live events — rows later than the watermark
    dropped — as pandas, the buckets they touch), or None → the
    distributed route.

    The Arrow collect over ``.toPandas()``: same rows, same dtypes for
    these non-null columns, but it skips the row-wise conversion layer
    — measured 204 → 77 ms on a 12.5k-row microbatch probe, a fifth of
    the per-batch floor.

    Negative result (r4 verdict item 8, measured r5): skipping the
    probe via a previous-batch-size prior (plain ``toPandas`` when the
    last batch was small, lazy flip on the first oversize) saves
    ~70 ms/batch in ISOLATION (CollectLimit's incremental take), but an
    interleaved A/B over 5 full 8-batch streaming runs measured medians
    of 2.67 s (skip) vs 2.68 s (probe) — a dead heat inside the
    pipeline, where the collect overlaps other per-batch work.  The
    prior mechanism was therefore removed; the bounded probe stays as
    the simpler, oversize-safe form."""
    table = bounded.collect_bounded(
        batch_df.select(*cols), bounded.DRIVER_MAX_ROWS
    )
    if table is None:
        return None
    pdf = table.to_pandas()
    wm = meta["watermark_ms"]
    live = pdf if wm is None else pdf[pdf["ts"] >= int(wm)]
    touched = stt.touched_buckets_of(live["key"], meta["num_buckets"])
    if stt.touched_state_rows(meta, touched) > bounded.DRIVER_MAX_STATE_ROWS:
        return None
    return live, touched


def _make_foreach_batch(
    spec,
    state_dir: str,
    sink=None,
    *,
    watermark_delay_ms: int = 60_000,
    state_ttl_ms: int = 0,
    keep_versions: int = 2,
    num_buckets: int = stt.DEFAULT_NUM_BUCKETS,
):
    """The one ``foreachBatch`` body of every kernel (see the module
    docstring for the contract it keeps).  Its keyword options are the
    options of every ``make_foreach_batch_*`` and ``start_fastpath_*``.

    ``watermark_delay_ms`` is the bounded out-of-orderness (the
    reference's 60 s); ``state_ttl_ms`` > 0 expires runs idle that long
    on the event clock; the last ``keep_versions`` (>= 1) state
    versions stay whole for replay; ``num_buckets`` pins the state
    table's bucket function for the life of ``state_dir``.

    Each microbatch picks its route from the data alone (module
    docstring): the driver when the batch and the carried state its
    touched buckets hold fit the bounds of streaming/bounded.py, so a
    huge-key-space stream with tiny batches still routes DISTRIBUTED
    and the driver never materializes the state table; a distributed
    microbatch has a measured ~0.35 s job floor regardless of row
    count (see _driver_batch).  Distributed, the SDFA runs the JVM
    aggregate-fold kernel (plans/sql_kernel.py) — the whole microbatch
    is one Python-free Catalyst plan — and the other kernels, whose
    steps are Python, the fused mapInPandas kernel.  The fold holds one
    key's events of the batch in one array (docs/scale-design.md).

    Measured SDFA route crossover (sf0.1 events, local[32], warm
    medians): 8 microbatches of 12.5 k rows — driver 3.33 s, sql
    4.50 s, arrow 5.89 s; 1 microbatch of 100 k rows — sql 0.84 s,
    arrow 0.92 s; at batch scale (1 M rows, no streaming machinery) the
    fused Arrow kernel wins instead (1.15 s vs 1.45 s — aggregate()
    lambdas are interpreted, see plans/sql_kernel.py).  Hence the SDFA
    routes small→driver and large→sql: in the microbatch regime the
    SQL plan's zero Python-worker round trips dominate, and by the time
    the Arrow kernel would win the workload is a batch job."""
    if keep_versions < 1:
        # keep_versions=0 would GC v{batch_id} — the batch's OWN input
        # version — so a crash-replay of that batch would silently run
        # with no carried state, breaking the exactly-once guarantee
        raise ValueError(f"keep_versions must be >= 1, got {keep_versions}")
    if num_buckets < 1:
        raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
    runner = _make_partition_runner(spec)
    fold = _SqlFold(spec.compiled) if spec.jvm_fold else None

    def finish_batch(spark, batch_id, meta, written, engine_used) -> None:
        """Every route's tail once ``v{batch_id+1}``'s data exists:
        fold the new max carried last_ts into the watermark (monotone:
        the outer max with the previous value guards against expiry
        regressions), write the manifest, deliver the sink view, GC
        stale versions."""
        touched_rows, max_lt, g = written
        wm = meta["watermark_ms"]
        if max_lt is not None and max_lt >= 0:
            cand = max_lt - watermark_delay_ms
            wm = cand if wm is None else max(int(wm), cand)
        stt.write_meta(
            state_dir, batch_id + 1,
            stt.next_meta(
                meta, batch_id, touched_rows, wm, engine_used, g, spec.out.sql
            ),
        )
        if sink is not None:
            sink(
                stt.detections_view(
                    spark, state_dir, batch_id, spec.out.sql, spec.out.sink
                ),
                batch_id,
            )
        stt.gc_versions(state_dir, batch_id, keep_versions)

    def foreach_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.filter(F.col("key").isNotNull())
        meta = stt.read_meta(state_dir, batch_id, num_buckets)
        wm = meta["watermark_ms"]

        routed = _route_to_driver(batch_df, spec.event_cols, meta)
        if routed is not None:
            written = _driver_batch(
                spec, runner, *routed, state_dir, batch_id, meta,
                state_ttl_ms,
            )
            finish_batch(spark, batch_id, meta, written, "driver")
            return

        events = batch_df.select(*spec.event_cols)
        if wm is not None:
            # rows later than the watermark are dropped, as in the
            # reference's bounded out-of-orderness
            # (InferenceJob.java:134-137)
            events = events.filter(F.col("ts") >= F.lit(int(wm)))

        # which buckets does this batch touch, and how many live rows?
        # One tiny aggregate — the result is bounded by num_buckets
        # rows — that buys reading/rewriting ONLY those buckets' state
        # below, and the counts size the next version's group layout.
        per_bucket = events.groupBy(
            stt.bucket_col(F.col("key"), num_buckets).alias("b")
        ).count().collect()
        touched = sorted(r["b"] for r in per_bucket)
        events_total = sum(r["count"] for r in per_bucket)

        carried = stt.read_state_spark(
            spark, meta, state_dir, touched, spec.out.sql
        )
        if carried is not None and state_ttl_ms > 0 and wm is not None:
            # run expiry on the event clock (ERFEngine.scala:213-216):
            # a run whose last event is > ttl behind the watermark is
            # dead before this batch's rows are processed
            carried = carried.filter(
                ~(F.lit(int(wm)) > F.col("last_ts") + F.lit(state_ttl_ms))
            )
        flagged = None
        try:
            if fold is not None:
                out = fold(events, carried)
            else:
                out, flagged = _arrow_plan(spec, runner, events, carried)
            # group sizing, salted partitioned write, footer-stat
            # manifest recovery: the distributed tail (stt)
            written = stt.write_distributed_output(
                out, meta, touched, events_total, state_dir, batch_id
            )
        finally:
            if flagged is not None:
                flagged.unpersist()
        finish_batch(
            spark, batch_id, meta, written,
            "sql" if fold is not None else "arrow",
        )

    return foreach_batch


def _symbolize(
    stream_df: DataFrame,
    spec,
    key_col: str | None = None,
    ts_col: str = "timestamp",
    id_col: str = "id",
) -> DataFrame:
    """The stream as ``spec.event_cols``: (key string, ts millis,
    event_id, *spec.columns()).  Symbolization stays a JVM column
    (identical to the batch operators), so foreachBatch receives only
    narrow columns; a NULL event id is read as ``NULL_ID``, as in
    ``key_sorted``, and the sink view reads it back as NULL.  A
    TIMESTAMP or TIMESTAMP_NTZ ``ts_col`` reads as in BatchCEP
    (``ts_millis``); a numeric one as epoch seconds — unless a pattern
    has a time window, which raises: BatchCEP reads a numeric ts as
    epoch millis, so the two would span windows 1000x apart."""
    key = key_column(spec, key_col)
    dtype = dict(stream_df.dtypes).get(ts_col)
    if dtype in ("timestamp", "timestamp_ntz"):
        ts = ts_millis(stream_df, ts_col)
    elif any(p.window > 0 and p.window_type == "time" for p in spec.patterns):
        raise ValueError(
            f"ts column {ts_col!r} is {dtype}, which the fast path reads as "
            "epoch seconds and BatchCEP as epoch millis, so a time window "
            f"would differ between them: cast {ts_col!r} to TIMESTAMP"
        )
    else:
        ts = F.unix_millis(F.timestamp_seconds(F.col(ts_col)))
    return stream_df.select(
        F.col(key).cast("string").alias("key"),
        ts.alias("ts"),
        non_null_id(F.col(id_col)).alias("event_id"),
        *spec.columns(),
    )


def _start(
    spec,
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    sink=None,
    key_col: str | None = None,
    ts_col: str = "timestamp",
    id_col: str = "id",
    trigger: dict | None = None,
    **options,
):
    """Symbolize ``stream_df`` for ``spec`` and start the skeleton as its
    foreachBatch sink (``trigger`` defaults to availableNow).  Returns
    the StreamingQuery."""
    fb = _make_foreach_batch(spec, state_dir, sink, **options)
    writer = (
        _symbolize(stream_df, spec, key_col, ts_col, id_col)
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    return writer.trigger(**(trigger or {"availableNow": True})).start()


def make_foreach_batch_detections(
    compiled: CompiledPattern, state_dir: str, sink=None, **options
):
    """Build the ``foreachBatch`` function of an SDFA pattern over a
    stream symbolized by :func:`symbolize_stream`.  ``options`` are the
    skeleton's (``_make_foreach_batch``): watermark_delay_ms,
    state_ttl_ms, keep_versions and num_buckets; the route (driver or
    sql) is picked per batch from the data."""
    return _make_foreach_batch(_SdfaSpec(compiled), state_dir, sink, **options)


def symbolize_stream(
    stream_df: DataFrame,
    compiled: CompiledPattern,
    key_col: str | None = None,
    ts_col: str = "timestamp",
    id_col: str = "id",
) -> DataFrame:
    """Streaming-side projection to (key, ts millis, event_id, symbol):
    symbolization stays a JVM CASE column (identical to BatchCEP), so
    foreachBatch receives 4 narrow columns."""
    return _symbolize(stream_df, _SdfaSpec(compiled), key_col, ts_col, id_col)


def start_fastpath_detections(
    stream_df: DataFrame,
    compiled: CompiledPattern,
    state_dir: str,
    checkpoint_dir: str,
    sink=None,
    key_col: str | None = None,
    ts_col: str = "timestamp",
    id_col: str = "id",
    trigger: dict | None = None,
    **options,
):
    """Wire the SDFA fast path end-to-end and start it: ``sink(df,
    batch_id)`` gets each batch's detections (``state_table.DET_SCHEMA``
    columns); ``options`` and routes as in
    :func:`make_foreach_batch_detections`.  Returns the StreamingQuery."""
    return _start(
        _SdfaSpec(compiled), stream_df, state_dir, checkpoint_dir, sink,
        key_col, ts_col, id_col, trigger, **options,
    )


def start_fastpath_multi(
    stream_df: DataFrame,
    compiled_list,
    state_dir: str,
    checkpoint_dir: str,
    sink=None,
    key_col: str | None = None,
    ts_col: str = "timestamp",
    id_col: str = "id",
    trigger: dict | None = None,
    **options,
):
    """Start the multi-pattern fast path: the stream shuffles ONCE on
    the shared key and one pass advances every pattern of
    ``compiled_list`` (plans/compiler.compile_patterns); ``sink`` gets
    each batch's detections tagged with ``pattern_id``
    (:data:`MULTI_OUTPUT_SCHEMA`).  Routes driver or arrow, picked per
    batch from the data; ``options`` as in :func:`make_foreach_batch_detections`."""
    return _start(
        _MultiSpec(compiled_list), stream_df, state_dir, checkpoint_dir,
        sink, key_col, ts_col, id_col, trigger, **options,
    )


def start_fastpath_forecasts(
    stream_df: DataFrame,
    spst,
    state_dir: str,
    checkpoint_dir: str,
    sink=None,
    key_col: str | None = None,
    ts_col: str = "timestamp",
    id_col: str = "id",
    method: str = "classify_nextk",
    confidence_threshold: float = 0.5,
    spread: int = 5,
    trigger: dict | None = None,
    **options,
):
    """Start streaming recognition + forecasting with ``spst``:
    ``sink`` gets each batch's detections and forecasts in one frame,
    split by ``is_detection`` (:data:`FORECAST_OUTPUT_SCHEMA`, the rows
    of ForecastCEP.forecasts).  Routes driver or arrow, picked per
    batch from the data; ``options`` as in :func:`make_foreach_batch_detections`."""
    return _start(
        _ForecastSpec(spst, method, confidence_threshold, spread), stream_df,
        state_dir, checkpoint_dir, sink, key_col, ts_col, id_col, trigger,
        **options,
    )
