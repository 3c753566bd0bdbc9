"""Hot-key pre-split for the CEP operator.

The per-key SDFA run serializes inside its group — the same wall Flink's
keyBy hits (reference ERFEngine.scala:199-221: one event-at-a-time engine
per key).  When one key carries a disproportionate share of the stream
(one vessel, one user), that key's runtime bounds the job.  This module
shards a key's timeline into fixed time ranges so ONE key spreads over
many tasks, and restores exactness with a warm-up replay plus a
per-shard soundness certificate:

- every event belongs to its *home* shard ``floor(ts / shard_span)`` and
  is additionally replicated into the NEXT shard when it falls within
  ``warmup`` of the boundary (duplication factor 1 + warmup/shard_span);
- each (key, shard) group replays its warm-up prefix from the DFA start
  state, then emits only detections with ``ts`` inside its own range;
- soundness per shard: a DFA transition on symbol *a* is a state map
  M_a: S -> S; composing the warm-up's maps from ALL |S| states at once
  (a length-S gather per event) tells us whether the replayed state is
  independent of the unknown true state at the shard boundary.  If the
  composed map collapses to a constant, the replay is *state-exact* from
  that point.  A ResetEvent in the warm-up (maritime gap events,
  Run.scala:309-323) is the strongest certificate: state AND match
  accounting reset, so the suffix is exact unconditionally — windowed
  patterns included.  The key's first shard is exact by construction.
- match accounting (min_counter / n_matched) is epoch-scoped (cleared at
  detections/resets, operators/cep.py:131-133), so it is exact when an
  epoch boundary (reset, or any detection after the state-convergence
  point) falls inside the warm-up; otherwise a detection's event/ts are
  still exact but its accounting may reach before the warm-up.

Absolute ``counter`` values (per-key event ordinals, Run.scala counter
semantics) are restored by a per-(key, home-shard) count aggregate whose
running sum gives each shard its replay-start offset — tiny data, one
extra shuffle of (keys x shards) rows.

Exactness summary per shard (window == 0):
  first-shard OR reset-in-warmup        -> fully exact
  composed map constant at some point c -> detections (event, ts) exact;
                                           accounting exact if any
                                           detection lands in [c, warm-end)
Windowed patterns (window kills rewind state based on accounting the
replay cannot see): only first-shard / reset-in-warmup certify, which is
precisely the maritime regime — gap ResetEvents are frequent.

``strict=True`` fails the job if any shard lacks a STATE certificate
(detection identity would be unprovable); the ``exact`` boolean on every
output row additionally records whether the match *accounting* is
certified, so downstream can quarantine partially-certified shards
(at 100 TB: re-run just those keys through the unsharded path).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from flink_rtcef_spark.operators.cep import (
    DETECTION_SCHEMA_SUFFIX,
    NULL_ID,
    BatchCEP,
    _run_sdfa_batch_vectorized,
    _run_sdfa_segment,
    non_null_id,
    null_id,
)
from flink_rtcef_spark.plans.compiler import CompiledPattern, transition_tables


def presplit_detections(
    df: DataFrame,
    compiled: CompiledPattern,
    shard_span: int,
    warmup: int,
    key_col: str | None = None,
    ts_col: str = "timestamp",
    id_col: str = "id",
    strict: bool = False,
    with_certificates: bool = False,
) -> DataFrame:
    """BatchCEP.detections with hot keys sharded by time range.

    ``shard_span`` / ``warmup`` are in the symbolized ts unit (millis
    for timestamp columns, the raw value for numeric ts columns).
    Output adds ``exact boolean`` to the detection schema.

    ``with_certificates=True`` additionally emits one marker row per
    (key, shard) with ``is_cert=true`` and null detection fields,
    carrying that shard's ``state_exact``/``exact`` status — a shard
    that certifies badly but emits no detections is invisible in the
    detection rows alone (it may be *missing* detections), so any
    fallback routing must read the certificate rows, not the flags on
    detections (see presplit_detections_certified).
    """
    if warmup <= 0 or shard_span <= 0:
        raise ValueError("shard_span and warmup must be positive")
    if warmup > shard_span:
        raise ValueError(
            "warmup must be <= shard_span (replay only reaches one shard back)"
        )
    cep = BatchCEP(compiled, key_col=key_col, ts_col=ts_col, id_col=id_col)
    # a NULL id would reach pandas as float64 and round its neighbours
    # above 2**53: the kernel sees NULL_ID, the output reads it back
    sym = cep.symbolized(df).withColumn(
        "event_id", non_null_id(F.col("event_id"))
    )

    span = F.lit(int(shard_span))
    home = F.floor(F.col("ts") / span).cast("long")
    sym = sym.withColumn("home", home).withColumn(
        "is_tail", F.col("ts") >= (F.col("home") + 1) * span - F.lit(int(warmup))
    )

    # per-(key, home) counts -> replay-start counter offset per shard:
    # offset(k) = events in homes < k  minus  the warm-up rows replayed
    # (the tail of home k-1, only if that home exists)
    per_shard = sym.groupBy("key", "home").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("is_tail").cast("long")).alias("tail_cnt"),
    )
    wk = W.partitionBy("key").orderBy("home")
    offsets = per_shard.select(
        "key",
        F.col("home").alias("shard"),
        (
            F.coalesce(
                F.sum("cnt").over(wk.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
            )
            - F.when(
                F.lag("home").over(wk) == F.col("home") - 1,
                F.lag("tail_cnt").over(wk),
            ).otherwise(F.lit(0))
        ).alias("offset"),
        (F.row_number().over(wk) == 1).alias("is_first"),
    )

    # one scan: tail rows explode into (home, home+1), others stay home
    sharded = sym.select(
        "key", "ts", "event_id", "symbol", "home",
        F.explode(
            F.when(
                F.col("is_tail"),
                F.array(F.col("home"), F.col("home") + 1),
            ).otherwise(F.array(F.col("home")))
        ).alias("shard"),
    ).withColumn("warm", F.col("shard") != F.col("home")).drop("home")

    delta, take, finals = transition_tables(compiled.sdfa)
    n_states = delta.shape[0]
    window = compiled.window
    window_type = compiled.window_type
    resets = compiled.reset_symbols()
    key_type = dict(df.dtypes)[cep.key_col]
    schema = f"key {key_type}, shard long, {DETECTION_SCHEMA_SUFFIX}, exact boolean"
    columns = [
        "key", "shard", "detection_event_id", "detection_ts", "counter",
        "min_counter", "n_matched", "exact",
    ]
    if with_certificates:
        schema += ", state_exact boolean, is_cert boolean"
        columns += ["state_exact", "is_cert"]

    def segment_cert(is_first, syms, n_warm):
        """(reset_seen, conv_idx) soundness certificate over the
        warm-up prefix of one segment."""
        reset_seen = False
        conv_idx = -1  # first index after which the state map is constant
        if is_first:
            conv_idx = 0
        elif window > 0:
            # only a reset certifies windowed patterns — vectorized scan
            reset_seen = bool(
                np.isin(syms[:n_warm], list(resets)).any() if resets else False
            )
        else:
            vec = np.arange(n_states)
            for j in range(n_warm):
                s = syms[j]
                if s in resets:
                    vec[:] = 0
                    reset_seen = True
                else:
                    vec = delta[vec, s]
                if (vec == vec[0]).all():
                    conv_idx = j + 1  # exact from event j on
                    break  # constant maps stay constant under composition
        return reset_seen, conv_idx

    def finalize_segment(key, shard, is_first, syms, tss, n_warm, rows):
        """Certificate + emit-range filter for one segment whose kernel
        detections (already counter-offset-adjusted) are ``rows``."""
        reset_seen, conv_idx = segment_cert(is_first, syms, n_warm)
        shard_start = shard * int(shard_span)
        state_exact = (
            is_first
            or reset_seen
            or (window == 0 and conv_idx != -1)
        )
        if is_first or reset_seen:
            accounting_exact = state_exact
        elif state_exact:
            # an epoch boundary (any detection) after the convergence
            # point and before the emit range re-anchors the accounting
            conv_ts = tss[conv_idx - 1] if conv_idx > 0 else tss[0]
            accounting_exact = any(
                r[1] < shard_start and r[1] >= conv_ts for r in rows
            )
        else:
            accounting_exact = False
        exact = bool(state_exact and accounting_exact)

        if strict and not state_exact:
            raise ValueError(
                f"presplit shard (key={key!r}, shard={shard}) has no exactness "
                f"certificate: no reset in warm-up and the {n_warm}-event "
                "warm-up did not collapse the state map (or the pattern is "
                "windowed). Widen warmup/shard_span or run this key unsharded."
            )

        if with_certificates:
            out = [
                (key, shard, *r, exact, state_exact, False)
                for r in rows
                if r[1] >= shard_start
            ]
            out.append(
                (key, shard, NULL_ID, None, None, None, None, exact, state_exact, True)
            )
        else:
            out = [
                (key, shard, *r, exact) for r in rows if r[1] >= shard_start
            ]
        return out

    use_batched_kernel = window == 0 and n_states <= 64

    def run_segment(key, shard, offset, is_first, syms, tss, ids, n_warm):
        """One (key, shard) segment -> list of output tuples.  Rows
        arrive already sorted by (ts, event_id) — the partition sort
        established the order, so no per-group pandas sort."""
        init = (0, offset, -1, -1, 0)
        if use_batched_kernel:
            # same O(n·S·log n) prefix-composition fast path as the
            # unsharded kernel — the shard is one key segment
            kconst = np.zeros(len(syms), dtype=np.int8)
            krows, _ = _run_sdfa_batch_vectorized(
                kconst, syms, tss, ids, delta, take, finals, resets, carry=init,
            )
            rows = [r[1:] for r in krows]
        else:
            rows, _ = _run_sdfa_segment(
                syms, tss, ids, delta, take, finals, window, window_type,
                resets, init=init,
            )
        return finalize_segment(key, shard, is_first, syms, tss, n_warm, rows)

    def run_segments_batched(
        keys_a, shards_a, syms_a, tss_a, ids_a, warm_a, starts, ends,
        seg_offsets, seg_firsts,
    ):
        """All segments named by (starts, ends) through ONE vectorized
        kernel call, then per-segment certificate/finalize.  Per
        segment the kernel counts from 1 with a fresh start state —
        exactly what a per-segment call with carry (0, offset, ...)
        computes except the uniform counter shift, which is re-added
        per detection (counter never influences state or detections
        when window == 0, the only regime this path serves).  Rows not
        covered by any (start, end) span (dropped warm-only segments)
        are masked out of the kernel input."""
        n = len(keys_a)
        keep = np.zeros(n, dtype=bool)
        seg_of = np.zeros(n, dtype=np.int64)
        for si, (s, e) in enumerate(zip(starts, ends)):
            keep[s:e] = True
            seg_of[s] = 1
        sel = np.flatnonzero(keep)
        seg_ids = np.cumsum(seg_of[sel]) - 1
        krows, _ = _run_sdfa_batch_vectorized(
            seg_ids, syms_a[sel], tss_a[sel], ids_a[sel],
            delta, take, finals, resets,
        )
        per_seg: dict[int, list] = {}
        for kr in krows:
            per_seg.setdefault(int(kr[0]), []).append(kr[1:])
        out = []
        for si in range(len(starts)):
            s, e = int(starts[si]), int(ends[si])
            offset = int(seg_offsets[si])
            rows = [
                (rid, rts, cnt + offset,
                 (mc + offset) if mc != -1 else -1, nm)
                for (rid, rts, cnt, mc, nm) in per_seg.get(si, ())
            ]
            out.extend(
                finalize_segment(
                    keys_a[s], int(shards_a[s]), bool(seg_firsts[si]),
                    syms_a[s:e], tss_a[s:e], int(warm_a[s:e].sum()), rows,
                )
            )
        return out

    def run_bucket(events: pd.DataFrame, offs: pd.DataFrame) -> pd.DataFrame:
        # Fused segment walk (r9, guide §4.1): one pandas co-group per
        # hash BUCKET of (key, shard) segments — the segment walk plus
        # an in-memory lookup of each segment's (offset, is_first) from
        # the co-grouped offsets rows.  Two independent wins over the
        # shapes this replaces:
        #
        # - vs per-(key, shard) applyInPandas: ~6.5 ms of pandas group
        #   machinery per segment (49 CPU-s over 7.5k groups at sf0.1 —
        #   the overhead WAS the operator) becomes once per bucket, and
        #   the windowless regime feeds every segment of a bucket
        #   through ONE vectorized kernel call.
        # - vs joining offsets onto the events: the join either SMJs
        #   (Exchange + full Sort of the event side ON TOP of the
        #   bucket exchange) or — when AQE converts it to broadcast —
        #   local-reads the orphaned exchange and silently splits
        #   (key, shard) groups across partitions (observed: a shard
        #   losing its whole warm-up prefix).  The cogroup ships the
        #   tiny offsets frame to the same buckets instead: the event
        #   side is shuffled exactly once, and co-location is an API
        #   contract, not a plan shape.
        #
        # A (key, shard) present in events but absent from offsets is a
        # warm-only shard (no home events -> nothing to emit): skipped,
        # same as the former inner join.
        if len(events) == 0 or len(offs) == 0:
            return pd.DataFrame({c: [] for c in columns})
        omap = {
            (k, int(s)): (int(o), bool(fi))
            for k, s, o, fi in zip(
                offs["okey"].to_numpy(), offs["oshard"].to_numpy(),
                offs["offset"].to_numpy(), offs["is_first"].to_numpy(),
            )
        }
        # Segment order across the bucket is irrelevant (segments are
        # independent); only (key, shard) contiguity and the in-segment
        # (ts, event_id) order matter.  Factorized key codes keep the
        # whole sort numeric — a pandas sort_values with the object
        # key column leading costs per-row PyObject comparisons (the
        # 5M-row hot-key fixture measured 4.5x slower that way).
        kcodes, _ = pd.factorize(events["key"], sort=False)
        order = np.lexsort(
            (
                events["event_id"].to_numpy(),
                events["ts"].to_numpy(),
                events["shard"].to_numpy(),
                kcodes,
            )
        )
        keys_a = events["key"].to_numpy()[order]
        shards_a = events["shard"].to_numpy()[order]
        syms_a = events["symbol"].to_numpy()[order]
        tss_a = events["ts"].to_numpy()[order]
        ids_a = events["event_id"].to_numpy()[order]
        warm_a = events["warm"].to_numpy()[order]
        n = len(keys_a)
        kc = kcodes[order]
        change = np.empty(n, dtype=bool)
        change[0] = True
        change[1:] = (kc[1:] != kc[:-1]) | (shards_a[1:] != shards_a[:-1])
        all_starts = np.flatnonzero(change)
        all_ends = np.append(all_starts[1:], n)
        starts, ends, seg_offsets, seg_firsts = [], [], [], []
        for s, e in zip(all_starts, all_ends):
            hit = omap.get((keys_a[s], int(shards_a[s])))
            if hit is None:
                continue  # warm-only shard: nothing to emit
            starts.append(int(s))
            ends.append(int(e))
            seg_offsets.append(hit[0])
            seg_firsts.append(hit[1])
        if not starts:
            return pd.DataFrame({c: [] for c in columns})
        if use_batched_kernel:
            out = run_segments_batched(
                keys_a, shards_a, syms_a, tss_a, ids_a, warm_a,
                starts, ends, seg_offsets, seg_firsts,
            )
        else:
            out = []
            for si in range(len(starts)):
                s, e = starts[si], ends[si]
                out.extend(
                    run_segment(
                        keys_a[s], int(shards_a[s]),
                        seg_offsets[si], seg_firsts[si],
                        syms_a[s:e], tss_a[s:e], ids_a[s:e],
                        int(warm_a[s:e].sum()),
                    )
                )
        return pd.DataFrame(out, columns=columns)

    # Scale-adaptive bucket count: 4x the session's shuffle/parallelism
    # setting.  The oversampling matters twice: (a) buckets land in
    # partitions by a second hash, and with n_buckets == n_partitions
    # the balls-into-bins skew leaves cores idle while a 2-3-bucket
    # task drags; (b) the kernel cost is CPU per row, not bytes, so
    # AQE's byte-targeted coalescing would serialize fat segments —
    # the explicit repartition(N) on the event side pins the exchange
    # (REPARTITION_BY_NUM is not coalescible) without touching session
    # conf.  The hot-key fixture measured 12.6 s with size-coalesced
    # buckets; the thin-group regime pays only ~n_buckets task
    # launches.
    try:
        n_buckets = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n_buckets = df.sparkSession.sparkContext.defaultParallelism
    n_buckets = max(
        4 * n_buckets, 4 * df.sparkSession.sparkContext.defaultParallelism
    )
    bucket_of = F.pmod(F.xxhash64("key", "shard"), F.lit(int(n_buckets)))
    ev_b = (
        sharded.withColumn("_bucket", bucket_of)
        .repartition(n_buckets, "_bucket")
        .groupBy("_bucket")
    )
    # fresh column names on the offsets side: both frames descend from
    # the same symbolized plan, and cogroup's attribute deduplication
    # silently drops a right-side column whose attribute id also
    # appears on the left (observed: the right pdf arriving without
    # its key column)
    off_b = (
        offsets.withColumn("_bucket", bucket_of)
        .select(
            F.col("key").alias("okey"), F.col("shard").alias("oshard"),
            "offset", "is_first", "_bucket",
        )
        .groupBy("_bucket")
    )
    return ev_b.cogroup(off_b).applyInPandas(
        lambda ev, of: run_bucket(ev, of), schema=schema
    ).withColumn("detection_event_id", null_id(F.col("detection_event_id")))


def _windowed_uncertified_keys(
    sym: DataFrame, shard_span: int, warmup: int, resets: frozenset
) -> DataFrame:
    """Keys owning a shard a windowed pattern cannot certify — decided
    WITHOUT running any kernel.  For windowed patterns the certificate
    is purely syntactic (first shard, or a ResetEvent among the warm-up
    replay rows = the previous home's tail), so it reduces to one
    JVM-side aggregate over the symbolized frame: per (key, home),
    does the tail carry a reset; shard k certifies iff k is the key's
    first shard or home k-1 is contiguous and tail-reset-bearing.
    Match accounting also resets at the same event, so state and
    accounting certificates coincide — 'full' and 'state' routing are
    identical in the windowed regime."""
    span = F.lit(int(shard_span))
    s = sym.withColumn("home", F.floor(F.col("ts") / span).cast("long")).withColumn(
        "is_tail", F.col("ts") >= (F.col("home") + 1) * span - F.lit(int(warmup))
    )
    reset_pred = (
        F.col("symbol").isin([int(x) for x in resets]) if resets else F.lit(False)
    )
    per = s.groupBy("key", "home").agg(
        F.max(F.when(F.col("is_tail") & reset_pred, True).otherwise(False)).alias(
            "tail_reset"
        )
    )
    wk = W.partitionBy("key").orderBy("home")
    cert = (F.row_number().over(wk) == 1) | (
        (F.lag("home").over(wk) == F.col("home") - 1)
        & F.lag("tail_reset").over(wk)
    )
    return per.withColumn("cert", cert).filter(~F.col("cert")).select("key").distinct()


def presplit_detections_certified(
    df: DataFrame,
    compiled: CompiledPattern,
    shard_span: int,
    warmup: int,
    key_col: str | None = None,
    ts_col: str = "timestamp",
    id_col: str = "id",
    require: str = "full",
) -> DataFrame:
    """Exact-by-construction hot-key pre-split: shard every key, then
    route any key owning an uncertified shard back through the unsharded
    kernel.  Output is the plain BatchCEP detection schema — no flags,
    every row exact.

    ``require='full'`` falls back whenever a shard cannot certify match
    accounting; ``require='state'`` falls back only when detection
    identity itself is unprovable — the right trigger when downstream
    consumes (key, event, ts) and not min_counter/n_matched.

    Scale shape, windowed patterns: the certificate is syntactic
    (reset-in-warm-up only), so the router decides it with one JVM-side
    aggregate BEFORE any kernel runs — every key's events then pass
    through exactly ONE kernel (sharded if certified, serial if not),
    never both.  The former probe-then-requarantine shape paid the
    sharded Python pass on keys that were then re-run serially anyway.

    Scale shape, windowless patterns: certification needs the warm-up
    state-map composition (a kernel-side scan), so the sharded pass
    runs once and is persisted (it feeds both the good-rows filter and
    the bad-key set); the bad-key set is an aggregate of certificate
    rows — tiny, so both the anti-join and the fallback's semi-join
    broadcast.  Fallback cost is one extra scan restricted to the
    uncertified keys, which is the point: the dense hot keys shard
    cleanly, and only sparse keys (cheap anyway) take the serial path."""
    if require not in ("full", "state"):
        raise ValueError(f"require must be 'full'|'state', got {require!r}")
    flag = "exact" if require == "full" else "state_exact"
    cep = BatchCEP(compiled, key_col=key_col, ts_col=ts_col, id_col=id_col)
    det_cols_ = [
        "key", "detection_event_id", "detection_ts", "counter",
        "min_counter", "n_matched",
    ]
    if compiled.window > 0:
        # lazy localCheckpoint, not persist: computed once and shared by
        # the anti/semi branches, but never reused across invocations
        # via CacheManager plan dedup (a leaked persist made repeated
        # runs skip the certification aggregate entirely)
        bad_keys = _windowed_uncertified_keys(
            cep.symbolized(df), shard_span, warmup, compiled.reset_symbols()
        ).localCheckpoint(eager=False)
        bk = F.broadcast(bad_keys.withColumnRenamed("key", cep.key_col))
        good = presplit_detections(
            df.join(bk, cep.key_col, "left_anti"), compiled, shard_span,
            warmup, key_col=key_col, ts_col=ts_col, id_col=id_col,
        ).select(*det_cols_)
        fallback = cep.detections(df.join(bk, cep.key_col, "left_semi")).select(
            *det_cols_
        )
        return good.unionByName(fallback)
    # lazy localCheckpoint for the same reason as above: the sharded
    # kernel output feeds the good-rows filter and the bad-key
    # aggregate once per invocation, with no cross-invocation reuse
    raw = presplit_detections(
        df, compiled, shard_span, warmup, key_col=key_col, ts_col=ts_col,
        id_col=id_col, strict=False, with_certificates=True,
    ).localCheckpoint(eager=False)
    bad_keys = (
        raw.filter(F.col("is_cert") & ~F.col(flag)).select("key").distinct()
    )
    det_cols = [
        "key", "detection_event_id", "detection_ts", "counter",
        "min_counter", "n_matched",
    ]
    good = (
        raw.filter(~F.col("is_cert"))
        .join(F.broadcast(bad_keys), "key", "left_anti")
        .select(*det_cols)
    )
    bad_events = df.join(
        F.broadcast(bad_keys.withColumnRenamed("key", cep.key_col)),
        cep.key_col,
        "left_semi",
    )
    fallback = cep.detections(bad_events).select(*det_cols)
    return good.unionByName(fallback)
