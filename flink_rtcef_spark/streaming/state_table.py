"""Versioned, hash-BUCKETED state table for the foreachBatch fast paths.

The state store of the foreachBatch fast-path skeleton
(streaming/fastpath.py), whichever kernel it runs (SDFA,
multi-pattern or forecast runs there, register/NSRA runs via
streaming/fastpath_register.py).
Fixes the r4 design's key-cardinality scaling: r4 rewrote the ENTIRE
state table every microbatch — per-batch cost O(live keys), not
O(batch).  At tens of millions of live keys (vessels/sessions) every
10k-row microbatch would pay a full state read + shuffle + write,
where Flink's RocksDB state — the thing the versioned table replaces
(WayebEngine.java:102-118 keyed quintuple) — touches only the batch's
keys.

Design: LOGICAL buckets + a per-bucket MANIFEST + ADAPTIVE physical
grouping.

- every state row belongs to logical bucket ``crc32(key) % num_buckets``;
- ``meta.json`` is the manifest: for every LIVE bucket, which version
  OWNS its current rows and how many rows it holds.  A batch rewrites
  exactly the buckets its keys hash into ("touched"); untouched
  buckets carry forward by manifest reference — zero data I/O;
- version ``v{n}`` physically packs the buckets it owns into GROUP
  dirs ``data/pdir={bucket // g}`` (detections go to ``data/pdir=d``),
  where the group size ``g`` adapts to the state volume: tiny state →
  one group (ONE file per version, the r4 fast layout — a 12.5k-row
  bench microbatch must not pay 256 file opens, measured at ~0.2 s per
  batch); huge state → one dir per bucket (maximum pruning).  Each
  version records its own ``group_size``;
- a batch reads, for each touched bucket, the group dir of its OWNING
  version.  A group dir can also hold rows of co-resident buckets that
  are stale (rewritten by a newer version) or simply untouched, so
  every read is filtered to the buckets the manifest actually assigns
  to that owner — recomputing ``crc32(key) % B`` is deterministic and
  cheap in both engines.  Read amplification is bounded by the group
  target (~:data:`TARGET_GROUP_ROWS` rows per touched group), the
  knob that trades file count against pruning precision.

Per-microbatch cost is therefore O(touched-group rows): read, shuffle
and write are proportional to the state that hash-collides with this
batch's keys, never to the full live-key population.  Worst case
(batch keys uniformly spread over every bucket of a huge table)
degrades gracefully to the r4 full rewrite.

The idempotent-replay contract is unchanged: batch ``b`` reads
``v{b}``'s manifest (immutable once written), writes ``v{b+1}``'s data
and manifest; a crash-replay of batch ``b`` re-reads the same ``v{b}``
and overwrites ``v{b+1}`` (the group size is a deterministic function
of the manifest and the batch, so the layout replays too) —
exactly-once without a state store.  GC keeps any old version that
still OWNS a live bucket (pruning its no-longer-referenced group
dirs), so carried-forward buckets survive arbitrarily long idle
periods.

The manifest also records per-bucket and total row counts AT WRITE
TIME (driver route: from the pandas frame it just wrote; distributed
route: from parquet FOOTER statistics — metadata only, no data scan),
which is what lets the fast path route on STATE size, not just batch
size, and lets the watermark be recovered without re-scanning state
(r4 verdict "what's wrong" #2).

Bucket function: ``crc32(utf8(key)) % num_buckets`` — chosen because
Spark's ``crc32`` and Python's ``zlib.crc32`` are the same CRC-32
(ISO-HDLC) over the same UTF-8 bytes, so the zero-Spark-jobs driver
route and the JVM plans bucket identically without a Python UDF.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import zlib
from collections import Counter

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from pyspark.sql import Column
from pyspark.sql import functions as F

from flink_rtcef_spark.operators.cep import DET_SCHEMA, sink_columns

#: partition value holding a batch's detections (kind=0 rows)
DETS_PART = "d"


#: default LOGICAL bucket count — at ~50k rows per bucket this covers
#: ~10M live keys; raise it for larger key spaces (the manifest is
#: ~30 bytes/bucket of JSON, so 4096 buckets is fine)
DEFAULT_NUM_BUCKETS = 256

#: physical grouping target: a version packs its buckets into
#: ceil(live_rows / this) group dirs, so one touched bucket costs at
#: most ~this many extra rows of read amplification while a small
#: state table stays a SINGLE file per version
TARGET_GROUP_ROWS = 4096


def bucket_of_key(key: str, num_buckets: int) -> int:
    """Python twin of :func:`bucket_col` — MUST match it bit for bit
    (the driver route buckets in pandas, the JVM plans in Spark)."""
    return zlib.crc32(key.encode("utf-8")) % num_buckets


def bucket_col(key: Column, num_buckets: int) -> Column:
    """JVM bucket expression: crc32 of the UTF-8 key bytes, mod B."""
    return F.pmod(F.crc32(F.encode(key, "UTF-8")), F.lit(num_buckets))


def pdir_col(
    kind: Column, key: Column, num_buckets: int, group_size_: int
) -> Column:
    """Partition-dir value for an output row: detections (kind=0) land
    in ``pdir=d``, state rows (kind=1) in their bucket's GROUP dir."""
    gid = F.floor(
        bucket_col(key, num_buckets) / F.lit(group_size_)
    ).cast("int")
    return F.when(kind == 0, F.lit(DETS_PART)).otherwise(gid.cast("string"))


def group_size(num_buckets: int, est_state_rows: int) -> int:
    """Buckets per physical group for a version about to hold
    ``est_state_rows``: ceil so tiny state collapses to ONE group and
    state beyond TARGET_GROUP_ROWS * num_buckets reaches one dir per
    bucket.  Deterministic in (manifest, batch) — replay-safe."""
    groups = min(
        num_buckets, max(1, -(-est_state_rows // TARGET_GROUP_ROWS))
    )
    return -(-num_buckets // groups)


def version_path(state_dir: str, version: int) -> str:
    return os.path.join(state_dir, f"v{version}")


def data_path(state_dir: str, version: int) -> str:
    return os.path.join(version_path(state_dir, version), "data")


def part_path(state_dir: str, version: int, part: str) -> str:
    return os.path.join(data_path(state_dir, version), f"pdir={part}")


def dets_path(state_dir: str, version: int) -> str:
    return part_path(state_dir, version, DETS_PART)


def _versions(state_dir: str) -> list[int]:
    """The ids of the ``v<int>`` version dirs under ``state_dir``,
    ascending: batch versions >= 0, compaction epochs < 0; none when
    the dir does not exist."""
    if not os.path.isdir(state_dir):
        return []
    return sorted(
        int(m[1])
        for name in os.listdir(state_dir)
        if (m := re.fullmatch(r"v(-?\d+)", name))
    )


def _load_meta(state_dir: str, version: int) -> dict | None:
    """``v{version}``'s manifest as written, or None when it has none."""
    p = os.path.join(version_path(state_dir, version), "meta.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _latest_meta(state_dir: str) -> tuple[int, dict]:
    """The newest batch version with a manifest, and its manifest."""
    for v in reversed(_versions(state_dir)):
        if v < 0:
            break
        meta = _load_meta(state_dir, v)
        if meta is not None:
            return v, meta
    raise ValueError(f"no state versions under {state_dir}")


def read_meta(state_dir: str, version: int, num_buckets: int) -> dict:
    """The manifest for ``version`` (written by the previous batch), or
    — for version 0 only — the empty-state default.  ``buckets`` maps
    bucket id (str — JSON keys) -> [owner_version, row_count];
    ``group_size`` is the physical grouping of the buckets THIS version
    wrote.

    A MISSING manifest for version > 0 is an error, never an empty
    default: the manifest is the bucket-ownership map, so treating a
    lost/unflushed meta.json (or a mistyped state_dir on restart) as
    "no state" would silently drop every carried run and permanently
    orphan the prior versions.  Only batch 0 legitimately starts
    without one."""
    meta = _load_meta(state_dir, version)
    if meta is not None:
        if "num_buckets" not in meta:
            # a manifest written by the pre-bucketed layout (watermark
            # only, data in one flat dir) — "restart with the original
            # num_buckets" would be advice that cannot be followed, so
            # fail honestly with the actual situation and the options
            p = os.path.join(version_path(state_dir, version), "meta.json")
            raise ValueError(
                f"state manifest {p} has no bucket-ownership map — it was "
                f"written by the pre-bucketed state layout; this runtime "
                f"cannot resume it in place.  Either drain the old stream "
                f"to completion on the old runtime, or start over with a "
                f"fresh state_dir (offline: compact_state cannot migrate "
                f"it because the old layout carries no bucket counts)"
            )
        if meta["num_buckets"] != num_buckets:
            raise ValueError(
                f"state table at {state_dir} was built with "
                f"num_buckets={meta['num_buckets']}, but this run asks "
                f"for {num_buckets}; the bucket function pins the layout — "
                f"restart with the original value or use a fresh state_dir"
            )
        return meta
    if version > 0:
        raise ValueError(
            f"state manifest v{version}/meta.json is missing under "
            f"{state_dir} while the stream's checkpoint says batch "
            f"{version} should resume from it — the state dir was lost, "
            f"truncated, or does not match this checkpoint; refusing to "
            f"continue with empty state (that would silently drop every "
            f"carried run)"
        )
    return {
        "watermark_ms": None,
        "num_buckets": num_buckets,
        "group_size": 1,
        "buckets": {},
        "state_rows": 0,
    }


def write_meta(state_dir: str, version: int, meta: dict) -> None:
    """Durable + atomic: the manifest is the load-bearing ownership
    map, so it is fsynced and moved into place with os.replace — a
    crash mid-write leaves either the old manifest or the new one,
    never a torn or missing file (read_meta refuses to default for
    version > 0, so 'missing' must stay impossible in normal
    operation)."""
    p = version_path(state_dir, version)
    os.makedirs(p, exist_ok=True)
    tmp = os.path.join(p, ".meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(p, "meta.json"))
    # fsync the DIRECTORY too: os.replace only orders the rename within
    # the dir's in-memory state — a power failure after the streaming
    # checkpoint commits could otherwise lose the rename itself, and
    # read_meta fail-stops on a missing manifest for version > 0
    dfd = os.open(p, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _owner_group_size(state_dir: str, version: int) -> int:
    meta = _load_meta(state_dir, version)
    return 1 if meta is None else meta.get("group_size", 1)


def touched_state_rows(meta: dict, touched: list[int]) -> int:
    """Carried rows this batch's touched buckets hold — the state-side
    routing input (r4 verdict: bound the STATE, not just the events).
    Slight underestimate of the physical read when owners grouped
    multiple buckets per dir, but the amplification is bounded by
    TARGET_GROUP_ROWS per touched group, a small constant."""
    b = meta["buckets"]
    return sum(b[str(t)][1] for t in touched if str(t) in b)


def owner_read_plan(
    meta: dict, state_dir: str, touched: list[int]
) -> list[tuple[int, int, list[int], list[str]]]:
    """How to read the touched buckets' current rows: one entry per
    distinct OWNING version — (owner, owner's group_size, the touched
    buckets it owns, the group dirs covering them).  Readers must
    filter each owner's rows to exactly those buckets (a group dir can
    hold stale rows of buckets since rewritten by a newer version, and
    rows of co-resident untouched buckets)."""
    by_owner: dict[int, list[int]] = {}
    for t in touched:
        ent = meta["buckets"].get(str(t))
        if ent and ent[1] > 0:
            by_owner.setdefault(ent[0], []).append(t)
    plans = []
    for v, wanted in sorted(by_owner.items()):
        g = _owner_group_size(state_dir, v)
        dirs = sorted({b // g for b in wanted})
        paths = [
            p
            for gid in dirs
            if os.path.isdir(p := part_path(state_dir, v, str(gid)))
        ]
        plans.append((v, g, sorted(wanted), paths))
    return plans


def next_meta(
    meta: dict,
    batch_id: int,
    touched_rows: dict[int, int],
    new_wm,
    engine_used: str,
    new_group_size: int,
    schema: str,
) -> dict:
    """Manifest for ``v{batch_id + 1}``: touched buckets re-owned by the
    new version with their fresh counts, untouched buckets carried
    forward BY REFERENCE (their entries copy over unchanged).
    ``schema`` is the kernel's written-row schema string, recorded so
    offline tools (``compact_state``) can read the table without it."""
    buckets = dict(meta["buckets"])
    for bid, rows in touched_rows.items():
        buckets[str(bid)] = [batch_id + 1, int(rows)]
    return {
        "watermark_ms": new_wm,
        "num_buckets": meta["num_buckets"],
        "group_size": int(new_group_size),
        "buckets": buckets,
        "state_rows": int(sum(v[1] for v in buckets.values())),
        "engine_used": engine_used,
        "schema": schema,
    }


def footer_stats(dir_path: str, ts_col: str = "last_ts") -> tuple[int, int | None]:
    """(row count, max ts_col) for one partition dir from parquet
    FOOTER metadata only — no data pages are read, so recovering the
    watermark and the manifest counts after a distributed write costs
    O(files), not O(state rows).  Falls back to a single-column read
    for the rare file whose writer omitted statistics."""
    rows, mx = 0, None
    if not os.path.isdir(dir_path):
        return 0, None
    for fn in sorted(os.listdir(dir_path)):
        if not fn.endswith(".parquet"):
            continue
        fp = os.path.join(dir_path, fn)
        md = pq.ParquetFile(fp).metadata
        rows += md.num_rows
        if md.num_rows == 0:
            continue
        ci = next(
            (i for i in range(md.num_columns)
             if md.schema.column(i).name == ts_col),
            None,
        )
        if ci is None:
            # a foreign/corrupt file in the state dir — name it rather
            # than letting the single-column fallback raise an opaque
            # pyarrow KeyError
            raise ValueError(
                f"parquet file {fp} has no column {ts_col!r} "
                f"(columns: {[md.schema.column(i).name for i in range(md.num_columns)]}); "
                f"the state dir holds a file this state table did not "
                f"write — remove it or point at the right state_dir"
            )
        file_mx, need_fallback = None, False
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(ci).statistics
            if st is None or not st.has_min_max:
                need_fallback = True
                break
            if st.max is not None:
                file_mx = st.max if file_mx is None else max(file_mx, st.max)
        if need_fallback:
            col = pq.read_table(fp, columns=[ts_col])[ts_col]
            vals = [v for v in col.to_pylist() if v is not None]
            file_mx = max(vals) if vals else None
        if file_mx is not None:
            mx = file_mx if mx is None else max(mx, file_mx)
    return rows, mx


def read_state_pandas(meta: dict, state_dir: str, touched: list[int]):
    """Driver route's state read: the touched buckets' current rows as
    ONE pandas frame (None when nothing is owned).  Bounded by the
    caller's routing decision — auto only lands here when
    touched_state_rows() is under the driver bound."""
    import pandas as pd

    num_buckets = meta["num_buckets"]
    frames = []
    for _v, g, wanted, paths in owner_read_plan(meta, state_dir, touched):
        files = [
            os.path.join(p, fn)
            for p in paths
            for fn in sorted(os.listdir(p))
            if fn.endswith(".parquet")
        ]
        if not files:
            continue
        pdf = pads.dataset(files, format="parquet").to_table().to_pandas()
        if g > 1:
            # drop co-resident rows of buckets this owner does not
            # (or no longer) own for this read
            want = set(wanted)
            keep = [
                bucket_of_key(k, num_buckets) in want for k in pdf["key"]
            ]
            pdf = pdf[keep]
        if len(pdf):
            frames.append(pdf)
    if not frames:
        return None
    return pd.concat(frames, ignore_index=True)


def read_state_spark(
    spark, meta: dict, state_dir: str, touched: list[int], schema: str
):
    """Distributed route's state read: one filtered source per owning
    version, unioned — group-dir pruning via the manifest, row
    filtering to the owner's buckets JVM-side (no Python)."""
    num_buckets = meta["num_buckets"]
    dfs = []
    for _v, g, wanted, paths in owner_read_plan(meta, state_dir, touched):
        if not paths:
            continue
        df = spark.read.schema(schema).parquet(*paths)
        if g > 1:
            df = df.filter(
                bucket_col(F.col("key"), num_buckets).isin(wanted)
            )
        dfs.append(df)
    if not dfs:
        return None
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def detections_view(
    spark, state_dir: str, batch_id: int, out_schema: str,
    sink_schema: str = DET_SCHEMA,
):
    """Lazy view over the written batch's output rows (the ``pdir=d``
    dir of ``v{batch_id + 1}``) in the ``sink_schema`` columns — the
    batch operators' output projection (operators/cep.sink_columns);
    an empty frame when the batch emitted nothing (no dir is written
    then)."""
    p = dets_path(state_dir, batch_id + 1)
    if not os.path.isdir(p):
        return spark.createDataFrame([], sink_schema)
    return (
        spark.read.schema(out_schema).parquet(p)
        .filter(F.col("kind") == 0)
        .select(*sink_columns(sink_schema))
    )


def split_group_counts(
    state_dir: str, version: int, touched: list[int], group_size_: int
) -> tuple[dict[int, int], int | None]:
    """Manifest counts + max carried last_ts for a freshly written
    version, from parquet FOOTER stats of its group dirs — metadata
    only, no state re-scan.  Per-bucket counts are the group total
    split across its touched buckets (exact when group_size == 1,
    proportional otherwise) — they only feed the routing threshold and
    the group sizing, where bounded error is harmless.  The split can
    never assign 0 to a bucket that holds rows: every touched bucket
    has >= 1 post-filter key and the kernel emits exactly one carry-out
    per key, so group rows >= member count and the divmod base is >= 1
    (a 0 entry would lose state — readers skip rows == 0;
    compact_state, where TTL CAN empty arbitrary buckets, counts
    exactly instead)."""
    touched_rows, max_lt = {t: 0 for t in touched}, None
    for gid in sorted({t // group_size_ for t in touched}):
        rows, mx = footer_stats(part_path(state_dir, version, str(gid)))
        members = [t for t in touched if t // group_size_ == gid]
        base, rem = divmod(rows, len(members))
        for i, t in enumerate(members):
            touched_rows[t] = base + (1 if i < rem else 0)
        if mx is not None:
            max_lt = mx if max_lt is None else max(max_lt, mx)
    return touched_rows, max_lt


def touched_buckets_of(keys, num_buckets: int) -> list[int]:
    """Distinct buckets of a pandas key column (driver route's twin of
    the JVM distinct-bucket aggregate)."""
    return sorted({bucket_of_key(k, num_buckets) for k in keys})


def write_driver_output(
    out,
    touched: list[int],
    meta: dict,
    pa_schema: pa.Schema,
    state_dir: str,
    batch_id: int,
) -> tuple[dict[int, int], int | None, int]:
    """Driver-route tail, after the fused kernel produced ``out`` (a
    pandas frame in the kernel's output schema): bucket each kind=1 row
    by its key and write ``v{batch_id+1}`` with ONE pyarrow
    ``write_dataset`` call, hive-partitioned on the GROUP dir — all
    touched groups plus the detections dir in a single pass, no Spark
    job.  Returns the manifest inputs (per-touched-bucket state row
    counts, max carried last_ts, group size used) — known here without
    any read-back because the writer has the frame in hand."""
    num_buckets = meta["num_buckets"]
    is_state = out["kind"] == 1
    bucket_ids = [
        bucket_of_key(k, num_buckets) if s else 0
        for k, s in zip(out["key"], is_state)
    ]
    n_new = int(is_state.sum())
    g = group_size(
        num_buckets,
        meta["state_rows"] - touched_state_rows(meta, touched) + n_new,
    )
    pdir = [
        str(b // g) if s else DETS_PART for b, s in zip(bucket_ids, is_state)
    ]
    vdir = version_path(state_dir, batch_id + 1)
    shutil.rmtree(vdir, ignore_errors=True)
    os.makedirs(vdir, exist_ok=True)
    tbl = pa.Table.from_pandas(
        out.assign(pdir=pdir)[["pdir", *pa_schema.names]],
        schema=pa_schema.insert(0, pa.field("pdir", pa.string())),
        preserve_index=False,
    )
    if tbl.num_rows:
        pads.write_dataset(
            tbl,
            data_path(state_dir, batch_id + 1),
            format="parquet",
            partitioning=pads.partitioning(
                pa.schema([("pdir", pa.string())]), flavor="hive"
            ),
        )
    touched_rows = {t: 0 for t in touched} | Counter(
        b for b, s in zip(bucket_ids, is_state) if s
    )
    lts = out.loc[is_state, "last_ts"]
    return touched_rows, (int(lts.max()) if len(lts) else None), g


def write_distributed_output(
    out,
    meta: dict,
    touched: list[int],
    events_total: int,
    state_dir: str,
    batch_id: int,
) -> tuple[dict[int, int], int | None, int]:
    """Distributed-route tail: size the next version's group layout
    from a deterministic upper bound on its live rows (each batch key
    adds at most one state row — replay-safe; an overestimate only
    splits groups finer), cluster each group dir
    into ~4 tasks before the partitioned write (without the crc32 salt
    every task writes a sliver of every group — tasks x groups tiny
    files; with ONE task per group a detection-heavy pdir=d would
    serialize), write ``v{batch_id+1}``, and recover the manifest
    counts + watermark from parquet FOOTER statistics (metadata only,
    never a state re-scan)."""
    num_buckets = meta["num_buckets"]
    est_next = max(
        1,
        meta["state_rows"] - touched_state_rows(meta, touched)
        + events_total,
    )
    g_new = group_size(num_buckets, est_next)
    out = out.withColumn(
        "pdir", pdir_col(F.col("kind"), F.col("key"), num_buckets, g_new)
    ).repartition(
        F.col("pdir"),
        F.pmod(F.crc32(F.encode(F.col("key"), "UTF-8")), F.lit(4)),
    )
    out.write.mode("overwrite").partitionBy("pdir").parquet(
        data_path(state_dir, batch_id + 1)
    )
    touched_rows, max_lt = split_group_counts(
        state_dir, batch_id + 1, touched, g_new
    )
    return touched_rows, max_lt, g_new


def compact_state(
    spark,
    state_dir: str,
    schema: str | None = None,
    state_ttl_ms: int = 0,
    watermark_ms: int | None = None,
) -> dict:
    """OFFLINE maintenance: rewrite every live bucket into one fresh
    epoch — dropping TTL-expired rows from disk (normal operation
    expires them lazily, at read time, which is semantically identical
    but leaves the bytes parked) and re-clustering the physical layout
    to the current state volume (e.g. many per-bucket dirs left by a
    distributed phase collapse back toward few files once the live set
    shrinks).

    Run ONLY while the stream is stopped: the manifest of the LATEST
    version is rewritten in place to re-point every bucket at the
    compacted epoch, which is safe exactly when no in-flight batch can
    replay into it.  Compaction epochs use NEGATIVE version ids, which
    batch versions (monotonically increasing non-negative ids) never
    collide with; GC treats them like any other owner — kept while
    referenced, pruned after.  Re-running compaction is safe (it reads
    whatever the manifest currently points at and writes the next
    epoch).  ``schema`` is the kernel's written-row schema string; by
    default it is read from the manifest, where every fast-path kernel
    (SDFA, register, multi-pattern, forecast) records it.  A manifest
    written before kernels recorded it needs it passed: the ``.out.sql``
    of the kernel's spec (``fastpath._OUT_SCHEMA``,
    ``fastpath_register._OUT_SCHEMA``, ``multi_cep._MultiSpec`` or
    ``forecast._ForecastSpec``).

    Returns {"epoch", "rows_before", "rows_after"}.

    This is the "state table is a normal columnar table" payoff: the
    sweep is a plain read-filter-write DataFrame job, not a state-store
    internal."""
    latest, meta = _latest_meta(state_dir)
    schema = schema or meta.get("schema")
    if schema is None:
        raise ValueError(
            f"state manifest of {state_dir} records no row schema (it was "
            f"written before kernels recorded one); pass compact_state's "
            f"schema argument: the .out.sql of the kernel's spec"
        )
    num_buckets = meta["num_buckets"]
    stored_wm = meta["watermark_ms"]
    if (
        watermark_ms is not None
        and stored_wm is not None
        and watermark_ms < stored_wm
    ):
        # a regressed watermark on resume would re-admit late events and
        # shift TTL expiry — the monotonicity the fast path's
        # finish_batch guards must hold through compaction too
        raise ValueError(
            f"compact_state watermark override {watermark_ms} is below "
            f"the stored watermark {stored_wm} for {state_dir}; the "
            f"watermark is monotone — pass a value >= the stored one "
            f"(or None to keep it)"
        )
    wm = stored_wm if watermark_ms is None else watermark_ms
    touched = sorted(int(b) for b in meta["buckets"])
    rows_before = meta["state_rows"]

    epoch = min([0, *_versions(state_dir)]) - 1
    df = read_state_spark(spark, meta, state_dir, touched, schema)
    g = group_size(num_buckets, max(1, rows_before))
    touched_rows: dict[int, int] = {}
    if df is not None:
        if state_ttl_ms > 0 and wm is not None:
            df = df.filter(
                ~(F.lit(int(wm)) > F.col("last_ts") + F.lit(state_ttl_ms))
            )
        gid = F.floor(
            bucket_col(F.col("key"), num_buckets) / F.lit(g)
        ).cast("int").cast("string")
        (
            df.withColumn("pdir", gid)
            .repartition(F.col("pdir"))
            .write.mode("overwrite").partitionBy("pdir")
            .parquet(data_path(state_dir, epoch))
        )
        # EXACT per-bucket counts (one extra aggregate — compaction is
        # offline).  The batch routes' proportional group split is safe
        # there only because every touched bucket emits >= 1 carry-out;
        # here TTL can empty arbitrary buckets, and a manifest entry of
        # 0 rows for a bucket that still holds rows would lose state
        # (readers skip rows == 0).
        counts = df.groupBy(
            bucket_col(F.col("key"), num_buckets).alias("b")
        ).count().collect()
        touched_rows = {int(r["b"]): int(r["count"]) for r in counts}
    # the epoch's own meta carries its group layout for owner lookups
    write_meta(state_dir, epoch, {
        "watermark_ms": wm,
        "num_buckets": num_buckets,
        "group_size": g,
        "buckets": {},
        "state_rows": 0,
        "engine_used": "compact",
        "schema": schema,
    })
    # re-point EVERY live bucket at the epoch; the latest version's own
    # group_size field stays (it describes that version's now-orphaned
    # dirs until GC removes them)
    new_meta = {
        "watermark_ms": wm,
        "num_buckets": num_buckets,
        "group_size": meta.get("group_size", 1),
        "buckets": {
            str(t): [epoch, int(r)] for t, r in touched_rows.items() if r > 0
        },
        "engine_used": meta.get("engine_used", "compact"),
        "schema": schema,
    }
    new_meta["state_rows"] = int(
        sum(r for _o, r in new_meta["buckets"].values())
    )
    write_meta(state_dir, latest, new_meta)
    return {
        "epoch": epoch,
        "rows_before": rows_before,
        "rows_after": new_meta["state_rows"],
    }


def state_table_stats(state_dir: str) -> dict:
    """Operational inspection without touching a single data page:
    the latest manifest's logical view (live buckets, rows, owners,
    watermark) plus the physical footprint on disk (versions, files,
    bytes).  The ratio bytes / state_rows rising over time is the
    signal that a TTL sweep (:func:`compact_state`) would pay off."""
    latest, meta = _latest_meta(state_dir)
    owners: dict[int, int] = {}
    for _bid, (owner, _rows) in meta["buckets"].items():
        owners[owner] = owners.get(owner, 0) + 1
    n_versions, n_files, n_bytes = 0, 0, 0
    for v in _versions(state_dir):
        vdir = version_path(state_dir, v)
        if not os.path.isdir(vdir):
            continue
        n_versions += 1
        for root, _dirs, files in os.walk(vdir):
            for fn in files:
                if fn.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(root, fn))
    return {
        "latest_version": latest,
        "watermark_ms": meta["watermark_ms"],
        "num_buckets": meta["num_buckets"],
        "state_rows": meta["state_rows"],
        "live_buckets": len(meta["buckets"]),
        "buckets_per_owner": dict(sorted(owners.items())),
        "engine_last_batch": meta.get("engine_used"),
        "versions_on_disk": n_versions,
        "parquet_files": n_files,
        "parquet_bytes": n_bytes,
    }


def gc_versions(state_dir: str, batch_id: int, keep_versions: int) -> None:
    """Prune old versions WITHOUT breaking the manifest's carry-forward
    references: versions newer than ``batch_id - keep_versions`` stay
    whole (replay window, as in r4); older versions lose their
    detections dir and any group dir no live manifest still points
    at, and disappear entirely once they own nothing."""
    low = batch_id - keep_versions + 1
    referenced: set[tuple[int, int]] = set()  # (owner, bucket)
    for v in range(max(0, low), batch_id + 2):
        m = _load_meta(state_dir, v)
        if m is None:
            continue
        for bid, (owner, _rows) in m.get("buckets", {}).items():
            referenced.add((owner, int(bid)))
    for v in _versions(state_dir):
        if v >= max(0, low):
            continue
        vdir = version_path(state_dir, v)
        ddir = data_path(state_dir, v)
        shutil.rmtree(
            os.path.join(ddir, f"pdir={DETS_PART}"), ignore_errors=True
        )
        g = _owner_group_size(state_dir, v)
        live_gids = {
            bid // g for (owner, bid) in referenced if owner == v
        }
        owns_live = False
        if os.path.isdir(ddir):
            for sub in os.listdir(ddir):
                if not sub.startswith("pdir="):
                    continue
                part = sub.split("=", 1)[1]
                try:
                    gid = int(part)
                except ValueError:
                    shutil.rmtree(os.path.join(ddir, sub), ignore_errors=True)
                    continue
                if gid in live_gids:
                    owns_live = True
                else:
                    shutil.rmtree(os.path.join(ddir, sub), ignore_errors=True)
        if not owns_live:
            shutil.rmtree(vdir, ignore_errors=True)
