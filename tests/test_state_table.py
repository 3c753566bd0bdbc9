"""Versioned bucketed state-table protocol (streaming/state_table.py).

The fast paths' correctness rides on this module's invariants, so they
get direct gates independent of any streaming run:

- bucket function parity: Spark crc32 == zlib.crc32 (the driver route
  and the JVM plans MUST bucket identically)
- adaptive group sizing: one file at tiny state, one dir per bucket at
  huge state, deterministic (replay-safe)
- manifest carry-forward: next_meta transfers ownership of exactly the
  touched buckets and preserves totals
- owner_read_plan: group-dir pruning + per-owner wanted sets
- footer stats: counts and max-ts from metadata only
- GC: referenced group dirs survive any age; unreferenced ones go
"""

from __future__ import annotations

import json
import os
import zlib

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from flink_rtcef_spark.streaming import state_table as stt

PA_SCHEMA = pa.schema(
    [("kind", pa.int32()), ("key", pa.string()), ("last_ts", pa.int64())]
)


def test_bucket_parity_spark_vs_python(spark):
    keys = ["", "k1", "vessel-9", "None", "日本丸", "a" * 300, "\t x "]
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    got = {
        r["key"]: r["b"]
        for r in df.select(
            "key", stt.bucket_col(F.col("key"), 257).alias("b")
        ).collect()
    }
    want = {k: zlib.crc32(k.encode("utf-8")) % 257 for k in keys}
    assert got == want


def test_group_size_adapts_and_is_deterministic():
    B = 256
    # tiny state: ONE group (g == B)
    assert stt.group_size(B, 0) == B
    assert stt.group_size(B, 4096) == B
    # huge state: one dir per bucket
    assert stt.group_size(B, 4096 * B) == 1
    assert stt.group_size(B, 10**9) == 1
    # middle: ceil division both ways, deterministic
    g = stt.group_size(B, 100_000)   # ~25 groups
    assert 1 < g < B
    assert stt.group_size(B, 100_000) == g
    # every bucket maps into [0, ceil(B/g))
    assert {b // g for b in range(B)} == set(range(-(-B // g)))


def test_next_meta_transfers_only_touched_and_preserves_totals():
    meta = {
        "watermark_ms": 5,
        "num_buckets": 8,
        "group_size": 8,
        "buckets": {"1": [3, 10], "2": [5, 20], "7": [5, 5]},
        "state_rows": 35,
    }
    nxt = stt.next_meta(meta, 9, {2: 25, 4: 7}, 6, "driver", 4, "key string, ts long")
    assert nxt["buckets"]["1"] == [3, 10]       # untouched: by reference
    assert nxt["buckets"]["2"] == [10, 25]      # touched: re-owned by v10
    assert nxt["buckets"]["4"] == [10, 7]       # new bucket
    assert nxt["buckets"]["7"] == [5, 5]
    assert nxt["state_rows"] == 10 + 25 + 7 + 5
    assert nxt["group_size"] == 4 and nxt["engine_used"] == "driver"
    assert nxt["schema"] == "key string, ts long"
    # the input manifest is not mutated (replay reads it again)
    assert meta["buckets"]["2"] == [5, 20]


def test_touched_state_rows_sums_only_touched():
    meta = {"buckets": {"1": [3, 10], "2": [5, 20]}, "num_buckets": 8}
    assert stt.touched_state_rows(meta, [1, 2, 6]) == 30
    assert stt.touched_state_rows(meta, [6]) == 0


def _write_version(tmp_path, version, g, rows_by_bucket):
    """Materialize a version dir: meta with group_size g, one parquet
    file per group dir containing its buckets' rows."""
    stt.write_meta(
        str(tmp_path), version,
        {
            "watermark_ms": None, "num_buckets": 16, "group_size": g,
            "buckets": {}, "state_rows": 0,
        },
    )
    by_gid: dict[int, list] = {}
    for bid, rows in rows_by_bucket.items():
        by_gid.setdefault(bid // g, []).extend(rows)
    import pyarrow.parquet as pq

    for gid, rows in by_gid.items():
        d = stt.part_path(str(tmp_path), version, str(gid))
        os.makedirs(d, exist_ok=True)
        tbl = pa.Table.from_pandas(
            pd.DataFrame(rows, columns=["kind", "key", "last_ts"]),
            schema=PA_SCHEMA, preserve_index=False,
        )
        pq.write_table(tbl, os.path.join(d, "part-0.parquet"))


def _key_in_bucket(bid: int, num_buckets: int = 16) -> str:
    """A key whose crc32 bucket is exactly ``bid`` (writers guarantee
    rows live in their key's bucket; the fixture must too)."""
    i = 0
    while stt.bucket_of_key(f"key{bid}_{i}", num_buckets) != bid:
        i += 1
    return f"key{bid}_{i}"


def test_owner_read_plan_groups_and_filters_stale_rows(tmp_path):
    k0, k1, k2, k3 = (_key_in_bucket(b) for b in range(4))
    # v3 wrote buckets 0..3 at g=4 (one dir: gid 0); v5 rewrote bucket 2
    # at g=1 (dir gid 2) — v3's dir still physically holds k2's OLD row
    _write_version(tmp_path, 3, 4, {
        0: [(1, k0, 10)], 1: [(1, k1, 11)],
        2: [(1, k2, 12)], 3: [(1, k3, 13)],
    })
    _write_version(tmp_path, 5, 1, {2: [(1, k2, 20)]})
    meta = {
        "num_buckets": 16,
        "buckets": {"0": [3, 1], "1": [3, 1], "2": [5, 1], "3": [3, 1]},
    }
    plans = stt.owner_read_plan(meta, str(tmp_path), [1, 2])
    assert [(v, g, wanted) for v, g, wanted, _ in plans] == [
        (3, 4, [1]), (5, 1, [2]),
    ]
    # the read resolves the split: bucket 1's row from v3's group dir,
    # bucket 2's CURRENT row from v5; the stale k2@v3 row and the
    # co-resident untouched k0/k3 rows never surface
    pdf = stt.read_state_pandas(meta, str(tmp_path), [1, 2])
    got = sorted(map(tuple, pdf[["key", "last_ts"]].itertuples(index=False)))
    assert got == sorted([(k1, 11), (k2, 20)])


def test_footer_stats_metadata_only(tmp_path):
    import pyarrow.parquet as pq

    d = tmp_path / "pdir=0"
    os.makedirs(d)
    tbl = pa.Table.from_pandas(
        pd.DataFrame(
            {"kind": pd.array([1, 1, 0], dtype="int32"),
             "key": ["a", "b", "x"],
             "last_ts": pd.array([7, 99, None], dtype="Int64")}
        ),
        schema=PA_SCHEMA, preserve_index=False,
    )
    pq.write_table(tbl, str(d / "p0.parquet"))
    rows, mx = stt.footer_stats(str(d))
    assert (rows, mx) == (3, 99)
    assert stt.footer_stats(str(tmp_path / "missing")) == (0, None)


def test_footer_stats_names_foreign_file_missing_ts_col(tmp_path):
    """A parquet file WITHOUT the state schema's ts column in the state
    dir (a foreign/corrupt file) is a diagnosable error naming the file
    and the missing column — not an opaque pyarrow KeyError from the
    statistics fallback's single-column read (round-5 advice)."""
    import pyarrow.parquet as pq

    d = tmp_path / "pdir=0"
    os.makedirs(d)
    pq.write_table(
        pa.table({"something_else": [1, 2, 3]}), str(d / "alien.parquet")
    )
    with pytest.raises(ValueError, match="alien.parquet.*last_ts"):
        stt.footer_stats(str(d))


def test_gc_keeps_referenced_groups_drops_the_rest(tmp_path):
    sd = str(tmp_path)
    # v0 wrote buckets {0,1(gid 0 @ g=2)} and {4,5(gid 2)}; also dets
    _write_version(tmp_path, 0, 2, {
        0: [(1, "a", 1)], 1: [(1, "b", 1)],
        4: [(1, "c", 1)], 5: [(1, "d", 1)],
    })
    os.makedirs(stt.dets_path(sd, 0), exist_ok=True)
    # v4/v5 manifests: bucket 1 still owned by v0; 4 and 5 re-owned
    for v in (4, 5):
        stt.write_meta(sd, v, {
            "watermark_ms": None, "num_buckets": 16, "group_size": 1,
            "buckets": {"1": [0, 1], "4": [v, 1], "5": [v, 1]},
            "state_rows": 3,
        })
    stt.gc_versions(sd, 4, 1)  # keep window: v4..v5
    # v0's gid-0 dir survives (bucket 1 referenced); gid-2 dir and the
    # dets dir are gone
    assert os.path.isdir(stt.part_path(sd, 0, "0"))
    assert not os.path.isdir(stt.part_path(sd, 0, "2"))
    assert not os.path.isdir(stt.dets_path(sd, 0))
    # once nothing references v0, the whole version dir disappears
    for v in (4, 5):
        stt.write_meta(sd, v, {
            "watermark_ms": None, "num_buckets": 16, "group_size": 1,
            "buckets": {"1": [5, 1]}, "state_rows": 1,
        })
    stt.gc_versions(sd, 4, 1)
    assert not os.path.isdir(stt.version_path(sd, 0))


def test_read_meta_names_prebucketed_layout(tmp_path):
    """A manifest written by the PRE-bucketed state layout (watermark
    only, no bucket-ownership map) must fail with the actual situation
    and the operator's real options — not the num_buckets-mismatch
    message, whose 'restart with the original value' advice cannot be
    followed when no value ever existed (round-6 review)."""
    sd = str(tmp_path)
    p = tmp_path / "v3"
    os.makedirs(p)
    with open(p / "meta.json", "w") as f:
        json.dump({"watermark_ms": 123}, f)
    with pytest.raises(ValueError, match="pre-bucketed state layout"):
        stt.read_meta(sd, 3, 256)


def test_read_meta_pins_num_buckets(tmp_path):
    sd = str(tmp_path)
    stt.write_meta(sd, 2, {
        "watermark_ms": None, "num_buckets": 64, "group_size": 1,
        "buckets": {}, "state_rows": 0,
    })
    assert stt.read_meta(sd, 2, 64)["num_buckets"] == 64
    with pytest.raises(ValueError, match="num_buckets"):
        stt.read_meta(sd, 2, 128)
    # missing meta: the empty default with the caller's layout
    fresh = stt.read_meta(sd, 0, 128)
    assert fresh["buckets"] == {} and fresh["num_buckets"] == 128


def test_compact_state_refuses_watermark_regression(spark, tmp_path):
    """compact_state writes the caller-supplied watermark into both
    manifests — a value below the stored one would silently regress the
    watermark on resume (re-admitting late events, shifting TTL expiry),
    sidestepping finish_batch's monotonicity guard; it is refused
    (round-5 advice)."""
    from flink_rtcef_spark.streaming import fastpath

    sd = str(tmp_path)
    stt.write_meta(sd, 1, {
        "watermark_ms": 100, "num_buckets": 16, "group_size": 1,
        "buckets": {}, "state_rows": 0,
    })
    with pytest.raises(ValueError, match="below the stored watermark"):
        stt.compact_state(spark, sd, fastpath._OUT_SCHEMA, watermark_ms=50)
    # equal or higher overrides (and None = keep) stay allowed
    res = stt.compact_state(
        spark, sd, fastpath._OUT_SCHEMA, watermark_ms=150
    )
    assert res["rows_after"] == 0
    assert stt.read_meta(sd, 1, 16)["watermark_ms"] == 150


def test_state_table_stats_reports_logical_and_physical(spark, tmp_path):
    """state_table_stats: the latest manifest's logical view + the
    on-disk footprint, with zero data pages read — the ops hook for
    deciding when a compaction sweep pays off."""
    sd = str(tmp_path)
    k1, k2 = _key_in_bucket(1), _key_in_bucket(2)
    _write_version(tmp_path, 0, 2, {1: [(1, k1, 10)]})
    _write_version(tmp_path, 3, 1, {2: [(1, k2, 30)]})
    stt.write_meta(sd, 3, {
        "watermark_ms": 25, "num_buckets": 16, "group_size": 1,
        "buckets": {"1": [0, 1], "2": [3, 1]}, "state_rows": 2,
        "engine_used": "driver",
    })
    s = stt.state_table_stats(sd)
    assert s["latest_version"] == 3
    assert s["watermark_ms"] == 25
    assert s["state_rows"] == 2 and s["live_buckets"] == 2
    assert s["buckets_per_owner"] == {0: 1, 3: 1}
    assert s["engine_last_batch"] == "driver"
    assert s["versions_on_disk"] == 2
    assert s["parquet_files"] == 2 and s["parquet_bytes"] > 0

    with pytest.raises(ValueError, match="no state versions"):
        stt.state_table_stats(str(tmp_path / "nowhere_made"))
