"""foreachBatch fast path for register (SREMO/NSRA) patterns
(streaming/fastpath_register.py): the pickled configuration-set state
carried as a versioned parquet column must reproduce the batch
RegisterCEP operator exactly across microbatch boundaries, routes,
restarts, and event-clock TTL expiry.  The ``arrow`` cases force the
distributed route with the ``distributed_route`` fixture."""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_rtcef_spark.operators.cep_register import RegisterCEP
from flink_rtcef_spark.plans.nsra import compile_register_pattern
from flink_rtcef_spark.streaming import bounded
from flink_rtcef_spark.streaming.fastpath_register import (
    start_fastpath_register,
)

# skip-till-any with a strict increase over the stored event — the
# config-set is genuinely nondeterministic (multiple live valuations)
PAT = (
    '#(;(IsEventTypePredicate(A)["x"],^(IsEventTypePredicate(B),'
    'GTAttr(value,"x")))){partitionBy:k}{window:4}'
)

DET_COLS = [
    "key", "detection_event_id", "detection_ts", "counter", "min_counter",
    "n_matched",
]
SCHEMA = "k string, ts long, id long, event_type string, value double"


def _rows(n=360, seed=11):
    rng = random.Random(seed)
    return [
        (
            rng.choice(("k1", "k2", "k3")), i + 1, i,
            rng.choice("AABB"), float(rng.randint(0, 9)),
        )
        for i in range(n)
    ]


def _write_chunks(spark, path, rows, n_chunks):
    per = (len(rows) + n_chunks - 1) // n_chunks
    for c in range(n_chunks):
        chunk = rows[c * per:(c + 1) * per]
        if chunk:
            spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{path}/c{c}")


def _run(spark, src, tmp, name, ttl_ms=0, **kw):
    collected = []

    def sink(df, bid):
        collected.append(df.toPandas())

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/c*")
    )
    q = start_fastpath_register(
        stream, compile_register_pattern(PAT),
        state_dir=f"{tmp}/{name}_state", checkpoint_dir=f"{tmp}/{name}_ckpt",
        sink=sink, key_col="k", ts_col="ts", id_col="id",
        watermark_delay_ms=5_000, state_ttl_ms=ttl_ms, **kw,
    )
    assert q.awaitTermination(600), "stream did not drain"
    out = (
        pd.concat(collected, ignore_index=True)
        if collected else pd.DataFrame(columns=DET_COLS)
    )
    return out[DET_COLS].sort_values(DET_COLS).reset_index(drop=True)


def _batch_want(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    cep = RegisterCEP(
        compile_register_pattern(PAT), key_col="k", ts_col="ts", id_col="id"
    )
    want = cep.detections(df).toPandas()[DET_COLS]
    return want.sort_values(DET_COLS).reset_index(drop=True)


@pytest.mark.parametrize("engine", ["arrow", "driver", "auto"])
def test_fastpath_register_stream_equals_batch(spark, tmp_path, request, engine):
    rows = _rows()
    src = str(tmp_path / "src")
    _write_chunks(spark, src, rows, 4)
    if engine == "arrow":
        request.getfixturevalue("distributed_route")
    got = _run(spark, src, str(tmp_path), f"eq_{engine}")
    got["detection_ts"] //= 1000  # stream ts is epoch millis
    want = _batch_want(spark, rows)
    assert len(want) > 0
    assert got.astype(str).equals(want.astype(str))


@pytest.mark.parametrize("engine", ["arrow", "driver"])
def test_fastpath_register_drops_null_keys(spark, tmp_path, request, engine):
    """Same null-key contract as the deterministic fast path: null-keyed
    rows are dropped on every route, and a real key named "None" keeps
    matching (the driver route once stringified None into it)."""
    rows = _rows(n=120, seed=47)
    extra = [
        ("None", 130, 1002, "A", 1.0),
        ("None", 131, 1003, "B", 5.0),
    ]
    nulls = [
        (None, 132, 1000, "A", 1.0),
        (None, 133, 1001, "B", 5.0),
    ]
    src = str(tmp_path / "src")
    _write_chunks(spark, src, rows + extra + nulls, 3)
    if engine == "arrow":
        request.getfixturevalue("distributed_route")
    got = _run(spark, src, str(tmp_path), f"nullk_{engine}")
    got["detection_ts"] //= 1000
    want = _batch_want(spark, rows + extra)
    assert (want["key"] == "None").sum() == 1
    assert got.astype(str).equals(want.astype(str))


def test_fastpath_register_auto_flips_mid_stream(spark, tmp_path, monkeypatch):
    """Batch 0 (small) routes driver-side, batch 1 (big) runs the
    distributed Arrow plan over the state batch 0 wrote — no state
    migration across the flip."""
    monkeypatch.setattr(bounded, "DRIVER_MAX_ROWS", 100)
    rows = _rows(n=300, seed=23)
    src = str(tmp_path / "src")
    _write_chunks(spark, src, rows[:40], 1)
    spark.createDataFrame(rows[40:], SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/c1")
    got = _run(spark, src, str(tmp_path), "flip")
    got["detection_ts"] //= 1000
    want = _batch_want(spark, rows)
    assert len(want) > 0
    assert got.astype(str).equals(want.astype(str))


def test_fastpath_register_event_clock_ttl_expires_configs(spark, tmp_path):
    # key kx opens a run (A value 5 at t=10s) then a late B value 9 at
    # t=200s; a dense live key pushes the watermark past 10s+ttl first.
    rows = [("kx", 10, 0, "A", 5.0)]
    rows += [("live", 10 + i, 100 + i, "A", 0.0) for i in range(1, 120)]
    src = str(tmp_path / "src")
    _write_chunks(spark, src, rows, 1)
    spark.createDataFrame(
        [("kx", 200, 500, "B", 9.0)], SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/c1")

    got = _run(spark, src, str(tmp_path), "exp", ttl_ms=60_000)
    assert got[got["key"] == "kx"].empty

    got0 = _run(spark, src, str(tmp_path), "noexp", ttl_ms=0)
    assert len(got0[got0["key"] == "kx"]) == 1


def test_fastpath_register_restart_resumes_exactly_once(spark, tmp_path):
    rows = _rows(seed=31)
    src = str(tmp_path / "src")
    half = len(rows) // 2
    _write_chunks(spark, src, rows[:half], 2)
    first = _run(spark, src, str(tmp_path), "resume")
    per = (half + 1) // 2
    for c, lo in enumerate(range(half, len(rows), per)):
        spark.createDataFrame(rows[lo:lo + per], SCHEMA).coalesce(
            1
        ).write.mode("overwrite").parquet(f"{src}/c{c + 2}")
    second = _run(spark, src, str(tmp_path), "resume")

    got = pd.concat([first, second], ignore_index=True)
    got = got.sort_values(DET_COLS).reset_index(drop=True)
    got["detection_ts"] //= 1000
    want = _batch_want(spark, rows)
    assert len(want) > 0
    assert got.astype(str).equals(want.astype(str))


def test_fastpath_register_routes_distributed_on_big_state(
    spark, tmp_path, distributed_state_route
):
    """State-size routing twin of the deterministic fast path's test:
    batch 0 seeds many keys' config sets; batch 1 is tiny but its
    buckets carry more rows than ``bounded.DRIVER_MAX_STATE_ROWS`` (0
    here), so it must run distributed (arrow) — recorded in the
    manifest's engine_used."""
    import json

    src = str(tmp_path / "src")
    rows0 = [(f"k{i}", 10 + i, i, "A", 1.0) for i in range(400)]
    _write_chunks(spark, src, rows0, 1)
    spark.createDataFrame(
        [(f"k{i}", 900 + i, 2000 + i, "B", 5.0) for i in range(3)], SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/c1")

    got = _run(spark, src, str(tmp_path), "bigstate", num_buckets=4)
    state_dir = f"{tmp_path}/bigstate_state"
    with open(f"{state_dir}/v1/meta.json") as f:
        m1 = json.load(f)
    with open(f"{state_dir}/v2/meta.json") as f:
        m2 = json.load(f)
    assert m1["engine_used"] == "driver" and m1["state_rows"] == 400
    assert m2["engine_used"] == "arrow", m2
    # the three B's (value 5 > stored x=1) complete their matches
    assert len(got) == 3, got


def test_fastpath_register_offline_compaction(spark, tmp_path):
    """compact_state works on the register layout too (blob state
    column): TTL-swept config sets leave disk, survivors still match
    after a restart over the same checkpoint."""
    import json

    from flink_rtcef_spark.streaming import state_table as stt
    from flink_rtcef_spark.streaming.fastpath_register import _OUT_SCHEMA

    src = str(tmp_path / "src")
    rows0 = [(f"stale{i}", 10, i, "A", 1.0) for i in range(150)]
    rows0 += [("klive", 500, 900, "A", 1.0), ("wm", 520, 901, "A", 0.0)]
    _write_chunks(spark, src, rows0, 1)

    state_dir = f"{tmp_path}/rcmp_state"
    got1 = _run(
        spark, src, str(tmp_path), "rcmp", ttl_ms=60_000, num_buckets=8
    )
    assert got1.empty
    res = stt.compact_state(
        spark, state_dir, _OUT_SCHEMA, state_ttl_ms=60_000
    )
    assert res["rows_before"] == 152 and res["rows_after"] == 2, res

    spark.createDataFrame(
        [("klive", 560, 950, "B", 7.0), ("stale0", 561, 951, "B", 7.0)],
        SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/c1")
    got2 = _run(
        spark, src, str(tmp_path), "rcmp", ttl_ms=60_000, num_buckets=8
    )
    assert len(got2[got2["key"] == "klive"]) == 1
    assert got2[got2["key"] == "stale0"].empty
