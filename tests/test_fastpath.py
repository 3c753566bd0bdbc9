"""foreachBatch fast-path streaming CEP (streaming/fastpath.py): run
state carried as a versioned DataFrame, all keys advanced in one pass
per batch.  Gates here:

- stream == batch detections (ttl=0, every route)
- the SQL (Catalyst aggregate-fold) route == the driver route under TTL
- event-clock run expiry: stale partial match dies, ttl=0 control keeps it
  (reference run expiry, ERFEngine.scala:213-216)
- crash/restart resume over the same checkpoint + state dir is exactly-once
- the protocol gates (zero-job driver route, torn-write replay, touched-
  bucket rewrites, GC of idle buckets) and the route-agreement gates run
  for ALL kernels of the one skeleton: the SDFA, register (NSRA),
  multi-pattern and forecast specs (``kernel`` parameter)
- the resume layout: the SDFA and register state rows and the
  detection sink keep their columns, so state dirs written by earlier
  versions resume

A test forces a route through the bounds of streaming/bounded.py: the
``distributed_route`` fixture (a driver bound of 0 rows) sends every
non-empty microbatch down the kernel's distributed route, ``sql`` for
the SDFA and ``arrow`` for the others; at the default bounds these
small inputs take the driver route.
"""

from __future__ import annotations

import functools
import inspect
import random
from typing import Callable, NamedTuple

import pandas as pd
import pytest

from flink_rtcef_spark.operators.cep import BatchCEP
from flink_rtcef_spark.operators.cep_register import RegisterCEP
from flink_rtcef_spark.operators.forecast import ForecastCEP
from flink_rtcef_spark.operators.multi_cep import MultiPatternCEP
from flink_rtcef_spark.plans.compiler import compile_pattern, compile_patterns
from flink_rtcef_spark.plans.nsra import compile_register_pattern
from flink_rtcef_spark.streaming import bounded, fastpath
from flink_rtcef_spark.streaming.fastpath import (
    _ForecastSpec,
    _MultiSpec,
    _SdfaSpec,
    make_foreach_batch_detections,
    start_fastpath_detections,
    start_fastpath_forecasts,
    start_fastpath_multi,
    symbolize_stream,
)
from flink_rtcef_spark.streaming.fastpath_register import (
    _RegisterSpec,
    make_foreach_batch_register,
    start_fastpath_register,
    symbolize_register_stream,
)
from tests.test_fastpath_register import PAT as REG_PAT
from tests.test_fastpath_register import SCHEMA as REG_SCHEMA

PAT = ";(IsEventTypePredicate(A),IsEventTypePredicate(B)){partitionBy:k}"
DECLS = "~(IsEventTypePredicate(A),IsEventTypePredicate(B))"


class Kernel(NamedTuple):
    """One kernel's entry points into the fast-path skeleton, so a
    protocol test runs unchanged over every kernel."""

    schema: str
    compile: Callable
    start: Callable
    make_fb: Callable
    symbolize: Callable
    spec: type
    cep: type
    row: Callable  # (k, ts, id, event_type) -> a row of ``schema``
    routes: tuple  # the driver route, then the distributed one
    cols: list  # the sink's columns
    eid: str  # the sink's event-id column
    dets: Callable  # sink frame -> its detection rows


def _register_row(r):
    # A stores x = 1, B carries 5 > x: every A -> B inside the window
    # completes, as in the SDFA pattern
    return (*r, {"A": 1.0, "B": 5.0}.get(r[3], 0.0))


@functools.lru_cache(maxsize=None)
def _spst():
    """An order-1 SPST of the A -> B pattern, trained on a fixed
    A/B/C sequence."""
    from pyspark.sql import SparkSession

    from flink_rtcef_spark.models.spst import train_spst

    compiled = compile_pattern(
        ";(IsEventTypePredicate(A),IsEventTypePredicate(B)){order:1}"
        "{partitionBy:k}",
        DECLS,
    )
    rng = random.Random(3)
    events = SparkSession.getActiveSession().createDataFrame(
        [("u", t, t, rng.choice("AABBC")) for t in range(200)],
        "k string, ts long, id long, event_type string",
    )
    cep = BatchCEP(compiled, key_col="k", ts_col="ts", id_col="id")
    return train_spst(
        cep.symbolized(events), compiled, max_order=1, horizon=5, cutoff=0.0
    )


def _skeleton_fb(spec):
    """``make_fb`` for a kernel without a ``make_foreach_batch_*``."""
    return lambda compiled, state_dir, sink=None, **options: (
        fastpath._make_foreach_batch(spec(compiled), state_dir, sink, **options)
    )


def _skeleton_symbolize(spec):
    return lambda df, compiled, **cols: fastpath._symbolize(
        df, spec(compiled), **cols
    )


DET_COLS = [
    "key", "detection_event_id", "detection_ts", "counter", "min_counter",
    "n_matched",
]
SCHEMA = "k string, ts long, id long, event_type string"

KERNELS = {
    "sdfa": Kernel(
        SCHEMA,
        lambda: compile_pattern(PAT, DECLS),
        start_fastpath_detections, make_foreach_batch_detections,
        symbolize_stream, _SdfaSpec, BatchCEP, lambda r: r,
        ("driver", "sql"), DET_COLS, "detection_event_id",
        lambda f: f,
    ),
    "register": Kernel(
        REG_SCHEMA,
        lambda: compile_register_pattern(REG_PAT),
        start_fastpath_register, make_foreach_batch_register,
        symbolize_register_stream, _RegisterSpec, RegisterCEP,
        _register_row, ("driver", "arrow"), DET_COLS, "detection_event_id",
        lambda f: f,
    ),
    # A -> B and B -> A: an A then a B completes only the first
    "multi": Kernel(
        SCHEMA,
        lambda: compile_patterns(
            f"{PAT}&;(IsEventTypePredicate(B),IsEventTypePredicate(A))"
            "{partitionBy:k}",
            DECLS,
        ),
        start_fastpath_multi, _skeleton_fb(_MultiSpec),
        _skeleton_symbolize(_MultiSpec), _MultiSpec, MultiPatternCEP,
        lambda r: r, ("driver", "arrow"), ["pattern_id", *DET_COLS],
        "detection_event_id", lambda f: f,
    ),
    "forecast": Kernel(
        SCHEMA, _spst, start_fastpath_forecasts,
        _skeleton_fb(_ForecastSpec), _skeleton_symbolize(_ForecastSpec),
        _ForecastSpec, ForecastCEP, lambda r: r, ("driver", "arrow"),
        [f.split()[0] for f in fastpath.FORECAST_OUTPUT_SCHEMA.split(", ")],
        "event_id", lambda f: f[f["is_detection"]],
    ),
}


def _rows(n=400, seed=13):
    rng = random.Random(seed)
    return [
        (rng.choice(("k1", "k2", "k3")), i + 1, i, rng.choice("AABBC"))
        for i in range(n)
    ]


def _write_chunks(
    spark, path, rows, n_chunks,
    schema="k string, ts long, id long, event_type string",
):
    per = (len(rows) + n_chunks - 1) // n_chunks
    for c in range(n_chunks):
        chunk = rows[c * per:(c + 1) * per]
        if not chunk:
            continue
        spark.createDataFrame(
            chunk, schema
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/c{c}")


def _force(request, route):
    """Force ``route`` for the rest of the test: a distributed route
    (``sql``, ``arrow``) through the ``distributed_route`` fixture; the
    driver route, and ``auto``, run at the default bounds."""
    if route not in ("driver", "auto"):
        request.getfixturevalue("distributed_route")


def _run(spark, src, tmp, name, ttl_ms=0, max_files=1):
    collected = []

    def sink(df, bid):
        collected.append(df.toPandas())

    stream = (
        spark.readStream.schema("k string, ts long, id long, event_type string")
        .option("maxFilesPerTrigger", max_files)
        .parquet(f"{src}/c*")
    )
    q = start_fastpath_detections(
        stream, compile_pattern(PAT, DECLS),
        state_dir=f"{tmp}/{name}_state", checkpoint_dir=f"{tmp}/{name}_ckpt",
        sink=sink, key_col="k", ts_col="ts", id_col="id",
        watermark_delay_ms=5_000, state_ttl_ms=ttl_ms,
    )
    assert q.awaitTermination(600), "stream did not drain"
    out = (
        pd.concat(collected, ignore_index=True)
        if collected else pd.DataFrame(columns=DET_COLS)
    )
    return out[DET_COLS].sort_values(DET_COLS).reset_index(drop=True)


@pytest.mark.parametrize("engine", ["sql", "driver", "auto"])
def test_fastpath_stream_equals_batch(spark, tmp_path, request, engine):
    rows = _rows()
    src = str(tmp_path / "src")
    _write_chunks(spark, src, rows, 4)
    _force(request, engine)
    got = _run(spark, src, str(tmp_path), f"eq_{engine}")
    # stream ts is epoch millis; numeric batch keeps raw seconds
    got["detection_ts"] //= 1000

    df = spark.createDataFrame(rows, "k string, ts long, id long, event_type string")
    cep = BatchCEP(compile_pattern(PAT, DECLS), key_col="k", ts_col="ts", id_col="id")
    want = cep.detections(df).toPandas()[DET_COLS]
    want = want.sort_values(DET_COLS).reset_index(drop=True)
    assert len(want) > 0
    pd.testing.assert_frame_equal(
        got.astype("int64", errors="ignore").assign(key=got["key"]),
        want.astype("int64", errors="ignore").assign(key=want["key"]),
    )


@pytest.mark.parametrize("engine", ["sql", "driver"])
def test_fastpath_drops_null_keys(spark, tmp_path, request, engine):
    """NULL-keyed rows are dropped before any engine runs (the
    reference's keyBy raises on a null key, InferenceJob.java), and a
    null key must never alias a real key: the driver route once
    stringified None to "None", so a genuine key named "None" pins
    the distinction — its own A->B match must survive while the
    null-keyed A->B pair yields nothing."""
    rows = _rows(n=120, seed=41)
    extra = [("None", 130, 1002, "A"), ("None", 131, 1003, "B")]
    nulls = [(None, 132, 1000, "A"), (None, 133, 1001, "B")]
    src = str(tmp_path / "src")
    _write_chunks(spark, src, rows + extra + nulls, 3)
    _force(request, engine)
    got = _run(spark, src, str(tmp_path), f"nullk_{engine}")
    got["detection_ts"] //= 1000

    clean = rows + extra
    df = spark.createDataFrame(
        clean, "k string, ts long, id long, event_type string"
    )
    cep = BatchCEP(
        compile_pattern(PAT, DECLS), key_col="k", ts_col="ts", id_col="id"
    )
    want = cep.detections(df).toPandas()[DET_COLS]
    want = want.sort_values(DET_COLS).reset_index(drop=True)
    assert (want["key"] == "None").sum() == 1
    pd.testing.assert_frame_equal(
        got.astype("int64", errors="ignore").assign(key=got["key"]),
        want.astype("int64", errors="ignore").assign(key=want["key"]),
    )


def test_fastpath_sql_equals_driver_with_ttl(spark, tmp_path, monkeypatch):
    rows = _rows(seed=29)
    src = str(tmp_path / "src")
    _write_chunks(spark, src, rows, 4)
    b = _run(spark, src, str(tmp_path), "ttl_drv", ttl_ms=30_000)
    monkeypatch.setattr(bounded, "DRIVER_MAX_ROWS", 0)
    a = _run(spark, src, str(tmp_path), "ttl_sql", ttl_ms=30_000)
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b)


def test_fastpath_event_clock_ttl_expires_partial_match(
    spark, tmp_path, distributed_route
):
    # key kx: A at t=10s, then B at t=200s.  Interleave a dense live key
    # so the watermark advances past 10s + ttl before the late B arrives.
    rows = [("kx", 10, 0, "A")]
    rows += [("live", 10 + i, 100 + i, "C") for i in range(1, 120)]
    chunk2 = [("kx", 200, 500, "B")]
    src = str(tmp_path / "src")
    _write_chunks(spark, src, rows, 1)
    # second chunk in its own file AFTER the first
    spark.createDataFrame(
        chunk2, "k string, ts long, id long, event_type string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/c1")

    # ttl 60s on the event clock: watermark after chunk 1 is 129-5=124s,
    # kx's run (last event 10s) is > 60s stale -> expired before B
    got = _run(spark, src, str(tmp_path), "exp", ttl_ms=60_000)
    assert got[got["key"] == "kx"].empty

    # control: no TTL -> the late B completes the match
    got0 = _run(spark, src, str(tmp_path), "noexp", ttl_ms=0)
    assert len(got0[got0["key"] == "kx"]) == 1


def test_fastpath_auto_engine_flips_mid_stream(spark, tmp_path, monkeypatch):
    """auto routing must be able to cross the driver/distributed
    threshold between batches with no state migration: chunk sizes
    straddle ``bounded.DRIVER_MAX_ROWS``, so batch 0 runs driver-side
    and batch 1 runs the distributed JVM plan over the state batch 0
    wrote."""
    monkeypatch.setattr(bounded, "DRIVER_MAX_ROWS", 100)
    rows = _rows(n=300, seed=41)
    src = str(tmp_path / "src")
    # uneven chunks: 40 rows (below threshold), 260 rows (above)
    _write_chunks(spark, src, rows[:40], 1)
    spark.createDataFrame(
        rows[40:], "k string, ts long, id long, event_type string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/c1")

    collected = []

    def sink(df, bid):
        collected.append(df.toPandas())

    stream = (
        spark.readStream.schema("k string, ts long, id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/c*")
    )
    q = start_fastpath_detections(
        stream, compile_pattern(PAT, DECLS),
        state_dir=f"{tmp_path}/flip_state", checkpoint_dir=f"{tmp_path}/flip_ckpt",
        sink=sink, key_col="k", ts_col="ts", id_col="id",
        watermark_delay_ms=5_000,
    )
    assert q.awaitTermination(600), "stream did not drain"
    got = (
        pd.concat(collected, ignore_index=True)[DET_COLS]
        .sort_values(DET_COLS).reset_index(drop=True)
    )
    got["detection_ts"] //= 1000

    df = spark.createDataFrame(rows, "k string, ts long, id long, event_type string")
    cep = BatchCEP(compile_pattern(PAT, DECLS), key_col="k", ts_col="ts", id_col="id")
    want = cep.detections(df).toPandas()[DET_COLS]
    want = want.sort_values(DET_COLS).reset_index(drop=True)
    assert len(want) > 0
    assert got.astype(str).equals(want.astype(str))


@pytest.mark.parametrize("kernel", list(KERNELS))
def test_fastpath_driver_engine_runs_no_spark_jobs(spark, tmp_path, kernel):
    """The driver route's whole point is removing the ~0.35 s/batch
    distributed-job floor: besides the batch's own source collect, the
    advance + state write + watermark recovery must submit ZERO Spark
    jobs.  Guard it with the status tracker so a regression (a stray
    count()/read job creeping into _driver_batch or _finish_batch)
    fails loudly instead of silently tripling microbatch latency."""
    kn = KERNELS[kernel]
    compiled = kn.compile()
    fb = kn.make_fb(compiled, str(tmp_path / "state"), sink=None)
    rows = _rows(n=200, seed=7)
    batch = kn.symbolize(
        spark.createDataFrame(
            [kn.row((k, ts, i, et)) for (k, ts, i, et) in rows], kn.schema
        ),
        compiled, key_col="k", ts_col="ts", id_col="id",
    )
    tracker = spark.sparkContext.statusTracker()
    fb(batch, 0)  # batch 0: includes the toPandas() source collect
    pdf = batch.toPandas()  # pre-collect so we can call the inner path
    before = set(tracker.getJobIdsForGroup(None) or [])
    from flink_rtcef_spark.streaming import state_table as stt
    from flink_rtcef_spark.streaming.fastpath import (
        _driver_batch,
        _make_partition_runner,
    )
    spec = kn.spec(compiled)
    runner = _make_partition_runner(spec)
    # reading the manifest, the touched buckets' state (pyarrow), the
    # advance, and the bucketed state write are all driver-local
    meta = stt.read_meta(
        str(tmp_path / "state"), 1, stt.DEFAULT_NUM_BUCKETS
    )
    assert meta["state_rows"] > 0  # batch 0 really carried state in
    touched = stt.touched_buckets_of(pdf["key"], stt.DEFAULT_NUM_BUCKETS)
    _driver_batch(
        spec, runner, pdf, touched, str(tmp_path / "state"), 1, meta, 0
    )
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert before == after, (
        f"driver-route advance submitted Spark jobs: {sorted(after - before)}"
    )


def test_fastpath_restart_resumes_exactly_once(spark, tmp_path, distributed_route):
    rows = _rows(seed=31)
    src = str(tmp_path / "src")
    half = len(rows) // 2
    _write_chunks(spark, src, rows[:half], 2)

    first = _run(spark, src, str(tmp_path), "resume")
    # new data lands, stream restarts over the SAME checkpoint + state dir
    per = (half + 1) // 2
    for c, lo in enumerate(range(half, len(rows), per)):
        spark.createDataFrame(
            rows[lo:lo + per], "k string, ts long, id long, event_type string"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/c{c + 2}")
    second = _run(spark, src, str(tmp_path), "resume")

    got = pd.concat([first, second], ignore_index=True)
    got = got.sort_values(DET_COLS).reset_index(drop=True)
    got["detection_ts"] //= 1000

    df = spark.createDataFrame(rows, "k string, ts long, id long, event_type string")
    cep = BatchCEP(compile_pattern(PAT, DECLS), key_col="k", ts_col="ts", id_col="id")
    want = cep.detections(df).toPandas()[DET_COLS]
    want = want.sort_values(DET_COLS).reset_index(drop=True)
    assert len(want) > 0
    assert got.astype(str).equals(want.astype(str))


@pytest.mark.parametrize(
    "kernel,engine",
    [
        pytest.param("sdfa", "driver", id="driver"),
        pytest.param("sdfa", "sql", id="sql"),
        pytest.param("register", "driver", id="register-driver"),
        pytest.param("register", "arrow", id="register-arrow"),
    ],
)
def test_fastpath_torn_write_replay_overwrites_stale_data(
    spark, tmp_path, request, kernel, engine
):
    """The crash window the versioned protocol is designed around: a
    process died AFTER (partially or fully) writing v{b+1}'s state
    DATA but BEFORE write_meta and before the streaming commit.  On
    restart the checkpoint re-runs batch b: foreach_batch reads v{b}'s
    intact manifest (keep_versions >= 1 guarantees it) and must
    OVERWRITE the torn v{b+1} data — the driver route rmtree's the
    version dir before its pyarrow write, the distributed route writes
    mode("overwrite") — never merge with it.  The planted garbage here
    is a full copy of v{b}'s data (stale state rows); if any of it
    leaked into the replayed version, the duplicated carried runs would
    change the detections and the batch-equality check would fail."""
    import os
    import shutil

    kn = KERNELS[kernel]
    _force(request, engine)
    rows = [kn.row(r) for r in _rows(seed=57)]
    src = str(tmp_path / "src")
    per = (len(rows) + 3) // 4
    _write_chunks(spark, src, rows[: 3 * per], 3, kn.schema)
    state_dir = f"{tmp_path}/torn_state_{engine}"

    collected = []

    def sink(df, bid):
        collected.append(df.toPandas())

    def start():
        stream = (
            spark.readStream
            .schema(kn.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/c*")
        )
        return kn.start(
            stream, kn.compile(),
            state_dir=state_dir,
            checkpoint_dir=f"{tmp_path}/torn_ckpt_{engine}",
            sink=sink, key_col="k", ts_col="ts", id_col="id",
            watermark_delay_ms=5_000,
        )

    q = start()
    assert q.awaitTermination(600), "stream did not drain"

    # plant the torn write a dead process left behind: v4/data exists
    # (stale rows — a copy of v3's), meta.json does not
    assert os.path.isdir(f"{state_dir}/v3/data")
    assert not os.path.exists(f"{state_dir}/v4")
    shutil.copytree(f"{state_dir}/v3/data", f"{state_dir}/v4/data")

    # the 4th chunk arrives; restart runs batch 3 over the torn dir
    spark.createDataFrame(
        rows[3 * per:], kn.schema
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/c3")
    q = start()
    assert q.awaitTermination(600), "replay did not drain"
    assert os.path.exists(f"{state_dir}/v4/meta.json")

    got = pd.concat(collected, ignore_index=True)[DET_COLS]
    got = got.sort_values(DET_COLS).reset_index(drop=True)
    got["detection_ts"] //= 1000

    df = spark.createDataFrame(rows, kn.schema)
    cep = kn.cep(kn.compile(), key_col="k", ts_col="ts", id_col="id")
    want = cep.detections(df).toPandas()[DET_COLS]
    want = want.sort_values(DET_COLS).reset_index(drop=True)
    assert len(want) > 0
    assert got.astype(str).equals(want.astype(str))


def test_fastpath_routes_distributed_on_big_state_small_batch(
    spark, tmp_path, distributed_state_route
):
    """r4 verdict "what's wrong" #2: the auto route used to bound only
    the EVENTS — a huge-key-space stream with tiny batches would load
    the entire state table into driver pandas.  Now the manifest's
    touched-bucket row counts bound the state side: batch 0 (many keys)
    builds big state, batch 1 (3 rows) is tiny but its buckets carry
    more rows than ``bounded.DRIVER_MAX_STATE_ROWS`` (0 here), so it must
    run DISTRIBUTED —
    recorded per version in the manifest's engine_used."""
    import json

    from flink_rtcef_spark.streaming import state_table as stt

    compiled = compile_pattern(PAT, DECLS)
    src = str(tmp_path / "src")
    # batch 0: 500 distinct keys, each left with an open A (state rows)
    rows0 = [(f"k{i}", 10 + i, i, "A") for i in range(500)]
    _write_chunks(spark, src, rows0, 1)
    # batch 1: 3 rows completing three of the matches
    spark.createDataFrame(
        [(f"k{i}", 600 + i, 1000 + i, "B") for i in range(3)],
        "k string, ts long, id long, event_type string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/c1")

    collected = []
    stream = (
        spark.readStream.schema("k string, ts long, id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/c*")
    )
    state_dir = f"{tmp_path}/bigstate_state"
    q = start_fastpath_detections(
        stream, compiled,
        state_dir=state_dir, checkpoint_dir=f"{tmp_path}/bigstate_ckpt",
        sink=lambda df, bid: collected.append(df.toPandas()),
        key_col="k", ts_col="ts", id_col="id",
        watermark_delay_ms=5_000,
        num_buckets=4,                 # 3 keys still touch carried rows
    )
    assert q.awaitTermination(600), "stream did not drain"

    with open(f"{state_dir}/v1/meta.json") as f:
        m1 = json.load(f)
    with open(f"{state_dir}/v2/meta.json") as f:
        m2 = json.load(f)
    # batch 0 carried no state yet -> driver; batch 1's touched buckets
    # carry ~500/4 * 3 >> 100 rows -> distributed (sql)
    assert m1["engine_used"] == "driver", m1
    assert m2["engine_used"] == "sql", m2
    assert m1["state_rows"] == 500
    got = pd.concat(collected, ignore_index=True)
    assert len(got) == 3  # the three completed matches still detected
    # the bucket function is pinned across routes
    assert set(m2["buckets"]) == {
        str(b) for b in range(4)
    } and m2["num_buckets"] == 4


@pytest.mark.parametrize("kernel", list(KERNELS))
def test_fastpath_rewrites_only_touched_buckets(
    spark, tmp_path, monkeypatch, kernel
):
    """The r5 scaling contract: a batch's write is O(touched buckets),
    not O(live keys).  Batch 0 populates many buckets; batch 1 touches
    ONE key — its version must physically contain only the GROUP dir
    covering that key's bucket (+ detections), with every other bucket
    carried forward by manifest reference into the version that last
    wrote it.  The group target is shrunk so 200 rows span several
    physical groups (at the default 4096 target this small a table
    collapses to one file — the small-state fast layout)."""
    import json
    import os

    from flink_rtcef_spark.streaming import state_table as stt

    monkeypatch.setattr(stt, "TARGET_GROUP_ROWS", 16)
    B = 16
    kn = KERNELS[kernel]
    compiled = kn.compile()
    src = str(tmp_path / "src")
    rows0 = [kn.row((f"k{i}", 10 + i, i, "A")) for i in range(200)]
    _write_chunks(spark, src, rows0, 1, kn.schema)
    spark.createDataFrame(
        [kn.row(("k7", 600, 9000, "B"))],
        kn.schema,
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/c1")

    stream = (
        spark.readStream.schema(kn.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/c*")
    )
    state_dir = f"{tmp_path}/touch_state"
    q = kn.start(
        stream, compiled,
        state_dir=state_dir, checkpoint_dir=f"{tmp_path}/touch_ckpt",
        key_col="k", ts_col="ts", id_col="id",
        watermark_delay_ms=5_000, num_buckets=B,
        keep_versions=1,
    )
    assert q.awaitTermination(600), "stream did not drain"

    kb = stt.bucket_of_key("k7", B)
    with open(f"{state_dir}/v1/meta.json") as f:
        m1 = json.load(f)
    with open(f"{state_dir}/v2/meta.json") as f:
        m2 = json.load(f)
    assert m1["group_size"] < B, m1  # several physical groups exist
    v2_parts = {
        d for d in os.listdir(stt.data_path(state_dir, 2))
        if d.startswith("pdir=")
    }
    # v2 holds ONLY the group covering k7's bucket, plus detections
    assert v2_parts == {f"pdir={kb // m2['group_size']}", "pdir=d"}, v2_parts
    owners = {bid: owner for bid, (owner, _r) in m2["buckets"].items()}
    assert owners[str(kb)] == 2
    # every other live bucket still owned by v1 — carried by reference
    assert all(o == 1 for bid, o in owners.items() if bid != str(kb))
    # ... and their v1 group dirs survived GC (keep_versions=1 keeps
    # the replay window v1..v2; referenced groups must survive
    # regardless of age)
    g1 = m1["group_size"]
    for bid, o in owners.items():
        if o == 1:
            gid = int(bid) // g1
            assert os.path.isdir(
                stt.part_path(state_dir, 1, str(gid))
            ), (bid, gid)
    assert m2["state_rows"] == 200  # no key lost across the carry


@pytest.mark.parametrize("kernel", list(KERNELS))
def test_fastpath_gc_preserves_idle_buckets_beyond_keep_versions(
    spark, tmp_path, kernel
):
    """A key idle for MORE batches than keep_versions must keep its
    carried state: its bucket's owning version outlives the replay
    window because the manifest still references it.  kx opens a match
    in batch 0, five batches of other-bucket traffic age the versions,
    then kx's B completes the match — with ttl off, it MUST detect."""
    kn = KERNELS[kernel]
    compiled = kn.compile()
    B = 64
    # pick a filler key in a different bucket than kx
    from flink_rtcef_spark.streaming import state_table as stt

    filler = next(
        f"f{i}" for i in range(1000)
        if stt.bucket_of_key(f"f{i}", B) != stt.bucket_of_key("kx", B)
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [kn.row(("kx", 10, 0, "A")), kn.row((filler, 11, 1, "C"))],
        kn.schema,
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/c0")
    for c in range(1, 6):
        spark.createDataFrame(
            [kn.row((filler, 20 + c, 10 + c, "C"))],
            kn.schema,
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/c{c}")
    spark.createDataFrame(
        [kn.row(("kx", 40, 100, "B"))],
        kn.schema,
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/c6")

    collected = []
    stream = (
        spark.readStream.schema(kn.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/c*")
    )
    q = kn.start(
        stream, compiled,
        state_dir=f"{tmp_path}/idle_state",
        checkpoint_dir=f"{tmp_path}/idle_ckpt",
        sink=lambda df, bid: collected.append(df.toPandas()),
        key_col="k", ts_col="ts", id_col="id",
        watermark_delay_ms=5_000, num_buckets=B,
        keep_versions=1,  # aggressive GC: the manifest must protect kx
    )
    assert q.awaitTermination(600), "stream did not drain"
    got = pd.concat(collected, ignore_index=True) if collected else pd.DataFrame(columns=kn.cols)
    kx = kn.dets(got)
    kx = kx[kx["key"] == "kx"]
    assert len(kx) == 1, got  # the idle bucket's A survived 6 batches


def test_fastpath_offline_compaction_reclaims_and_resumes(spark, tmp_path):
    """compact_state (streaming/state_table.py): stop the stream,
    sweep TTL-expired rows off disk and re-point the manifest at the
    compacted epoch, restart the SAME checkpoint — surviving partial
    matches still complete, expired ones stay dead, and the state
    table physically shrank."""
    import json

    from flink_rtcef_spark.streaming import state_table as stt
    from flink_rtcef_spark.streaming.fastpath import _OUT_SCHEMA

    compiled = compile_pattern(PAT, DECLS)
    src = str(tmp_path / "src")
    # 200 stale keys open an A at t=10s; klive opens an A at t=500s
    rows0 = [(f"stale{i}", 10, i, "A") for i in range(200)]
    rows0 += [("klive", 500, 900, "A"), ("wm", 520, 901, "C")]
    _write_chunks(spark, src, rows0, 1)

    collected = []
    state_dir = f"{tmp_path}/cmp_state"
    ckpt = f"{tmp_path}/cmp_ckpt"

    def run():
        stream = (
            spark.readStream.schema(
                "k string, ts long, id long, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/c*")
        )
        q = start_fastpath_detections(
            stream, compiled,
            state_dir=state_dir, checkpoint_dir=ckpt,
            sink=lambda df, bid: collected.append(df.toPandas()),
            key_col="k", ts_col="ts", id_col="id",
            watermark_delay_ms=5_000, state_ttl_ms=60_000,
            num_buckets=16,
        )
        assert q.awaitTermination(600), "stream did not drain"

    run()  # phase 1: 202 carried keys; wm = 520-5 = 515s
    with open(f"{state_dir}/v1/meta.json") as f:
        before = json.load(f)
    assert before["state_rows"] == 202

    # offline sweep: stale* rows (last event 10s, > 60s behind the
    # 515s watermark) leave DISK, not just reads
    res = stt.compact_state(
        spark, state_dir, _OUT_SCHEMA, state_ttl_ms=60_000
    )
    assert res["rows_before"] == 202 and res["rows_after"] == 2, res
    with open(f"{state_dir}/v1/meta.json") as f:
        after = json.load(f)
    assert after["state_rows"] == 2
    assert all(o == res["epoch"] for o, _r in after["buckets"].values())

    # phase 2 over the same checkpoint: klive's B completes; a stale
    # key's B does not (its run was expired and swept)
    spark.createDataFrame(
        [("klive", 560, 950, "B"), ("stale0", 561, 951, "B")],
        "k string, ts long, id long, event_type string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/c1")
    run()
    got = pd.concat(collected, ignore_index=True)
    assert len(got[got["key"] == "klive"]) == 1
    assert got[got["key"] == "stale0"].empty


@pytest.mark.parametrize("kernel", ["multi", "forecast"])
def test_compact_state_reads_the_row_schema_from_the_manifest(
    spark, tmp_path, kernel
):
    """Every kernel's manifest records its written-row schema, so
    compact_state sweeps a multi-pattern or forecast state dir without
    being handed it, and the state rows before and after compaction are
    equal.  A manifest without the field names the argument to pass."""
    import json

    from flink_rtcef_spark.streaming import state_table as stt

    kn = KERNELS[kernel]
    compiled = kn.compile()
    batches = _id_batches(kn)
    state_dir = str(tmp_path / "state")
    fb = kn.make_fb(compiled, state_dir, num_buckets=2)
    for bid, rows in enumerate(batches):
        fb(
            kn.symbolize(
                spark.createDataFrame(rows, kn.schema), compiled,
                key_col="k", ts_col="ts", id_col="id",
            ),
            bid,
        )
    latest = f"{state_dir}/v{len(batches)}/meta.json"
    with open(latest) as f:
        meta = json.load(f)
    assert meta["schema"] == kn.spec.out.sql
    before = _state_rows(state_dir, len(batches), 2, kn)
    res = stt.compact_state(spark, state_dir)
    assert res["rows_before"] == res["rows_after"] == len(before) == 24
    pd.testing.assert_frame_equal(
        _state_rows(state_dir, len(batches), 2, kn), before
    )

    with open(latest) as f:
        meta = json.load(f)
    del meta["schema"]
    stt.write_meta(state_dir, len(batches), meta)
    with pytest.raises(ValueError, match="schema argument"):
        stt.compact_state(spark, state_dir)


# event ids above 2**53: a float64 pass anywhere in a route rounds them
BIG_ID = 2**60


def _id_batches(kn, n_keys=24, seed=5):
    """Three microbatches over ``n_keys`` keys with event ids above
    2**53: batch 0 opens runs on every key, batches 1 and 2 touch only
    a few keys, so most carried keys are idle (state only)."""
    rng = random.Random(seed)
    keys = [f"k{i}" for i in range(n_keys)]
    plan = [keys, keys[:4], keys[2:8]]
    batches, eid, ts = [], BIG_ID, 100
    for batch_keys in plan:
        rows = []
        for _ in range(6 * len(batch_keys)):
            ts += 1
            eid += 1
            rows.append(kn.row((rng.choice(batch_keys), ts, eid, rng.choice("AABBC"))))
        batches.append(rows)
    return batches


def _routes_taken(state_dir, n_batches):
    """The route each batch took, from its manifest's ``engine_used``."""
    import json

    routes = []
    for v in range(1, n_batches + 1):
        with open(f"{state_dir}/v{v}/meta.json") as f:
            routes.append(json.load(f)["engine_used"])
    return routes


def _state_rows(state_dir, version, num_buckets, kn):
    from flink_rtcef_spark.streaming import state_table as stt

    meta = stt.read_meta(state_dir, version, num_buckets)
    st = stt.read_state_pandas(meta, state_dir, list(range(num_buckets)))
    cols = ["key", *kn.spec.out.carried]
    return st[cols].sort_values("key").reset_index(drop=True)


@pytest.mark.parametrize("kernel", list(KERNELS))
def test_fastpath_routes_agree_on_state_and_detections(
    spark, tmp_path, monkeypatch, kernel
):
    """The same three microbatches pushed through every forced route
    (driver, then sql for the SDFA, arrow for the others) leave equal
    state rows and emit equal detections.  Event ids sit above 2**53, so
    a route that lets an int64 column pass through float64 (a concat or
    Arrow conversion that introduces NaN) emits rounded ids and fails
    here.
    Most carried keys are idle in batches 1 and 2, so the arrow route's
    passive/active split and the driver walk's verbatim pass-through
    both carry state here."""
    kn = KERNELS[kernel]
    compiled = kn.compile()
    batches = _id_batches(kn)
    ids = {r[2] for rows in batches for r in rows}
    results = {}
    for route in kn.routes:
        if route != "driver":
            monkeypatch.setattr(bounded, "DRIVER_MAX_ROWS", 0)
        state_dir = str(tmp_path / f"state_{route}")
        dets = []
        fb = kn.make_fb(
            compiled, state_dir, num_buckets=2,
            sink=lambda df, bid: dets.append(df.toPandas()),
        )
        for bid, rows in enumerate(batches):
            fb(
                kn.symbolize(
                    spark.createDataFrame(rows, kn.schema), compiled,
                    key_col="k", ts_col="ts", id_col="id",
                ),
                bid,
            )
        assert _routes_taken(state_dir, len(batches)) == [route] * len(batches)
        got = pd.concat(dets, ignore_index=True)[kn.cols]
        results[route] = (
            got.sort_values(kn.cols).reset_index(drop=True),
            _state_rows(state_dir, len(batches), 2, kn),
        )
    base_dets, base_state = results["driver"]
    assert len(base_dets) > 0 and len(base_state) == 24
    assert set(base_dets[kn.eid]) <= ids
    for route, (dets, state) in results.items():
        pd.testing.assert_frame_equal(dets, base_dets, obj=route)
        pd.testing.assert_frame_equal(state, base_state, obj=route)


@pytest.mark.parametrize("kernel", list(KERNELS))
def test_fastpath_idle_carried_keys_skip_the_kernel(
    spark, tmp_path, monkeypatch, kernel
):
    """A carried key with no events in the batch is written back
    without the kernel: the driver route's key walk passes its row
    through verbatim (the spec's ``load`` never sees it), and the arrow
    route's passive/active split keeps its row out of the Arrow pass
    (counted by an accumulator around the key walk); the SDFA's sql
    fold, which re-emits the row from its pseudo-event, writes the same
    state.  24 keys carry state into batch 1, whose events touch only 4
    of them; one bucket, so every carried key is read."""
    kn = KERNELS[kernel]
    compiled = kn.compile()
    batches = _id_batches(kn)[:2]
    active = {r[0] for r in batches[1]}
    assert len(active) == 4

    loads = []
    real_load = kn.spec.load
    monkeypatch.setattr(
        kn.spec, "load",
        staticmethod(lambda *v: loads.append(v) or real_load(*v)),
    )
    state_in = spark.sparkContext.accumulator(0)
    real_runner = fastpath._make_partition_runner

    def counting_runner(spec):
        run = real_runner(spec)

        def counted(batches_):
            def tally(it):
                for pdf in it:
                    state_in.add(int(pdf["is_state"].sum()))
                    yield pdf
            return run(tally(batches_))

        return counted

    monkeypatch.setattr(fastpath, "_make_partition_runner", counting_runner)

    def push(route):
        state_dir = str(tmp_path / f"state_{route}")
        fb = kn.make_fb(compiled, state_dir, num_buckets=1)
        for bid, rows in enumerate(batches):
            fb(
                kn.symbolize(
                    spark.createDataFrame(rows, kn.schema), compiled,
                    key_col="k", ts_col="ts", id_col="id",
                ),
                bid,
            )
        return state_dir

    driver_dir = push("driver")
    # batch 0 carries nothing in; batch 1 loads only its 4 active keys
    assert len(loads) == len(active), loads
    before = _state_rows(driver_dir, 1, 1, kn)
    after = _state_rows(driver_dir, 2, 1, kn)
    idle = ~before["key"].isin(active)
    assert idle.sum() == 20 and len(after) == 24
    pd.testing.assert_frame_equal(
        after[~after["key"].isin(active)].reset_index(drop=True),
        before[idle].reset_index(drop=True),
    )

    state_in.value = 0  # only the distributed route's kernel input below
    monkeypatch.setattr(bounded, "DRIVER_MAX_ROWS", 0)
    route = kn.routes[1]
    dist_dir = push(route)
    if route == "arrow":
        assert state_in.value == len(active)
    pd.testing.assert_frame_equal(_state_rows(dist_dir, 2, 1, kn), after)


def test_fastpath_options_are_data_independent():
    """The skeleton's keyword options are exactly these four; the route
    is picked per batch from the data and the bounds of
    streaming/bounded.py, never by an option."""
    params = inspect.signature(fastpath._make_foreach_batch).parameters
    assert [
        n for n, p in params.items() if p.kind is inspect.Parameter.KEYWORD_ONLY
    ] == ["watermark_delay_ms", "state_ttl_ms", "keep_versions", "num_buckets"]


def test_fastpath_resume_layout_is_pinned():
    """A state dir outlives the code that wrote it: the SDFA and
    register written rows, their carried-state columns and the
    detection sink keep exactly these columns, so a state dir an
    earlier version wrote still resumes, and generalizing
    ``_out_schema`` cannot silently move a column."""
    from flink_rtcef_spark.streaming import fastpath_register
    from flink_rtcef_spark.streaming import state_table as stt

    det = "counter long, min_counter long, n_matched int"
    assert fastpath._OUT_SCHEMA == (
        f"kind int, key string, event_id long, ts long, {det}, state int, "
        "min_ts long, last_ts long"
    )
    assert _SdfaSpec.out.state == f"{det}, state int, min_ts long, last_ts long"
    assert fastpath_register._OUT_SCHEMA == (
        f"kind int, key string, event_id long, ts long, {det}, blob binary, "
        "last_ts long"
    )
    assert _RegisterSpec.out.state == f"{det}, blob binary, last_ts long"
    assert stt.DET_SCHEMA == (
        "key string, detection_event_id long, detection_ts long, counter long, "
        "min_counter long, n_matched int"
    )


@pytest.mark.parametrize("kernel", ["sdfa", "multi"])
def test_fastpath_rejects_a_time_window_over_a_numeric_ts(spark, kernel):
    """BatchCEP reads a numeric ts as epoch millis and the fast path as
    epoch seconds, so a time window over it would span 1000x more in
    the stream (k1 A@1, B@3 with {window:5}: BatchCEP detects, the
    stream would not): symbolizing raises, naming the column, when any
    pattern has a time window.  A count window, or a TIMESTAMP column,
    symbolizes as before."""
    from pyspark.sql import functions as F

    timed = (
        ";(IsEventTypePredicate(A),IsEventTypePredicate(B)){partitionBy:k}"
        "{windowType:time}{window:5}"
    )
    patterns = {
        "sdfa": (lambda p: compile_pattern(p, DECLS), symbolize_stream),
        "multi": (
            lambda p: compile_patterns(f"{PAT}&{p}", DECLS),
            _skeleton_symbolize(_MultiSpec),
        ),
    }
    compile_, symbolize = patterns[kernel]
    df = spark.createDataFrame([("k1", 1, 1, "A"), ("k1", 3, 2, "B")], SCHEMA)
    cols = dict(key_col="k", ts_col="ts", id_col="id")
    with pytest.raises(ValueError, match="'ts'.*TIMESTAMP"):
        symbolize(df, compile_(timed), **cols)
    symbolize(df, compile_(timed.replace("{windowType:time}", "")), **cols)
    stamped = df.withColumn("ts", F.timestamp_millis("ts"))
    assert symbolize(stamped, compile_(timed), **cols).count() == 2
