"""The adaptation loop's bounded driver route agrees with its distributed
plans.  Below ``bounded.DRIVER_MAX_ROWS`` a report window is collected
once as Arrow and feeds both the collector's pyarrow write and the
driver scorer, and the factory's training set is a key-sorted pandas
frame with a numpy CST; the ``distributed_route`` fixture forces the
bound to 0, so the same calls run the Spark plans.  Both routes must
give equal confusion counts, CST count tables, deployed SPST tables and
``metrics_csv``, over NULL keys, a long id column holding NULLs and
values above 2**53, and 7-row Arrow batches."""

from __future__ import annotations

import logging
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from flink_rtcef_spark.models.cst import cst_counts_pandas, cst_counts_spark
from flink_rtcef_spark.models.spst import train_spst
from flink_rtcef_spark.operators.cep import BatchCEP, key_sorted_pandas
from flink_rtcef_spark.operators.forecast import ForecastCEP
from flink_rtcef_spark.plans.compiler import compile_pattern
from flink_rtcef_spark.streaming import bounded
from flink_rtcef_spark.streaming.collector import BucketCollector
from flink_rtcef_spark.streaming.factory import ModelFactory
from flink_rtcef_spark.streaming.loop import RTCEFLoop
from flink_rtcef_spark.streaming.observer import Instruction, Observer

PAT = ";(IsEventTypePredicate(A),IsEventTypePredicate(B)){order:1}{partitionBy:k}"
DECLS = "~(IsEventTypePredicate(A),IsEventTypePredicate(B))"
SCHEMA = "k string, timestamp long, id long, event_type string"
COLS = dict(key_col="k", ts_col="timestamp", id_col="id")
BIG = 2**60
POINTS = [(0.001, 0.001), (1e-4, 0.0), (0.05, 0.004)]


def _rows(n: int = 480, seed: int = 11) -> list[tuple]:
    """Three keys and a NULL key over ``n`` seconds; every seventh id is
    NULL and the others sit above 2**53."""
    rng = random.Random(seed)
    return [
        (
            rng.choice(("k1", "k2", "k3", None)), t + 1,
            None if t % 7 == 3 else BIG + t,
            "B" if rng.random() < 0.35 else "A",
        )
        for t in range(n)
    ]


def _events(spark):
    return spark.createDataFrame(_rows(), SCHEMA)


def _factory(compiled) -> ModelFactory:
    return ModelFactory(compiled, **COLS, max_order=2, horizon=5)


def _tables(spst) -> tuple:
    return spst.delta, spst.finals, spst.forecast_table("classify_nextk", 0.5, 5)


def _assert_same_model(a, b) -> None:
    for x, y in zip(_tables(a), _tables(b)):
        np.testing.assert_array_equal(x, y)


def _loop(spark, lake: str, observer: Observer) -> RTCEFLoop:
    """A loop over 120-second buckets whose initial model is trained on
    the first bucket of ``_events``."""
    compiled = compile_pattern(PAT, DECLS)
    initial = train_spst(
        BatchCEP(compiled, **COLS).symbolized(_events(spark).filter("timestamp <= 120")),
        compiled, max_order=2, horizon=5,
    )
    return RTCEFLoop(
        spark=spark, compiled=compiled, initial_model=initial,
        collector=BucketCollector(base_path=lake, bucket_size=120, last_k=3),
        factory=_factory(compiled), observer=observer,
        key_col="k", ts_col="timestamp", id_col="id", n_opt_evals=3, n_initial=2,
    )


def _replay(spark, lake: str) -> dict:
    """A loop replay of four 120-second windows whose Observer asks for
    one optimisation at the third; returns what it reported and deployed,
    and every window's confusion counts."""
    loop = _loop(spark, lake, Observer(low_score=2.0, grace_period=10, grace_left=2))
    initial = loop.model
    counts = []
    engine_report = loop._engine_report

    def recording(window):
        out = engine_report(window)
        counts.append(out[2])
        return out

    loop._engine_report = recording
    points = loop.replay(_events(spark), batch_seconds=120)
    return {
        "csv": loop.metrics_csv(),
        "events": [p.event for p in points],
        "routes": {p.route for p in points},
        "counts": counts,
        "model": loop.model,
        "initial": initial,
    }


@pytest.mark.parametrize("arrow_batch", ["default", "7 rows"])
def test_loop_routes_agree(spark, tmp_path, monkeypatch, request, arrow_batch):
    if arrow_batch == "7 rows":
        request.getfixturevalue("small_arrow_batches")
    driver = _replay(spark, str(tmp_path / "driver"))
    monkeypatch.setattr(bounded, "DRIVER_MAX_ROWS", 0)
    distributed = _replay(spark, str(tmp_path / "distributed"))
    assert driver["routes"] == {"driver"}
    assert distributed["routes"] == {"distributed"}
    assert "optimize+deploy" in driver["events"]
    assert driver["model"] is not driver["initial"]
    assert sum(c["tp"] + c["fp"] for c in driver["counts"]) > 0
    assert driver["counts"] == distributed["counts"]
    assert driver["csv"] == distributed["csv"]
    _assert_same_model(driver["model"], distributed["model"])


@pytest.mark.parametrize("arrow_batch", ["default", "7 rows"])
def test_training_sets_agree(spark, request, monkeypatch, arrow_batch):
    """The driver ``TrainingSet`` holds the distributed one's rows, row
    count and CST, and every evaluation on it trains the same SPST and
    scores the same confusion counts."""
    if arrow_batch == "7 rows":
        request.getfixturevalue("small_arrow_batches")
    compiled = compile_pattern(PAT, DECLS)
    factory = _factory(compiled)
    events = _events(spark)

    def session():
        with factory.prepare(events) as data:
            runs = []
            for pmin, gamma in POINTS:
                res = factory.train_and_test(data, pmin, gamma)
                fcep = ForecastCEP(res.spst, **COLS)
                runs.append((res, fcep.confusion_key_sorted(data.frame)))
            return type(data.frame), data.n, data.cst, runs

    driver = session()
    monkeypatch.setattr(bounded, "DRIVER_MAX_ROWS", 0)
    distributed = session()
    assert driver[0] is pd.DataFrame and distributed[0] is not pd.DataFrame
    assert driver[1] == distributed[1] == events.count()
    assert driver[2] == distributed[2]
    for (d_res, d_counts), (s_res, s_counts) in zip(driver[3], distributed[3]):
        assert d_res.status == s_res.status == "success"
        assert d_res.mcc == s_res.mcc
        assert d_counts == s_counts
        _assert_same_model(d_res.spst, s_res.spst)


def test_driver_cst_counts_equal_the_spark_table(spark):
    compiled = compile_pattern(PAT, DECLS)
    sym = BatchCEP(compiled, **COLS).symbolized(_events(spark))
    for max_order in (1, 2, 3):
        spark_counts = cst_counts_spark(sym, max_order)
        driver_counts = cst_counts_pandas(key_sorted_pandas(sym.toArrow()), max_order)
        assert driver_counts == spark_counts
        assert len(spark_counts[0]) > 2 * max_order


def test_driver_cst_counts_without_int64_codes(spark):
    """Past the order whose words no longer fit one int64 code, words
    are counted row-wise, with the same counts."""
    compiled = compile_pattern(PAT, DECLS)
    sym = BatchCEP(compiled, **COLS).symbolized(_events(spark))
    frame = key_sorted_pandas(sym.toArrow())
    row_wise, total = cst_counts_pandas(frame, 63)
    coded, coded_total = cst_counts_pandas(frame, 3)
    assert total == coded_total
    assert {w: c for w, c in row_wise.items() if len(w) <= 4} == coded
    assert max(len(w) for w in row_wise) > 4


def test_key_sorted_pandas_keeps_ids_exact_and_nulls_first():
    table = pa.table({
        "key": ["b", None, "a", "a"],
        "ts": [1, 5, 2, 2],
        "event_id": [BIG + 1, None, BIG + 3, BIG + 2],
        "symbol": pa.array([0, 1, 0, 1], pa.int32()),
    })
    pdf = key_sorted_pandas(table)
    assert pdf["key"].tolist() == [None, "a", "a", "b"]
    assert pdf["event_id"].tolist() == [None, BIG + 2, BIG + 3, BIG + 1]


@pytest.mark.parametrize("route", ["driver", "distributed"])
def test_mixed_lake_assembles_with_one_schema(spark, tmp_path, request, route):
    """A lake whose buckets were written by both writers (the window's
    Arrow table and a Spark write) assembles with the schema and rows of
    an all-Spark lake, ids above 2**53 and NULL ids included, and the
    factory ACK deletes buckets of both kinds, on both read routes."""
    if route == "distributed":
        request.getfixturevalue("distributed_route")
    rows = _rows(359)
    df = spark.createDataFrame(rows, SCHEMA).selectExpr(
        "*", "timestamp_seconds(timestamp) AS event_time",
        "CAST(timestamp AS double) / 7 AS x", "timestamp % 2 = 0 AS flag",
    )
    mixed = BucketCollector(str(tmp_path / "mixed"), bucket_size=120)
    plain = BucketCollector(str(tmp_path / "plain"), bucket_size=120)
    windows = [
        df.filter(f"timestamp >= {lo} AND timestamp < {lo + 120}") for lo in (0, 120, 240)
    ]
    for i, w in enumerate(windows):
        plain.collect(w)
        if i % 2:
            mixed.collect(w)
        else:
            mixed.collect(w.withColumn("bucket_id", mixed.bucket_col()).toArrow())
    assert mixed.seen_buckets == plain.seen_buckets == {0, 120, 240}
    buckets = sorted(mixed.seen_buckets)
    got = mixed.assemble(spark, buckets)
    want = plain.assemble(spark, buckets)
    assert got.schema == want.schema
    assert dict(got.dtypes)["id"] == "bigint"
    got_pdf = got.orderBy("timestamp").toPandas()
    pd.testing.assert_frame_equal(got_pdf, want.orderBy("timestamp").toPandas())
    assert [r.id for r in got.orderBy("timestamp").select("id").collect()] == [
        r[2] for r in rows
    ]

    assert mixed.ack([240]) == [0, 120]
    lake = tmp_path / "mixed"
    assert not (lake / "bucket_id=0").exists()
    assert not (lake / "bucket_id=120").exists()
    assert (lake / "bucket_id=240").exists()
    assert mixed.assemble(spark, [240]).count() == windows[2].count()


def _scans_parquet(df) -> bool:
    return "FileScan parquet" in df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "first, offset",
    [("spark", 0), ("arrow", 0), ("arrow", 120 * 2**25)],  # 120 * 2**25 > 2**31
    ids=["spark-bucket-first", "arrow-bucket-first", "arrow-bucket-first-bigint-buckets"],
)
def test_driver_assemble_equals_the_lake_read(spark, tmp_path, first, offset):
    """Below the bound ``assemble`` reads the covered buckets with
    pyarrow, not Spark's parquet scan, and gives what
    ``spark.read.parquet(lake)`` filtered to them gives: schema, dtypes
    and rows.  The lake mixes both writers, its first file by path from
    either, and only that file has a ``note`` column, so the lake's
    schema is that file's; it holds TIMESTAMP, TIMESTAMP_NTZ, double and
    boolean columns, NULL ids and ids above 2**60, Spark's ``_SUCCESS``
    and ``.crc`` files, and buckets past an int's range.  After ``ack``
    the deleted buckets stay out, and the schema loses ``note``."""
    rows = [(k, ts + offset, i, e) for k, ts, i, e in _rows(479)]
    df = spark.createDataFrame(rows, SCHEMA).selectExpr(
        "*", "timestamp_seconds(timestamp) AS event_time",
        "CAST(timestamp_seconds(timestamp) AS TIMESTAMP_NTZ) AS wall_time",
        "CAST(timestamp AS double) / 7 AS x", "timestamp % 2 = 0 AS flag",
    )
    lake = tmp_path / "lake"
    col = BucketCollector(str(lake), bucket_size=120)
    for i in range(4):
        lo = offset + 120 * i
        w = df.filter(f"timestamp >= {lo} AND timestamp < {lo + 120}")
        if i == 0:
            w = w.withColumn("note", F.lit("first"))
        # the bucket dirs sort by path in write order
        if (i % 2 == 0) == (first == "spark"):
            col.collect(w)
        else:
            col.collect(w.withColumn("bucket_id", col.bucket_col()).toArrow())
    buckets = sorted(col.seen_buckets)
    assert (lake / "_SUCCESS").exists() and list(lake.glob("bucket_id=*/.*.crc"))

    def assert_same(covered):
        got = col.assemble(spark, covered)
        want = spark.read.parquet(str(lake)).filter(F.col("bucket_id").isin(covered))
        assert not _scans_parquet(got) and _scans_parquet(want)
        assert got.schema == want.schema
        assert got.dtypes == want.dtypes
        assert got.orderBy("timestamp").collect() == want.orderBy("timestamp").collect()
        return got

    got = assert_same(buckets[1:])
    types = dict(got.dtypes)
    assert (types["event_time"], types["wall_time"], types["x"], types["flag"]) == (
        "timestamp", "timestamp_ntz", "double", "boolean"
    )
    assert types["bucket_id"] == ("bigint" if offset else "int")
    assert {r.note for r in got.select("note").collect()} == {None}
    ids = [r.id for r in got.orderBy("timestamp").collect()]
    assert None in ids and max(i for i in ids if i is not None) >= BIG
    assert got.count() == df.filter(f"timestamp >= {buckets[1]}").count()

    assert col.ack(buckets[2:]) == buckets[:2]
    got = assert_same(buckets)
    assert sorted({r.bucket_id for r in got.collect()}) == buckets[2:]
    assert "note" not in got.columns


@pytest.mark.parametrize("route", ["driver", "distributed"])
def test_instruction_reads_the_lake_on_its_route(spark, tmp_path, request, caplog, route):
    """Below the bound an optimise instruction runs exactly one Spark
    job, the training set's bounded collect over the lake read back
    with pyarrow; under ``distributed_route`` it reads the lake through
    Spark's parquet scan.  Either way it logs its training set's route,
    row count and covered buckets."""
    if route == "distributed":
        request.getfixturevalue("distributed_route")
    events = _events(spark)
    loop = _loop(spark, str(tmp_path / "lake"), Observer(low_score=-2.0))
    for lo in (0, 120, 240):
        loop.process_batch(events.filter(f"timestamp >= {lo} AND timestamp < {lo + 120}"), lo + 120)
    assembled = []
    assemble = loop.collector.assemble
    loop.collector.assemble = lambda *a: assembled.append(assemble(*a)) or assembled[-1]
    sc = spark.sparkContext
    group = f"instruction-{id(loop)}"
    sc.setJobGroup(group, "one optimise instruction")
    caplog.set_level(logging.INFO, logger="flink_rtcef_spark.streaming.loop")
    try:
        assert loop.handle_instruction(Instruction("optimize", 360, 0.0)) == ("deploy", "")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert _scans_parquet(assembled[0]) == (route == "distributed")
    assert jobs == 1 if route == "driver" else jobs > 1
    n = _events(spark).filter("timestamp < 360").count()
    assert f"optimize: training set of {n} rows over buckets [0, 120, 240], {route} route" in [
        r.getMessage() for r in caplog.records
    ]


def test_plain_driver_window_is_one_spark_job(spark, tmp_path):
    """A report window below the bound that fires no instruction runs
    exactly one Spark job: the bounded collect that feeds both the
    collector and the scorer."""
    events = _events(spark)
    loop = _loop(spark, str(tmp_path / "lake"), Observer(low_score=-2.0))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for i, lo in enumerate((0, 120, 240)):
        batch = events.filter(f"timestamp >= {lo} AND timestamp < {lo + 120}")
        group = f"driver-window-{id(loop)}-{i}"
        sc.setJobGroup(group, "one report window")
        try:
            point = loop.process_batch(batch, lo + 120)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert point.route == "driver" and point.event == ""
        assert len(tracker.getJobIdsForGroup(group)) == 1


def test_replay_finds_nonempty_windows_in_one_aggregate(spark, tmp_path):
    """``replay`` runs at most two Spark jobs outside ``process_batch``
    (one aggregate) however many windows it walks, and skips exactly
    the empty windows: here [121, 241), whose neighbouring aligned
    buckets hold ts 120 and 241, one step either side of it."""
    events = _events(spark).filter("timestamp <= 120 OR timestamp > 240")
    loop = _loop(spark, str(tmp_path / "lake"), Observer(low_score=-2.0))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"replay-{id(loop)}"
    process_batch = loop.process_batch
    windows = []

    def in_own_group(batch, batch_ts):
        windows.append(batch_ts)
        sc.setJobGroup(f"{group}-window-{batch_ts}", "one report window")
        try:
            return process_batch(batch, batch_ts)
        finally:
            sc.setJobGroup(group, "replay")

    loop.process_batch = in_own_group
    sc.setJobGroup(group, "replay")
    try:
        points = loop.replay(events, batch_seconds=120)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert windows == [121, 361, 481]
    assert [p.timestamp for p in points] == windows
    assert 1 <= len(tracker.getJobIdsForGroup(group)) <= 2


def test_wide_rows_shrink_the_driver_bound(spark, tmp_path, monkeypatch):
    """The bound caps the bytes a probe collects, not only its rows: a
    window's row is estimated by Spark's type sizes, and a wider row
    gets proportionally fewer rows than ``DRIVER_MAX_ROWS``.  The same
    120 events fit as the stream's own rows and go distributed with
    eight more string columns, and both routes score them alike."""
    monkeypatch.setattr(bounded, "DRIVER_MAX_ROWS", 400)
    events = _events(spark).filter("timestamp <= 120")
    wide = events.select("*", *[F.lit("x" * 64).alias(f"pad{i}") for i in range(8)])
    sym = BatchCEP(compile_pattern(PAT, DECLS), **COLS).symbolized(events)
    assert bounded.max_rows(sym) == 400
    assert bounded.max_rows(wide) < bounded.max_rows(events) < 400
    points = [
        _loop(spark, str(tmp_path / name), Observer(low_score=-2.0)).process_batch(w, 120)
        for name, w in (("narrow", events), ("wide", wide))
    ]
    assert [p.route for p in points] == ["driver", "distributed"]
    assert points[0].batch_mcc == points[1].batch_mcc
