"""Streaming + adaptation loop tests.

The key equivalence: the streaming stateful CEP over chunked microbatches
must produce exactly the batch operator's detections (state carries
across batches).  Control-plane units (observer, optimizer, collector)
and a full closed-loop replay complete the coverage."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_rtcef_spark.functions.metrics import mcc
from flink_rtcef_spark.operators.cep import BatchCEP
from flink_rtcef_spark.plans.compiler import compile_pattern
from flink_rtcef_spark.streaming.collector import BucketCollector
from flink_rtcef_spark.streaming.factory import ModelFactory
from flink_rtcef_spark.streaming.fastpath import start_fastpath_detections
from flink_rtcef_spark.streaming.observer import Observer
from flink_rtcef_spark.streaming.optimizer import BayesLiteOptimizer

PAT = ";(IsEventTypePredicate(A),IsEventTypePredicate(B)){partitionBy:k}"
DECLS = "~(IsEventTypePredicate(A),IsEventTypePredicate(B))"


def _stream_rows(n=300, keys=("k1", "k2", "k3"), seed=11):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        rows.append(
            (rng.choice(keys), i + 1, i, rng.choice("AABC"))
        )
    return pd.DataFrame(rows, columns=["k", "timestamp", "id", "event_type"])


def test_streaming_equals_batch(spark, tmp_path):
    """Chunked file-stream replay through the fast path == batch
    applyInPandas on the union — per-key state survives batches."""
    pdf = _stream_rows()
    compiled = compile_pattern(PAT, DECLS)
    # 5 chunk files; maxFilesPerTrigger=1 -> 5 microbatches
    got = _run_file_stream(
        spark, tmp_path,
        np.array_split(pdf.sort_values("timestamp"), 5),
        lambda stream, **dirs: start_fastpath_detections(
            stream, compiled, ts_col="timestamp", id_col="id", **dirs
        ),
        "stream_dets",
    )

    batch_df = spark.createDataFrame(pdf)
    cep = BatchCEP(compiled, ts_col="timestamp", id_col="id")
    expected = cep.detections(batch_df).toPandas()

    gs = got.sort_values(["key", "detection_event_id"]).reset_index(drop=True)
    es = expected.sort_values(["key", "detection_event_id"]).reset_index(drop=True)
    assert len(gs) == len(es) and len(gs) > 0
    assert list(gs["key"]) == list(es["key"].astype(str))
    assert list(gs["detection_event_id"]) == list(es["detection_event_id"])
    assert list(gs["counter"]) == list(es["counter"])


def test_observer_decisions():
    obs = Observer(train_diff=0.3, opt_diff=0.1, low_score=0.1, grace_period=1)
    # silent window: ignored
    assert obs.on_report(1, 0.0, 0, 0, 0) is None
    # healthy score: no instruction
    assert obs.on_report(2, 0.6, 5, 2, 1) is None
    # small drop (0.6 -> 0.45) > opt_diff -> optimize
    instr = obs.on_report(3, 0.45, 5, 2, 1)
    assert instr is not None and instr.instruction_type == "optimize"
    assert instr.f_val == pytest.approx(-0.45)
    # grace period swallows the next report
    assert obs.on_report(4, 0.05, 5, 2, 1) is None
    # low score after grace -> optimize (safety net)
    instr = obs.on_report(5, 0.05, 5, 2, 1)
    assert instr is not None and instr.instruction_type == "optimize"
    # big drop -> retrain
    obs2 = Observer(train_diff=0.3, opt_diff=0.1, low_score=0.1, grace_period=0)
    obs2.on_report(1, 0.9, 5, 2, 1)
    instr = obs2.on_report(2, 0.5, 5, 2, 1)
    assert instr is not None and instr.instruction_type == "retrain"


def test_optimizer_converges_deterministically():
    def f(x):  # min at (0.03, 0.002)
        return (x[0] - 0.03) ** 2 * 100 + (x[1] - 0.002) ** 2 * 1000

    def run():
        opt = BayesLiteOptimizer([(0.001, 0.1), (0.0, 0.005)], n_initial=5, seed=42)
        for _ in range(15):
            x = opt.ask()
            opt.tell(x, f(x))
        return opt.best

    (x1, y1), (x2, y2) = run(), run()
    assert x1 == x2 and y1 == y2  # deterministic
    assert y1 < f([0.001, 0.0]) * 0.5  # actually improved over a corner


@pytest.mark.parametrize("route", ["driver", "distributed"])
def test_collector_buckets_and_retention(spark, tmp_path, request, route):
    if route == "distributed":
        request.getfixturevalue("distributed_route")
    col = BucketCollector(base_path=str(tmp_path / "lake"), bucket_size=100, last_k=2)
    pdf = pd.DataFrame(
        {"k": ["a"] * 6, "timestamp": [10, 50, 120, 180, 250, 260], "id": range(6), "event_type": list("ABABAB")}
    )
    notif = col.collect(spark.createDataFrame(pdf), ts_col="timestamp")
    assert notif is not None
    assert sorted(col.seen_buckets) == [0, 100, 200]
    assert notif.buckets_range == [100, 200]  # last_k=2
    assembled = col.assemble(spark, notif.buckets_range)
    assert assembled.count() == 4  # events in buckets 100 and 200
    deleted = col.ack(notif.buckets_range)
    assert deleted == [0]
    assert sorted(col.seen_buckets) == [100, 200]


@pytest.mark.parametrize("route", ["driver", "distributed"])
def test_collector_refuses_null_timestamps(spark, tmp_path, request, route):
    """A window with NULL timestamps has rows with no bucket: collect
    raises a ValueError that counts them before either writer runs, so
    the lake stays empty — no ``__HIVE_DEFAULT_PARTITION__`` dir — and
    no bucket is recorded.  The window reaches the collector as the
    adaptation loop hands it over: an Arrow table below the driver
    bound, the DataFrame above it."""
    from flink_rtcef_spark.streaming import bounded

    if route == "distributed":
        request.getfixturevalue("distributed_route")
    lake = tmp_path / "lake"
    col = BucketCollector(base_path=str(lake), bucket_size=100)
    df = spark.createDataFrame(
        [("a", 10, 0), ("a", None, 1), ("a", 120, 2), ("a", None, 3)],
        "k string, timestamp long, id long",
    )
    projected = df.withColumn("bucket_id", col.bucket_col("timestamp"))
    window = bounded.collect_bounded(projected, bounded.max_rows(projected))
    assert (window is None) == (route == "distributed")
    with pytest.raises(ValueError, match="2 rows .* NULL 'timestamp'"):
        col.collect(df if window is None else window, ts_col="timestamp")
    assert not lake.exists()
    assert col.seen_buckets == set() and col.version == 0


def test_mcc_formula_edge_cases():
    assert mcc(0, 0, 0, 0) == 0.0
    assert mcc(10, 10, 0, 0) == pytest.approx(1.0)
    assert mcc(0, 0, 10, 10) == pytest.approx(-1.0)  # all wrong
    assert mcc(0, 10, 0, 10) == 0.0  # zero tp+fp marginal -> 0
    assert mcc(5, 5, 5, 5) == pytest.approx(0.0)


def test_full_loop_replay(spark, tmp_path):
    """Closed loop on a drifting stream: phase 1 has predictable A->B
    sequences, phase 2 flips the dynamics — the observer should fire at
    least one instruction and the loop must keep producing reports."""
    rng = random.Random(5)
    rows = []
    # phase 1: B follows A 80% of the time
    t = 0
    for i in range(600):
        t += 1
        prev_a = rows[-1][3] == "A" if rows else False
        et = ("B" if rng.random() < 0.8 else "A") if prev_a else ("A" if rng.random() < 0.6 else "C")
        rows.append(("u1", t, i, et))
    # phase 2: dynamics flip (B rarely follows A)
    for i in range(600, 1200):
        t += 1
        prev_a = rows[-1][3] == "A"
        et = ("B" if rng.random() < 0.1 else "C") if prev_a else ("A" if rng.random() < 0.6 else "C")
        rows.append(("u1", t, i, et))
    events = spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "timestamp", "id", "event_type"])
    )
    compiled = compile_pattern(
        ";(IsEventTypePredicate(A),IsEventTypePredicate(B)){order:1}{partitionBy:k}",
        "~(IsEventTypePredicate(A),IsEventTypePredicate(B),IsEventTypePredicate(C))",
    )
    factory = ModelFactory(
        compiled, key_col="k", ts_col="timestamp", id_col="id",
        max_order=1, horizon=5, confidence_threshold=0.5, spread=3,
    )
    collector = BucketCollector(base_path=str(tmp_path / "lake2"), bucket_size=200, last_k=3)
    from flink_rtcef_spark.models.spst import train_spst
    from flink_rtcef_spark.operators.cep import BatchCEP
    from flink_rtcef_spark.streaming.loop import RTCEFLoop

    warmup = events.filter(F.col("timestamp") <= 200)
    cep = BatchCEP(compiled, key_col="k", ts_col="timestamp", id_col="id")
    initial = train_spst(cep.symbolized(warmup), compiled, max_order=1, horizon=5)
    loop = RTCEFLoop(
        spark=spark,
        compiled=compiled,
        initial_model=initial,
        collector=collector,
        factory=factory,
        observer=Observer(train_diff=0.5, opt_diff=0.15, low_score=0.05, grace_period=1),
        key_col="k",
        ts_col="timestamp",
        id_col="id",
        n_opt_evals=3,
        n_initial=2,
    )
    points = loop.replay(events, batch_seconds=200)
    assert len(points) >= 5
    # reports carry both runtime and batch MCC
    assert all(-1.0 <= p.batch_mcc <= 1.0 for p in points)
    # the drift must trigger at least one adaptation instruction
    assert any(p.event for p in points), [p.event for p in points]


def _run_file_stream(
    spark, tmp_path, chunks, start, name,
    schema="k string, timestamp long, id long, event_type string",
):
    """Write each chunk as one file, stream with maxFilesPerTrigger=1
    (one microbatch per chunk, in order) through ``start(stream,
    state_dir=, checkpoint_dir=, sink=)`` — a fast-path starter — and
    return the rows its sink collected."""
    src = tmp_path / name
    src.mkdir()
    for c, chunk in enumerate(chunks):
        spark.createDataFrame(chunk).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"c{c}")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "c*"))
    )
    collected = []
    q = start(
        stream,
        state_dir=str(tmp_path / f"{name}_state"),
        checkpoint_dir=str(tmp_path / f"{name}_ckpt"),
        sink=lambda df, batch_id: collected.append(df.toPandas()),
    )
    assert q.awaitTermination(600), "stream did not drain"
    return pd.concat(collected, ignore_index=True)


def _assert_event_clock_ttl(spark, tmp_path, build, n_detections, name):
    """The 3-batch event-clock TTL scenario.  ``build(ttl_ms)`` is a
    ``_run_file_stream`` starter under ``state_ttl_ms=ttl_ms``.

    Batch 1: u1 starts a match (A at t=100); a filler key advances the
    watermark.  Batch 2: filler events at t=5000 push the watermark far
    past u1's TTL (100 s + 600 s), so u1's state must be reclaimed.
    Batch 3: u1's B arrives at t=5100, and a fresh run sees only B.
    With a 600 s TTL nothing is detected; the control (no TTL, so no
    timer and a deterministic drain) keeps A, and B completes
    ``n_detections`` matches."""
    cols = ["k", "timestamp", "id", "event_type", "value"]
    b1 = pd.DataFrame(
        [("u1", 100, 0, "A", 5.0), ("w", 100, 1, "C", 0.0)], columns=cols
    )
    b2 = pd.DataFrame([("w", 5000, 2, "C", 0.0)], columns=cols)
    b3 = pd.DataFrame(
        [("u1", 5100, 3, "B", 5.0), ("w", 5100, 4, "C", 0.0)], columns=cols
    )
    schema = "k string, timestamp long, id long, event_type string, value double"
    got = _run_file_stream(
        spark, tmp_path, [b1, b2, b3], build(600_000), f"ttl_event{name}", schema
    )
    assert len(got) == 0, got
    ctrl = _run_file_stream(
        spark, tmp_path, [b1, b2, b3], build(0), f"ttl_none{name}", schema
    )
    assert len(ctrl) == n_detections, ctrl
    assert set(ctrl["key"]) == {"u1"}
    assert set(ctrl["detection_event_id"]) == {3}


def test_event_time_ttl_expires_partial_match(spark, tmp_path):
    """Run expiry on the EVENT clock (ERFEngine.scala:213-216): an A
    whose B arrives after the event-time TTL must NOT complete the
    match, however fast the wall clock ran.  The control replays with
    NO TTL at all (state_ttl_ms=0): the stale A survives and the late
    B completes the match — proving the expiry followed the event
    clock, not some incidental state loss.

    The expiry runs on the fast path's one clock, the event clock
    (the watermark carried in the state manifest)."""
    compiled = compile_pattern(PAT, DECLS)

    def build(ttl_ms):
        return lambda stream, **dirs: start_fastpath_detections(
            stream, compiled, key_col="k", ts_col="timestamp", id_col="id",
            watermark_delay_ms=0, state_ttl_ms=ttl_ms, **dirs,
        )

    _assert_event_clock_ttl(spark, tmp_path, build, 1, "")


@pytest.mark.parametrize("builder", ["register", "multi"])
def test_event_time_ttl_expires_partial_match_register_and_multi(
    spark, tmp_path, builder
):
    """The register and multi-pattern starters expire runs on the event
    clock exactly as start_fastpath_detections does, on the same
    scenario; the control completes one match per pattern."""
    from flink_rtcef_spark.plans.compiler import compile_patterns
    from flink_rtcef_spark.plans.nsra import compile_register_pattern
    from flink_rtcef_spark.streaming.fastpath import start_fastpath_multi
    from flink_rtcef_spark.streaming.fastpath_register import (
        start_fastpath_register,
    )

    if builder == "register":
        compiled = compile_register_pattern(
            ';(IsEventTypePredicate(A)["x"],^(IsEventTypePredicate(B),'
            'EQAttr(value,"x"))){partitionBy:k}{window:2}'
        )
        build_fn, n_patterns = start_fastpath_register, 1
    else:
        compiled = compile_patterns(
            f"{PAT}&#(;(IsEventTypePredicate(A),IsEventTypePredicate(B)))"
            "{partitionBy:k}",
            DECLS,
        )
        build_fn, n_patterns = start_fastpath_multi, 2

    def build(ttl_ms):
        return lambda stream, **dirs: build_fn(
            stream, compiled, key_col="k", ts_col="timestamp", id_col="id",
            watermark_delay_ms=0, state_ttl_ms=ttl_ms, **dirs,
        )

    _assert_event_clock_ttl(spark, tmp_path, build, n_patterns, f"_{builder}")


def test_event_time_ttl_keeps_live_keys(spark, tmp_path):
    """Keys whose events keep arriving within the TTL are untouched:
    the event-clock expiry re-arms per batch and cross-batch matches
    still complete (state is NOT dropped spuriously)."""
    compiled = compile_pattern(PAT, DECLS)
    cols = ["k", "timestamp", "id", "event_type"]
    b1 = pd.DataFrame([("u1", 100, 0, "A")], columns=cols)
    b2 = pd.DataFrame([("u1", 200, 1, "B")], columns=cols)  # within ttl

    got = _run_file_stream(
        spark, tmp_path, [b1, b2],
        lambda stream, **dirs: start_fastpath_detections(
            stream, compiled, key_col="k", ts_col="timestamp", id_col="id",
            watermark_delay_ms=0, state_ttl_ms=600_000, **dirs,
        ),
        "ttl_live",
    )
    assert len(got) == 1 and got["detection_event_id"][0] == 1
