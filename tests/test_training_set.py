"""ModelFactory.prepare: a session's training set is built once and
every evaluation reuses it.  Training and scoring on the prepared set
give exactly what a plain DataFrame gives, and the materialization is
released on every exit path (Spark's persistent-RDD registry is the
same before and after)."""

from __future__ import annotations

import gc
import logging
import random
import time

import numpy as np
import pandas as pd
import pytest

from flink_rtcef_spark.models.spst import train_spst
from flink_rtcef_spark.operators.cep import BatchCEP
from flink_rtcef_spark.operators.forecast import ForecastCEP
from flink_rtcef_spark.plans.compiler import compile_pattern
from flink_rtcef_spark.streaming import factory as factory_mod
from flink_rtcef_spark.streaming.collector import BucketCollector
from flink_rtcef_spark.streaming.factory import MIN_EVENTS, ModelFactory, _mcc
from flink_rtcef_spark.streaming.loop import RTCEFLoop
from flink_rtcef_spark.streaming.observer import Instruction, Observer
from tests.test_finance_trajectory import DECLS, PATTERN, synth_finance
from tests.test_forecast import small_arrow_batches  # noqa: F401  (fixture)

POINTS = [(0.001, 0.001), (1e-4, 0.001), (0.01, 0.0), (0.05, 0.004)]
FINANCE_COLS = dict(key_col="pan", ts_col="timestamp", id_col="id")


def persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.fixture(autouse=True)
def _earlier_garbage_cleaned(spark):
    """The leak checks compare Spark's whole persistent-RDD registry, and
    earlier tests leave unreferenced persisted RDDs behind (the lazy
    ``localCheckpoint`` of ``connected_components``, for one) that
    Spark's ContextCleaner unpersists only after Python and the JVM have
    collected them.  One such cleanup landing inside a check shrinks the
    registry for a reason outside this module, so collect that garbage
    and let the cleaner finish before each test.

    py4j tells the JVM about a released Python-side object from a
    finalizer thread that sleeps 1 s when idle, so a JVM collection
    started right after ``gc.collect()`` can miss those objects and a
    later, natural one (inside the check) reclaims them.  Hence each
    round drains that queue before ``System.gc()``, and the rounds
    repeat until the registry has held still for 4 of them (40 at
    most).  The queue is a private attribute of PySpark's default
    pinned-thread client (py4j's ``ClientServer``); without it
    (``PYSPARK_PIN_THREAD=false``) the wait is skipped and the rounds
    rely on the sleeps and the 4-round stillness alone, which also
    covers a finalizer that has popped its last object but not yet
    told the JVM."""
    finalizer_queue = getattr(
        spark.sparkContext._gateway._gateway_client, "finalizer_deque", None
    )
    seen, still = None, 0
    for _ in range(40):
        gc.collect()
        for _ in range(100):
            if not finalizer_queue:
                break
            time.sleep(0.05)
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.25)
        now = persistent_rdds(spark)
        still = still + 1 if now == seen else 0
        if still == 4:
            break
        seen = now


def _finance_factory(compiled) -> ModelFactory:
    return ModelFactory(
        compiled, **FINANCE_COLS, max_order=3, horizon=10,
        method="classify_nextk", confidence_threshold=0.3, spread=5,
    )


@pytest.mark.parametrize("arrow_batch", ["default", "7 rows"])
def test_prepared_set_matches_plain_frame(spark, request, arrow_batch):
    if arrow_batch == "7 rows":
        request.getfixturevalue("small_arrow_batches")
    df = spark.createDataFrame(synth_finance(n_cards=12, n_events=200, seed=5))
    compiled = compile_pattern(PATTERN, DECLS)
    factory = _finance_factory(compiled)
    cep = BatchCEP(compiled, **FINANCE_COLS)
    before = persistent_rdds(spark)
    mccs = []
    with factory.prepare(df) as data:
        assert data.n == df.count()
        for pmin, gamma in POINTS:
            prepared = factory.train_and_test(data, pmin, gamma)
            plain = factory.train_and_test(df, pmin, gamma)
            ref = train_spst(
                cep.symbolized(df), compiled, max_order=3,
                pmin=pmin, gamma_min=gamma, horizon=10,
            )
            ref_mcc = _mcc(**ForecastCEP(
                ref, **FINANCE_COLS, method="classify_nextk",
                confidence_threshold=0.3, spread=5,
            ).confusion(df))
            assert prepared.status == plain.status == "success"
            assert prepared.mcc == plain.mcc == ref_mcc
            for spst in (prepared.spst, plain.spst):
                np.testing.assert_array_equal(spst.delta, ref.delta)
                np.testing.assert_array_equal(spst.finals, ref.finals)
                np.testing.assert_array_equal(
                    spst.forecast_table("classify_nextk", 0.3, 5),
                    ref.forecast_table("classify_nextk", 0.3, 5),
                )
            mccs.append(prepared.mcc)
    assert persistent_rdds(spark) == before
    assert any(m != 0.0 for m in mccs)


def _ab_events(spark, n: int, seed: int = 8):
    rng = random.Random(seed)
    rows = [
        (f"u{t % 2}", t + 1, t, "B" if rng.random() < 0.4 else "A") for t in range(n)
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "timestamp", "id", "event_type"])
    )


def _ab_factory() -> ModelFactory:
    compiled = compile_pattern(
        ";(IsEventTypePredicate(A),IsEventTypePredicate(B)){order:1}{partitionBy:k}",
        "~(IsEventTypePredicate(A),IsEventTypePredicate(B))",
    )
    return ModelFactory(
        compiled, key_col="k", ts_col="timestamp", id_col="id", max_order=1, horizon=5
    )


@pytest.mark.parametrize("n", [MIN_EVENTS - 1, 4 * MIN_EVENTS])
def test_train_and_test_on_plain_frame_releases_its_set(spark, n):
    before = persistent_rdds(spark)
    res = _ab_factory().train_and_test(_ab_events(spark, n), 0.001, 0.001)
    assert res.status == ("error" if n < MIN_EVENTS else "success")
    assert persistent_rdds(spark) == before


def test_failed_prepare_releases_its_set(spark, monkeypatch):
    def broken_cst(*args, **kwargs):
        raise RuntimeError("counting failed")

    monkeypatch.setattr(factory_mod, "cst_from_spark", broken_cst)
    before = persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="counting failed"):
        _ab_factory().prepare(_ab_events(spark, 4 * MIN_EVENTS))
    assert persistent_rdds(spark) == before


def _loop(spark, tmp_path, observer=None) -> tuple[RTCEFLoop, object]:
    """A loop whose collector already holds four 100-second buckets, and
    its event stream."""
    factory = _ab_factory()
    events = _ab_events(spark, 400)
    cep = BatchCEP(factory.compiled, key_col="k", ts_col="timestamp", id_col="id")
    initial = train_spst(
        cep.symbolized(events.filter("timestamp <= 100")), factory.compiled,
        max_order=1, horizon=5,
    )
    loop = RTCEFLoop(
        spark=spark, compiled=factory.compiled, initial_model=initial,
        collector=BucketCollector(base_path=str(tmp_path / "lake"), bucket_size=100, last_k=3),
        factory=factory, observer=observer or Observer(),
        key_col="k", ts_col="timestamp", id_col="id", n_opt_evals=2, n_initial=1,
    )
    loop.collector.collect(events.filter("timestamp < 400"))
    return loop, events


@pytest.mark.parametrize("kind", ["optimize", "retrain"])
def test_instruction_deploys_and_releases_its_set(spark, tmp_path, kind):
    loop, _ = _loop(spark, tmp_path)
    calls = []
    train_and_test = loop.factory.train_and_test
    loop.factory.train_and_test = lambda *a, **k: calls.append(a[0]) or train_and_test(*a, **k)
    before = persistent_rdds(spark)
    assert loop.handle_instruction(Instruction(kind, 400, 0.0)) == ("deploy", "")
    assert persistent_rdds(spark) == before
    assert loop.model is not loop.initial_model
    # every evaluation and the final retrain ran on the one prepared set
    assert len(calls) == (3 if kind == "optimize" else 1)
    assert len({id(c) for c in calls}) == 1
    assert isinstance(calls[0], factory_mod.TrainingSet)


def test_failed_train_reaches_the_report_stream(spark, tmp_path, monkeypatch, caplog):
    def broken_train(*args, **kwargs):
        raise RuntimeError("tree exploded")

    monkeypatch.setattr(factory_mod, "spst_from_cst", broken_train)
    loop, events = _loop(spark, tmp_path, Observer(low_score=2.0, grace_period=0))
    before = persistent_rdds(spark)
    with caplog.at_level(logging.WARNING, logger="flink_rtcef_spark.streaming.loop"):
        assert loop.handle_instruction(Instruction("retrain", 400, 0.0)) == (
            "", "RuntimeError: tree exploded"
        )
        point = loop.process_batch(events.filter("timestamp >= 300"), 400)
    assert persistent_rdds(spark) == before
    assert loop.model is loop.initial_model
    assert point.event == "optimize" and point.cause == "RuntimeError: tree exploded"
    warnings = [
        r for r in caplog.records
        if r.name == "flink_rtcef_spark.streaming.loop" and r.levelno == logging.WARNING
    ]
    # one for the retrain, three for the optimise session's trains
    assert len(warnings) == 4
    assert all("tree exploded" in r.getMessage() for r in warnings)
    assert loop.metrics_csv().splitlines()[0] == "timestamp,human_time,runtime_mcc,batch_mcc,event"
