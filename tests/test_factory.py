"""ModelFactory failures carry their cause: the min-data guard and a
training exception both come back as status="error" with a reason,
and the exception's traceback is logged."""

from __future__ import annotations

import logging

import pandas as pd

from flink_rtcef_spark.plans.compiler import compile_pattern
from flink_rtcef_spark.streaming import factory as factory_mod
from flink_rtcef_spark.streaming.factory import MIN_EVENTS, ModelFactory

PAT = ";(IsEventTypePredicate(A),IsEventTypePredicate(B)){order:1}{partitionBy:k}"
DECLS = "~(IsEventTypePredicate(A),IsEventTypePredicate(B))"


def _factory() -> ModelFactory:
    return ModelFactory(
        compile_pattern(PAT, DECLS), key_col="k", ts_col="timestamp", id_col="id",
        max_order=1, horizon=5,
    )


def _events(spark, n: int):
    rows = [("u1", t + 1, t, "AB"[t % 2]) for t in range(n)]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "timestamp", "id", "event_type"])
    )


def test_min_data_guard_names_its_cause(spark):
    res = _factory().train_and_test(_events(spark, MIN_EVENTS - 1), 0.001, 0.001)
    assert res.status == "error"
    assert res.cause == f"fewer than {MIN_EVENTS} events"


def test_training_error_keeps_cause_and_logs_traceback(spark, monkeypatch, caplog):
    def broken_train(*args, **kwargs):
        raise RuntimeError("tree exploded")

    monkeypatch.setattr(factory_mod, "spst_from_cst", broken_train)
    with caplog.at_level(logging.ERROR, logger=factory_mod.__name__):
        res = _factory().train_and_test(_events(spark, 2 * MIN_EVENTS), 0.001, 0.001)
    assert res.status == "error" and res.spst is None
    assert res.cause == "RuntimeError: tree exploded"
    [rec] = [r for r in caplog.records if r.name == factory_mod.__name__]
    assert rec.levelno == logging.ERROR
    assert rec.exc_info is not None and rec.exc_info[0] is RuntimeError
