"""Every batch per-key kernel runs on one key walk
(``operators/cep.key_batches``), whose output must not depend on how
Arrow cuts a partition into batches.  The stream has a NULL key whose
40 events span several 7-row batches: each kernel's rows with 7-row
batches must equal its rows with the default batch size, so a NULL-key
run is carried across batch boundaries like any other key's."""

from __future__ import annotations

import random

import pytest

from flink_rtcef_spark.models.hmm import run_trace
from flink_rtcef_spark.models.mc import transition_counts
from flink_rtcef_spark.operators.cep import BatchCEP
from flink_rtcef_spark.operators.cep_presplit import (
    presplit_detections,
    presplit_detections_certified,
)
from flink_rtcef_spark.operators.cep_register import RegisterCEP
from flink_rtcef_spark.operators.multi_cep import MultiPatternCEP
from flink_rtcef_spark.plans.compiler import compile_pattern, compile_patterns
from flink_rtcef_spark.plans.nsra import compile_register_pattern

SEQ_AB = ";(IsEventTypePredicate(A),IsEventTypePredicate(B)){partitionBy:k}"
DECLS = "~(IsEventTypePredicate(A),IsEventTypePredicate(B),IsEventTypePredicate(C))"
REGISTER = (
    '#(;(IsEventTypePredicate(A)["x"],^(IsEventTypePredicate(B),GTAttr(value,"x"))))'
    "{partitionBy:k}{window:4}"
)
COLS = dict(ts_col="timestamp", id_col="id")


def _stream(spark):
    """3 keys x 40 events, one of them NULL."""
    rng = random.Random(29)
    rows = [
        (k, t, i * 40 + t, rng.choice("AABBC"), float(rng.randint(0, 3)))
        for i, k in enumerate(("k1", None, "k2"))
        for t in range(40)
    ]
    return spark.createDataFrame(
        rows, "k string, timestamp long, id long, event_type string, value double"
    )


def _cep(pattern):
    return lambda df: BatchCEP(compile_pattern(pattern, DECLS), **COLS).detections(df)


def _multi(df):
    patterns = SEQ_AB + "&" + ";(IsEventTypePredicate(C),IsEventTypePredicate(C)){partitionBy:k}"
    return MultiPatternCEP(compile_patterns(patterns, DECLS), **COLS).detections(df)


def _register(method):
    return lambda df: getattr(RegisterCEP(compile_register_pattern(REGISTER), **COLS), method)(df)


def _transition_counts(df):
    compiled = compile_pattern(SEQ_AB, DECLS)
    return transition_counts(BatchCEP(compiled, **COLS).symbolized(df), compiled)


def _run_trace(df):
    return run_trace(df, compile_pattern(SEQ_AB, DECLS), key_col="k", ts_col="timestamp", id_col="id")


KERNELS = {
    "cep": (_cep(SEQ_AB), True),
    "cep_windowed": (_cep(SEQ_AB + "{window:5}"), True),
    "multi": (_multi, True),
    "register_detections": (_register("detections"), True),
    "register_matches": (_register("matches"), True),
    "transition_counts": (_transition_counts, False),
    "run_trace": (_run_trace, True),
}


def _rows(frame) -> list:
    return sorted(frame.collect(), key=repr)


@pytest.mark.parametrize("kernel", list(KERNELS))
def test_null_key_rows_do_not_depend_on_arrow_batches(spark, request, kernel):
    run, keyed = KERNELS[kernel]
    df = _stream(spark)
    default = _rows(run(df))
    assert default
    if keyed:
        assert any(r["key"] is None for r in default)
    request.getfixturevalue("small_arrow_batches")
    assert _rows(run(df)) == default


BIG = 2**60


def _forecasts(df):
    from tests.test_forecast import _ab_forecaster

    return _ab_forecaster(df).forecasts(df)


def _presplit(run):
    return lambda df: run(
        df, compile_pattern(SEQ_AB, DECLS), shard_span=10, warmup=5, **COLS
    )


ID_OPERATORS = {
    "cep": (_cep(SEQ_AB), "detection_event_id"),
    "cep_windowed": (_cep(SEQ_AB + "{window:5}"), "detection_event_id"),
    "multi": (_multi, "detection_event_id"),
    "register": (_register("detections"), "detection_event_id"),
    "forecast": (_forecasts, "event_id"),
    "presplit": (_presplit(presplit_detections), "detection_event_id"),
    "presplit_certified": (
        _presplit(presplit_detections_certified), "detection_event_id"
    ),
}


@pytest.mark.parametrize("operator", list(ID_OPERATORS))
def test_event_ids_stay_exact_next_to_a_null_id(spark, operator):
    """A NULL id must not round the other ids of its Arrow batch:
    pandas reads an int64 column holding a NULL as float64, which
    rounds every id above 2**53.  k1's C has a NULL id next to two ids
    above 2**60; k3's detection is the NULL-id event itself, which
    must come back as NULL."""
    rows = [
        ("k1", 1, BIG + 1, "A", 1.0), ("k1", 2, BIG + 3, "B", 5.0),
        ("k1", 3, None, "C", 0.0),
        ("k2", 1, BIG + 5, "A", 1.0), ("k2", 2, BIG + 7, "B", 5.0),
        ("k3", 1, BIG + 9, "A", 1.0), ("k3", 2, None, "B", 5.0),
    ]
    df = spark.createDataFrame(
        rows, "k string, timestamp long, id long, event_type string, value double"
    )
    run, id_col = ID_OPERATORS[operator]
    out = [r.asDict() for r in run(df).collect()]
    detections = [r[id_col] for r in out if r.get("is_detection", True)]
    assert sorted(detections, key=lambda i: (i is not None, i)) == [
        None, BIG + 3, BIG + 7,
    ]
    assert {r[id_col] for r in out} <= {r[2] for r in rows}
