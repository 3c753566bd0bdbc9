"""JVM aggregate-fold CEP kernel (plans/sql_kernel.py) vs the Arrow loop
kernel (operators/cep.py): bit-identical detections on real data and
randomized streams, and a Python-free plan.  The fold runs as the
streaming fast path runs it (``fastpath._SqlFold``), over one batch
with no carried state.

The fold expresses the reference's per-event run advancement
(WayebEngine.java:225-316) as a Catalyst ``aggregate`` lambda; parity
here pins window rewinds, RESET symbols, and match accounting against
the loop kernel that CORRECTNESS rows already gate.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from flink_rtcef_spark.operators.cep import DET_SCHEMA, BatchCEP, sink_columns
from flink_rtcef_spark.plans.compiler import compile_pattern
from flink_rtcef_spark.streaming.fastpath import _SqlFold

SF_SMOKE = "/root/testdata/sf0.001"

PATTERNS = [
    # plain 2-step with RESET declarations
    (";(IsEventTypePredicate(view),IsEventTypePredicate(purchase))"
     "{partitionBy:user_id}",
     "~(IsEventTypePredicate(view),IsEventTypePredicate(purchase))"),
    # 3-step
    (";(IsEventTypePredicate(view),IsEventTypePredicate(click),"
     "IsEventTypePredicate(purchase)){partitionBy:user_id}", None),
    # count window (rewind path)
    (";(IsEventTypePredicate(view),IsEventTypePredicate(purchase))"
     "{partitionBy:user_id}{window:20}", None),
    # Kleene middle
    (";(IsEventTypePredicate(view),*(IsEventTypePredicate(click)),"
     "IsEventTypePredicate(purchase)){partitionBy:user_id}", None),
]


def _fold_detections(compiled, df, key_col, ts_col, id_col):
    """The fold's detections over ``df`` as one batch with no carried
    state, in BatchCEP.detections' columns and key type."""
    cep = BatchCEP(compiled, key_col=key_col, ts_col=ts_col, id_col=id_col)
    rows = _SqlFold(compiled)(cep.symbolized(df), None)
    return rows.filter(F.col("kind") == 0).select(*sink_columns(DET_SCHEMA))


def _norm(pdf):
    cols = pdf.columns.tolist()
    return pdf[cols].sort_values(cols).reset_index(drop=True)


@pytest.mark.parametrize("idx", range(len(PATTERNS)))
def test_fold_matches_loop_kernel_on_events(spark, idx):
    pat, resets = PATTERNS[idx]
    compiled = compile_pattern(*((pat,) if resets is None else (pat, resets)))
    events = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    cep = BatchCEP(compiled, key_col="user_id", ts_col="ts", id_col="event_id")
    loop = _norm(cep.detections(events).toPandas())
    fold = _fold_detections(
        compiled, events, key_col="user_id", ts_col="ts", id_col="event_id"
    ).toPandas()
    fold = _norm(fold[loop.columns.tolist()])
    assert len(loop) > 0, "fixture pattern should produce detections"
    assert fold.equals(loop)


def test_fold_matches_loop_kernel_randomized(spark):
    rng = random.Random(407)
    rows = [
        (rng.choice(("k1", "k2", "k3", "k4")), i + 1, i,
         rng.choice("AAABBC"))
        for i in range(600)
    ]
    df = spark.createDataFrame(
        rows, "user_id string, ts long, event_id long, event_type string"
    )
    pat = (";(IsEventTypePredicate(A),IsEventTypePredicate(B))"
           "{partitionBy:user_id}{window:7}")
    compiled = compile_pattern(pat, "~(IsEventTypePredicate(C))")
    cep = BatchCEP(compiled, key_col="user_id", ts_col="ts", id_col="event_id")
    loop = _norm(cep.detections(df).toPandas())
    fold = _fold_detections(
        compiled, df, key_col="user_id", ts_col="ts", id_col="event_id"
    ).toPandas()
    fold = _norm(fold[loop.columns.tolist()])
    assert len(loop) > 0
    assert fold.equals(loop)


def test_fold_plan_is_python_free(spark):
    pat, resets = PATTERNS[0]
    compiled = compile_pattern(pat, resets)
    events = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    plan = _fold_detections(
        compiled, events, key_col="user_id", ts_col="ts", id_col="event_id"
    )._jdf.queryExecution().executedPlan().toString()
    for marker in ("EvalPython", "InPandas", "PythonUDF", "MapPartitions"):
        assert marker not in plan, f"Python boundary in JVM-kernel plan: {marker}"
