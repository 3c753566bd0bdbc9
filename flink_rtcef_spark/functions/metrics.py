"""Classification metric expressions — the reference's Scores library.

Formulas match ``java/.../utils/Scores.java:20-68`` and
``profiler/classification/ClassificationStatsEstimator.scala:49-79``:
precision/recall/f1 are -1.0 when undefined; MCC uses the
overflow-safe product-of-rates form ``sqrt(p*r*spec*npv) -
sqrt(fdr*fnr*fpr*fomr)`` and is 0.0 when any marginal is 0.

All pure Column expressions over aggregated counts — this is the
"metrics computation" operator (SURVEY.md §2.F F7) expressed so
Catalyst codegens it.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _ratio(num: Column, den: Column, undefined: float = -1.0) -> Column:
    return F.when(den == 0, F.lit(undefined)).otherwise(num / den)


def precision_expr(tp: Column, fp: Column) -> Column:
    return _ratio(tp.cast("double"), (tp + fp).cast("double"))


def recall_expr(tp: Column, fn: Column) -> Column:
    return _ratio(tp.cast("double"), (tp + fn).cast("double"))


def f1_expr(tp: Column, fp: Column, fn: Column) -> Column:
    p = precision_expr(tp, fp)
    r = recall_expr(tp, fn)
    return F.when((p == -1.0) | (r == -1.0) | ((p + r) == 0), F.lit(-1.0)).otherwise(
        2.0 * p * r / (p + r)
    )


def mcc_expr(tp: Column, tn: Column, fp: Column, fn: Column) -> Column:
    """Overflow-safe MCC (Scores.java:40-68): sqrt of products of rates,
    0.0 when any marginal (tp+fp, tp+fn, tn+fp, tn+fn) is 0."""
    tp, tn, fp, fn = (c.cast("double") for c in (tp, tn, fp, fn))
    any_zero = ((tp + fp) == 0) | ((tp + fn) == 0) | ((tn + fp) == 0) | ((tn + fn) == 0)
    p = tp / (tp + fp)
    r = tp / (tp + fn)
    spec = tn / (tn + fp)
    npv = tn / (tn + fn)
    fdr, fnr, fpr, fomr = 1.0 - p, 1.0 - r, 1.0 - spec, 1.0 - npv
    return F.when(any_zero, F.lit(0.0)).otherwise(
        F.sqrt(p * r * spec * npv) - F.sqrt(fdr * fnr * fpr * fomr)
    )


def mcc(tp: int, tn: int, fp: int, fn: int) -> float:
    """:func:`mcc_expr` over Python counts, on the driver: the same
    overflow-safe form (Scores.java:40-68), 0.0 when any marginal is
    0."""
    if (tp + fp) == 0 or (tp + fn) == 0 or (tn + fp) == 0 or (tn + fn) == 0:
        return 0.0
    p = tp / (tp + fp)
    r = tp / (tp + fn)
    spec = tn / (tn + fp)
    npv = tn / (tn + fn)
    return math.sqrt(p * r * spec * npv) - math.sqrt(
        (1 - p) * (1 - r) * (1 - spec) * (1 - npv)
    )


def confusion_agg(pred: Column, actual: Column) -> list[Column]:
    """Conditional-count confusion matrix aggregates [tp, tn, fp, fn]
    over boolean predicted/actual columns."""
    as_long = lambda c: c.cast("long")  # noqa: E731
    return [
        F.sum(as_long(pred & actual)).alias("tp"),
        F.sum(as_long(~pred & ~actual)).alias("tn"),
        F.sum(as_long(pred & ~actual)).alias("fp"),
        F.sum(as_long(~pred & actual)).alias("fn"),
    ]


def metrics_columns(tp="tp", tn="tn", fp="fp", fn="fn") -> list[Column]:
    """Full metric set over already-aggregated count columns."""
    tp, tn, fp, fn = (F.col(c) for c in (tp, tn, fp, fn))
    return [
        F.round(precision_expr(tp, fp), 6).alias("precision"),
        F.round(recall_expr(tp, fn), 6).alias("recall"),
        F.round(f1_expr(tp, fp, fn), 6).alias("f1"),
        F.round(mcc_expr(tp, tn, fp, fn), 6).alias("mcc"),
    ]
