"""Model factory: in-memory train/test on assembled datasets.

G7 parity (WayebAdapter.scala:39-184 + ModelFactoryEngine.java:226-496):
- train: assembled events -> symbolize -> distributed CST -> PST ->
  SPST (+ wt distributions) with the given (pMin, gamma) params;
- test: replay the same events through a fresh forecasting engine and
  return the global MCC;
- min-data guard: skip when the dataset has < 50 events
  (ModelFactoryEngine.java:72).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

from pyspark.sql import DataFrame

from flink_rtcef_spark.models.spst import SPST, train_spst
from flink_rtcef_spark.operators.cep import BatchCEP
from flink_rtcef_spark.operators.forecast import ForecastCEP
from flink_rtcef_spark.plans.compiler import CompiledPattern

MIN_EVENTS = 50

log = logging.getLogger(__name__)


@dataclass
class TrainResult:
    spst: SPST | None
    mcc: float
    f_val: float
    status: str  # success | error
    params: dict
    cause: str = ""  # why status is error


class ModelFactory:
    def __init__(
        self,
        compiled: CompiledPattern,
        key_col: str,
        ts_col: str,
        id_col: str,
        max_order: int = 1,
        horizon: int = 10,
        method: str = "classify_nextk",
        confidence_threshold: float = 0.5,
        spread: int = 5,
    ):
        self.compiled = compiled
        self.key_col = key_col
        self.ts_col = ts_col
        self.id_col = id_col
        self.max_order = max_order
        self.horizon = horizon
        self.method = method
        self.confidence_threshold = confidence_threshold
        self.spread = spread

    def train_and_test(self, events: DataFrame, pmin: float, gamma: float) -> TrainResult:
        params = {"pMin": pmin, "gamma": gamma}
        n = events.count()
        if n < MIN_EVENTS:  # min-data guard
            return TrainResult(
                None, 0.0, 0.0, "error", params, f"fewer than {MIN_EVENTS} events"
            )
        cep = BatchCEP(self.compiled, key_col=self.key_col, ts_col=self.ts_col, id_col=self.id_col)
        try:
            spst = train_spst(
                cep.symbolized(events),
                self.compiled,
                max_order=self.max_order,
                pmin=pmin,
                gamma_min=gamma,
                horizon=self.horizon,
            )
            mcc = self.test(spst, events)
            return TrainResult(spst, mcc, -mcc, "success", params)
        except Exception as e:
            log.exception("train_and_test failed for %s", params)
            return TrainResult(None, 0.0, 0.0, "error", params, f"{type(e).__name__}: {e}")

    def test(self, spst: SPST, events: DataFrame) -> float:
        """Replay through a fresh engine; global MCC over all keys
        (testInMemory:89-184 semantics)."""
        fcep = ForecastCEP(
            spst,
            key_col=self.key_col,
            ts_col=self.ts_col,
            id_col=self.id_col,
            method=self.method,
            confidence_threshold=self.confidence_threshold,
            spread=self.spread,
        )
        return _mcc(**fcep.confusion(events))


def _mcc(tp: int, tn: int, fp: int, fn: int) -> float:
    """Overflow-safe MCC (Scores.java:40-68)."""
    import math

    if (tp + fp) == 0 or (tp + fn) == 0 or (tn + fp) == 0 or (tn + fn) == 0:
        return 0.0
    p = tp / (tp + fp)
    r = tp / (tp + fn)
    spec = tn / (tn + fp)
    npv = tn / (tn + fn)
    return math.sqrt(p * r * spec * npv) - math.sqrt(
        (1 - p) * (1 - r) * (1 - spec) * (1 - npv)
    )
