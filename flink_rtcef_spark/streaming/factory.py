"""Model factory: in-memory train/test on assembled datasets.

G7 parity (WayebAdapter.scala:39-184 + ModelFactoryEngine.java:226-496):
- prepare: assembled events -> symbolize, built once per session with
  their count and CST; every evaluation of the session reuses them (the
  reference re-loads the locked dataset per opt_step,
  loadEvents:588-637).  Within the driver bound (``bounded.max_rows``)
  the set is one driver collect, key-sorted in pandas (the reference's
  ``testInMemory``); above it, a key shuffle materialized in Spark;
- train: CST -> PST -> SPST (+ wt distributions) with the given
  (pMin, gamma) params;
- test: replay the same events through a fresh forecasting engine and
  return the global MCC;
- min-data guard: skip when the dataset has < 50 events
  (ModelFactoryEngine.java:72).
"""

from __future__ import annotations

import logging
from contextlib import nullcontext
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame

from flink_rtcef_spark.functions.metrics import mcc
from flink_rtcef_spark.models.cst import CounterSuffixTree, cst_counts_pandas, cst_from_spark
from flink_rtcef_spark.models.spst import SPST, spst_from_cst
from flink_rtcef_spark.operators.cep import BatchCEP, key_sorted_pandas
from flink_rtcef_spark.operators.forecast import ForecastCEP
from flink_rtcef_spark.plans.compiler import CompiledPattern
from flink_rtcef_spark.streaming import bounded

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


@dataclass
class TrainingSet:
    """One session's training data, built once by ``ModelFactory.prepare``:
    the events in ``BatchCEP.key_sorted`` shape — a materialized Spark
    frame, or below the driver bound its pandas twin
    (``key_sorted_pandas``) — with their row count, context counts
    (``cst`` is None under the min-data guard) and ``route``, the one
    its rows took (``driver`` | ``distributed``).  Leaving its ``with``
    block releases a materialization, on every exit path."""

    frame: DataFrame | pd.DataFrame
    route: str
    n: int = 0
    cst: CounterSuffixTree | None = None

    def __enter__(self) -> TrainingSet:
        return self

    def __exit__(self, *exc) -> None:
        self.release()

    def release(self) -> None:
        # a localCheckpoint'ed frame is a LogicalRDD over the persisted
        # checkpoint RDD; unpersisting that RDD frees its blocks
        if isinstance(self.frame, DataFrame):
            self.frame._jdf.queryExecution().logical().rdd().unpersist(True)


class ModelFactory:
    """In-memory train/test of SPST models: `prepare` builds a session's
    `TrainingSet` once (one driver collect below the bound; else one key
    shuffle, one count, one context count); `train_and_test` trains one
    (pMin, gamma) on it and scores it."""

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

    def prepare(self, events: DataFrame) -> TrainingSet:
        """Symbolize and key-sort ``events`` once, and count them and
        their contexts: everything of a train/test call that does not
        depend on (pMin, gamma).

        Within the driver bound (``bounded.max_rows``: ``DRIVER_MAX_ROWS``
        events of a string key), one bounded collect brings them to the
        driver, where they are sorted and counted
        (``cst_counts_pandas``), so each evaluation is ``spst_from_cst``
        plus one kernel call with no Spark job.  Above it, they are
        key-shuffled and materialized with ``localCheckpoint(eager=True)``
        rather than ``persist()``: a cached plan keeps all
        ``spark.sql.shuffle.partitions`` partitions of the shuffle,
        while the checkpoint keeps AQE's coalesced read, so each score
        stays one Python task on a small set."""
        cep = BatchCEP(self.compiled, key_col=self.key_col, ts_col=self.ts_col, id_col=self.id_col)
        symbolized = cep.symbolized(events)
        table = bounded.collect_bounded(symbolized, bounded.max_rows(symbolized))
        if table is not None:
            frame = key_sorted_pandas(table)
            data = TrainingSet(frame, "driver", len(frame))
            if data.n >= MIN_EVENTS:
                data.cst = CounterSuffixTree.from_counts(
                    *cst_counts_pandas(frame, self.max_order)
                )
            return data
        data = TrainingSet(cep.key_sorted(events).localCheckpoint(eager=True), "distributed")
        try:
            data.n = data.frame.count()
            if data.n >= MIN_EVENTS:
                data.cst = cst_from_spark(data.frame, self.max_order, total=data.n)
        except BaseException:
            data.release()
            raise
        return data

    def train_and_test(
        self, data: TrainingSet | DataFrame, pmin: float, gamma: float
    ) -> TrainResult:
        """Train an SPST with (pMin, gamma) on ``data`` and score it there.
        A plain DataFrame is prepared here and released before return."""
        params = {"pMin": pmin, "gamma": gamma}
        with self.prepare(data) if isinstance(data, DataFrame) else nullcontext(data) as data:
            if data.n < MIN_EVENTS:  # min-data guard
                return TrainResult(
                    None, 0.0, 0.0, "error", params, f"fewer than {MIN_EVENTS} events"
                )
            try:
                spst = spst_from_cst(
                    data.cst,
                    self.compiled,
                    max_order=self.max_order,
                    pmin=pmin,
                    gamma_min=gamma,
                    horizon=self.horizon,
                )
                mcc = self.test(spst, data)
                return TrainResult(spst, mcc, -mcc, "success", params)
            except Exception as e:
                log.exception("train_and_test failed for %s", params)
                return TrainResult(None, 0.0, 0.0, "error", params, f"{type(e).__name__}: {e}")

    def test(self, spst: SPST, data: TrainingSet) -> float:
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
        return mcc(**fcep.confusion_key_sorted(data.frame))
