"""The RTCEF closed loop: engine -> reports -> observer -> controller ->
factory -> model swap, docker/Kafka-free.

Roles map 1:1 to the reference's jobs (SURVEY.md §3.2-3.3); transport
is in-process (the control plane is a 1-key state machine — running it
on a cluster buys nothing, exactly why the reference runs its
controller at parallelism 1).  The data plane takes the fast path's
bounded driver route (streaming/bounded.py): a report window within
``bounded.max_rows`` (``DRIVER_MAX_ROWS``, fewer for wide rows) is
collected once, as Arrow, and that one collect feeds both the
collector's bucket write and the engine's scorer; the factory's
training set takes the same route, and the collector reads the lake
back for it with pyarrow, so an instruction below the bound is one
Spark job.  Above the bound each role runs its distributed Spark plan
(the partitioned write, ``ForecastCEP.confusion``, Spark's parquet
read, the materialized key shuffle), so the loop scales past driver
memory.

Semantic deltas vs the reference, both documented in their own
differences.md spirit:
- model swap at microbatch granularity, not per-event syncTime;
- the controller/factory run synchronously between microbatches
  (pause/play still gates the engine, but no wall-clock overlap).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_rtcef_spark.functions.metrics import mcc
from flink_rtcef_spark.models.spst import SPST
from flink_rtcef_spark.operators.cep import SYMBOLIZED, key_sorted_pandas
from flink_rtcef_spark.operators.forecast import ForecastCEP
from flink_rtcef_spark.plans.compiler import CompiledPattern
from flink_rtcef_spark.streaming import bounded
from flink_rtcef_spark.streaming.collector import BucketCollector
from flink_rtcef_spark.streaming.factory import ModelFactory, TrainingSet, TrainResult
from flink_rtcef_spark.streaming.observer import Instruction, Observer
from flink_rtcef_spark.streaming.optimizer import BayesLiteOptimizer

log = logging.getLogger(__name__)

# the scorer's symbolized columns a driver-route window carries next to
# the batch's own; they are dropped before the collector writes the window
_SCORER = "__scorer_"
_SCORER_COLS = [_SCORER + c for c in SYMBOLIZED]


@dataclass
class ReportPoint:
    """One report: timestamp, runtime/batch MCC, event, `cause` (the
    `TrainResult.cause` of the instruction's last failed train) and
    `route`, how the window was collected and scored."""

    timestamp: int
    runtime_mcc: float
    batch_mcc: float
    event: str = ""  # "" | optimize | retrain | deploy
    cause: str = ""  # TrainResult.cause of the instruction's last failed train
    route: str = ""  # driver | distributed


@dataclass
class RTCEFLoop:
    spark: SparkSession
    compiled: CompiledPattern
    initial_model: SPST
    collector: BucketCollector
    factory: ModelFactory
    observer: Observer = field(default_factory=Observer)
    key_col: str = "key"
    ts_col: str = "timestamp"
    id_col: str = "id"
    reporting_distance: int = 3600
    opt_space: list = field(default_factory=lambda: [(0.001, 0.1), (0.0, 0.005)])
    n_opt_evals: int = 10
    n_initial: int = 5
    seed: int = 42

    def __post_init__(self):
        self.model = self.initial_model
        self.paused = False
        self.metrics: list[ReportPoint] = []
        self.cum = {"tp": 0, "tn": 0, "fp": 0, "fn": 0}

    # ------------------------------------------------------------ engine
    def _forecaster(self) -> ForecastCEP:
        return ForecastCEP(
            self.model,
            key_col=self.key_col,
            ts_col=self.ts_col,
            id_col=self.id_col,
            method=self.factory.method,
            confidence_threshold=self.factory.confidence_threshold,
            spread=self.factory.spread,
        )

    def _collect_window(self, batch: DataFrame) -> pa.Table | None:
        """The window as one Arrow table when it fits
        ``bounded.max_rows``, else None: one Spark job whose JVM
        projection adds the collector's ``bucket_id`` and the scorer's
        symbolized columns to the batch's columns."""
        projected = batch.withColumn(
            "bucket_id", self.collector.bucket_col(self.ts_col)
        ).select(
            "*", *self._forecaster().symbol_columns(batch, prefix=_SCORER)
        )
        return bounded.collect_bounded(projected, bounded.max_rows(projected))

    def _engine_report(self, window: DataFrame | pa.Table) -> tuple[float, float, dict]:
        """Run the current model over one window — a DataFrame, or its
        driver collect from ``_collect_window``, scored on the driver by
        the same kernel; return (runtime mcc over cumulative counts,
        batch mcc, batch counts) — the runtime/batch duality of
        WayebEngine.checkAndReportStats:370-430."""
        fcep = self._forecaster()
        if isinstance(window, pa.Table):
            symbolized = window.select(_SCORER_COLS).rename_columns(list(SYMBOLIZED))
            counts = fcep.confusion_key_sorted(key_sorted_pandas(symbolized))
        else:
            counts = fcep.confusion(window)
        for k, v in counts.items():
            self.cum[k] += v
        runtime = mcc(**self.cum)
        batch_mcc = mcc(**counts)
        return runtime, batch_mcc, counts

    # -------------------------------------------------------- controller
    def _run_optimize_session(
        self, data: TrainingSet
    ) -> tuple[list[TrainResult], TrainResult]:
        """PAUSE -> ask/tell loop -> best -> PLAY
        (controller_coprocess.py:130-155 + optimizer.py:242-395).
        Returns every evaluation's result and the best one.  The
        reference retrains the best point; here every evaluation trains
        on the same ``TrainingSet`` and ``spst_from_cst`` is
        deterministic, so the best evaluation's model IS that retrain's
        and is deployed as it is."""
        self.paused = True
        opt = BayesLiteOptimizer(self.opt_space, n_initial=self.n_initial, seed=self.seed)
        results = []
        for _ in range(self.n_opt_evals):
            x = opt.ask()
            result = self.factory.train_and_test(data, pmin=x[0], gamma=x[1])
            opt.tell(x, result.f_val if result.status == "success" else 0.0)
            results.append(result)
        self.paused = False
        return results, results[opt.best_i]

    def handle_instruction(self, instr: Instruction) -> tuple[str, str]:
        """Assemble the last-K dataset, prepare it once, and run the
        corresponding factory session on it; swap the model on success
        (G4, microbatch granularity).  Returns (event, cause): "deploy"
        or "", and the cause of the session's last failed train."""
        covered = sorted(self.collector.seen_buckets)[-self.collector.last_k :]
        if not covered:
            return "", ""
        assembled = self.collector.assemble(self.spark, covered)
        with self.factory.prepare(assembled) as data:
            log.info(
                "%s: training set of %d rows over buckets %s, %s route",
                instr.instruction_type, data.n, covered, data.route,
            )
            if instr.instruction_type == "optimize":
                results, final = self._run_optimize_session(data)
            else:
                final = self.factory.train_and_test(data, pmin=0.001, gamma=0.001)
                results = [final]
        self.collector.ack(covered)
        failed = [r for r in results if r.status != "success"]
        for r in failed:
            log.warning("%s train failed for %s: %s", instr.instruction_type, r.params, r.cause)
        cause = failed[-1].cause if failed else ""
        if final.status != "success":
            return "", cause
        self.model = final.spst
        # per-key stats reset on swap (WayebEngine.java:246-292)
        self.cum = {"tp": 0, "tn": 0, "fp": 0, "fn": 0}
        return "deploy", cause

    # -------------------------------------------------------------- loop
    def process_batch(self, batch: DataFrame, batch_ts: int) -> ReportPoint | None:
        """One microbatch through the whole loop.  A window within the
        driver bound is collected once (one Spark job) and both the
        collector and the engine report read that collect; a larger
        one runs their distributed plans."""
        window = self._collect_window(batch)
        if window is None:
            window, route = batch, "distributed"
            self.collector.collect(batch, ts_col=self.ts_col)
        else:
            route = "driver"
            self.collector.collect(window.drop_columns(_SCORER_COLS), ts_col=self.ts_col)
        if self.paused:  # engine frozen during optimization (G3)
            return None
        runtime, batch_mcc, counts = self._engine_report(window)
        point = ReportPoint(batch_ts, runtime, batch_mcc, route=route)
        instr = self.observer.on_report(
            batch_ts, batch_mcc, counts["tp"], counts["fp"], counts["fn"]
        )
        if instr is not None:
            point.event = instr.instruction_type
            deployed, point.cause = self.handle_instruction(instr)
            if deployed:
                point.event += "+deploy"
        self.metrics.append(point)
        return point

    def metrics_csv(self) -> str:
        """The results-pipeline CSV shape (data/baseline_metrics.csv /
        python/log_parser.py output): timestamp,human_time,runtime_mcc,
        batch_mcc,event."""
        import datetime

        lines = ["timestamp,human_time,runtime_mcc,batch_mcc,event"]
        for p in self.metrics:
            human = datetime.datetime.fromtimestamp(
                p.timestamp, tz=datetime.timezone.utc
            ).strftime("%Y-%m-%d %H:%M:%S")
            lines.append(
                f"{p.timestamp},{human},{p.runtime_mcc:.6f},{p.batch_mcc:.6f},{p.event}"
            )
        return "\n".join(lines) + "\n"

    def run_streaming(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str,
        trigger: dict | None = None,
    ):
        """Attach the loop to a real Structured Streaming query: each
        microbatch flows through the full pipeline (collector -> engine
        report -> observer -> optimize/retrain -> swap) inside
        foreachBatch — the production wiring; ``replay`` is its bounded
        event-time simulation.  Returns the StreamingQuery."""

        def process(batch_df: DataFrame, epoch_id: int) -> None:
            # one job for the batch's size and latest ts
            n, batch_ts = batch_df.agg(
                F.count(F.lit(1)), F.max(F.col(self.ts_col).cast("long"))
            ).collect()[0]
            if n == 0:
                return
            if batch_ts is None:
                raise ValueError(
                    f"microbatch {epoch_id} holds {n} rows and no {self.ts_col} value"
                )
            self.process_batch(batch_df, int(batch_ts))

        writer = stream_df.writeStream.foreachBatch(process).option(
            "checkpointLocation", checkpoint_dir
        )
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()

    def replay(self, events: DataFrame, batch_seconds: int | None = None) -> list[ReportPoint]:
        """Replay a bounded event DataFrame in event-time order as
        microbatches of ``batch_seconds`` (default: reporting_distance)
        — the docker-free analogue of the reference's data_feeder.py.

        One aggregate finds every non-empty window: the first and last
        ts of each bucket aligned to multiples of ``batch_seconds``.  A window [t, t + step)
        holds the tail of the bucket t falls in and the head of the
        next, so it is non-empty iff the first bucket's last ts is at
        least t or the next bucket's first ts is below t + step."""
        step = batch_seconds or self.reporting_distance
        ts = F.col(self.ts_col).cast("long")
        spans = {
            r["bucket"]: (r["lo"], r["hi"])
            for r in events.groupBy((ts - F.pmod(ts, F.lit(step))).alias("bucket"))
            .agg(F.min(ts).alias("lo"), F.max(ts).alias("hi"))
            .collect()
            if r["bucket"] is not None
        }
        if not spans:
            return self.metrics
        lo = min(first for first, _ in spans.values())
        hi = max(last for _, last in spans.values())
        for t in range(lo, hi + 1, step):
            here = spans.get(t - t % step)
            after = spans.get(t - t % step + step)
            if here and here[1] >= t or after and after[0] < t + step:
                self.process_batch(events.filter((ts >= t) & (ts < t + step)), t + step)
        return self.metrics
