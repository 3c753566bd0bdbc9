"""The RTCEF closed loop: engine -> reports -> observer -> controller ->
factory -> model swap, docker/Kafka-free.

Roles map 1:1 to the reference's jobs (SURVEY.md §3.2-3.3); transport
is in-process (the control plane is a 1-key state machine — running it
on a cluster buys nothing, exactly why the reference runs its
controller at parallelism 1).  The data plane stays Spark: detection/
forecasting per microbatch via the CEP operators, dataset persistence
via the bucket-partitioned collector, training via the distributed
train path.

Semantic deltas vs the reference, both documented in their own
differences.md spirit:
- model swap at microbatch granularity, not per-event syncTime;
- the controller/factory run synchronously between microbatches
  (pause/play still gates the engine, but no wall-clock overlap).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_rtcef_spark.models.spst import SPST
from flink_rtcef_spark.operators.forecast import ForecastCEP
from flink_rtcef_spark.plans.compiler import CompiledPattern
from flink_rtcef_spark.streaming.collector import BucketCollector
from flink_rtcef_spark.streaming.factory import ModelFactory, TrainingSet, TrainResult, _mcc
from flink_rtcef_spark.streaming.observer import Instruction, Observer
from flink_rtcef_spark.streaming.optimizer import BayesLiteOptimizer

log = logging.getLogger(__name__)


@dataclass
class ReportPoint:
    """One report: timestamp, runtime/batch MCC, event, and `cause` (the
    `TrainResult.cause` of the instruction's last failed train)."""

    timestamp: int
    runtime_mcc: float
    batch_mcc: float
    event: str = ""  # "" | optimize | retrain | deploy
    cause: str = ""  # TrainResult.cause of the instruction's last failed train


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
    def _engine_report(self, batch: DataFrame) -> tuple[float, float, dict]:
        """Run the current model over one microbatch; return (runtime
        mcc over cumulative counts, batch mcc, batch counts) — the
        runtime/batch duality of WayebEngine.checkAndReportStats:370-430."""
        fcep = ForecastCEP(
            self.model,
            key_col=self.key_col,
            ts_col=self.ts_col,
            id_col=self.id_col,
            method=self.factory.method,
            confidence_threshold=self.factory.confidence_threshold,
            spread=self.factory.spread,
        )
        counts = fcep.confusion(batch)
        for k, v in counts.items():
            self.cum[k] += v
        runtime = _mcc(**self.cum)
        batch_mcc = _mcc(**counts)
        return runtime, batch_mcc, counts

    # -------------------------------------------------------- controller
    def _run_optimize_session(self, data: TrainingSet) -> list[TrainResult]:
        """PAUSE -> ask/tell loop -> retrain best -> PLAY
        (controller_coprocess.py:130-155 + optimizer.py:242-395).
        Returns every evaluation's result, the final retrain last."""
        self.paused = True
        opt = BayesLiteOptimizer(self.opt_space, n_initial=self.n_initial, seed=self.seed)
        results = []
        for _ in range(self.n_opt_evals):
            x = opt.ask()
            result = self.factory.train_and_test(data, pmin=x[0], gamma=x[1])
            opt.tell(x, result.f_val if result.status == "success" else 0.0)
            results.append(result)
        best_x, _ = opt.best
        results.append(self.factory.train_and_test(data, pmin=best_x[0], gamma=best_x[1]))
        self.paused = False
        return results

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
            if instr.instruction_type == "optimize":
                results = self._run_optimize_session(data)
            else:
                results = [self.factory.train_and_test(data, pmin=0.001, gamma=0.001)]
        self.collector.ack(covered)
        failed = [r for r in results if r.status != "success"]
        for r in failed:
            log.warning("%s train failed for %s: %s", instr.instruction_type, r.params, r.cause)
        cause = failed[-1].cause if failed else ""
        final = results[-1]
        if final.status != "success":
            return "", cause
        self.model = final.spst
        # per-key stats reset on swap (WayebEngine.java:246-292)
        self.cum = {"tp": 0, "tn": 0, "fp": 0, "fn": 0}
        return "deploy", cause

    # -------------------------------------------------------------- loop
    def process_batch(self, batch: DataFrame, batch_ts: int) -> ReportPoint | None:
        """One microbatch through the whole loop."""
        self.collector.collect(batch, ts_col=self.ts_col)
        if self.paused:  # engine frozen during optimization (G3)
            return None
        runtime, batch_mcc, counts = self._engine_report(batch)
        point = ReportPoint(batch_ts, runtime, batch_mcc)
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
            if batch_df.isEmpty():
                return
            batch_ts = int(
                batch_df.agg(
                    F.max(F.col(self.ts_col).cast("long"))
                ).collect()[0][0]
            )
            self.process_batch(batch_df, batch_ts)

        writer = stream_df.writeStream.foreachBatch(process).option(
            "checkpointLocation", checkpoint_dir
        )
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()

    def replay(self, events: DataFrame, batch_seconds: int | None = None) -> list[ReportPoint]:
        """Replay a bounded event DataFrame in event-time order as
        microbatches of ``batch_seconds`` (default: reporting_distance)
        — the docker-free analogue of the reference's data_feeder.py."""
        step = batch_seconds or self.reporting_distance
        ts = F.col(self.ts_col).cast("long")
        bounds = events.agg(F.min(ts).alias("lo"), F.max(ts).alias("hi")).collect()[0]
        lo, hi = int(bounds["lo"]), int(bounds["hi"])
        t = lo
        while t <= hi:
            batch = events.filter((ts >= t) & (ts < t + step))
            if batch.limit(1).count() > 0:
                self.process_batch(batch, t + step)
            t += step
        return self.metrics
