"""The ``detect_narrow`` workload: streaming CEP through the
foreachBatch fast path under open-loop load, then a backlog drain.

One query reads a parquet file-source directory.  Its set-up drains a
pre-staged warm-up backlog; then the separate generator process
(gen.py) writes one file per tick on a fixed schedule for the run's
``--seconds``, while the query triggers every ``OPEN_LOOP_TRIGGER_MS``;
then the query is restarted with ``availableNow`` and
one file per trigger to drain a pre-staged backlog.  Detection latency
is the wall time at which the sink receives a detection minus the
*scheduled* creation time of its last contributing event, so a stalled
generator or engine still counts against latency.  The set of
``(key, detection_event_id)`` pairs the sink saw over all phases must
equal a ``BatchCEP`` run over every generated event.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import asdict, dataclass, field, replace

from perfbench import gen
from perfbench.gen import BASE_MS, StreamSpec
from perfbench.measure import TreeMeter, median, p50_or_zero, tail_percentile
from perfbench.trace import Tracer

PATTERN = ";(IsEventTypePredicate(view),IsEventTypePredicate(purchase)){partitionBy:k}"
DECLS = "~(IsEventTypePredicate(view),IsEventTypePredicate(purchase),IsEventTypePredicate(cart))"

#: ~2k Zipf-skewed keys: small batches and small carried state keep
#: every microbatch on the fast path's driver route, so the workload
#: measures per-microbatch fixed cost.  The open loop offers 10k
#: events/s, a quarter to a fifth of what the backlog drain sustains
#: per trigger on 4 cores (40-60k events/s, depending on host load).
#: At 20k events/s and a 750 ms trigger period a batch took 550-650 ms
#: on a quiet host, and on a busy one it overran the period, so the
#: queue grew for the rest of the run and latency spread 0.65 of its
#: median over five seeds; the offered load leaves room for the host
#: to run at half speed.  A warm-up file holds about one open-loop
#: batch.
SPEC = StreamSpec(
    keys=2_000, zipf_s=1.1, tick_ms=100, tick_events=1_000,
    warmup_files=2, warmup_events=10_000,
    backlog_files=8, backlog_events=30_000,
)
#: one file above the fast path's 200k-row driver bound: drained once
#: in the traced run, it takes the distributed sql route
SQL_ROUTE_EVENTS = 210_000
#: backlog files drained on ``local[1]`` for the single-threaded baseline
LOCAL1_FILES = 4
#: open-loop trigger period.  With back-to-back triggers a slower batch
#: let more files queue for the next one, so a run could settle into
#: long or short batches and latency moved by a third between seeds; a
#: fixed period pins the batch size at 10 files.
OPEN_LOOP_TRIGGER_MS = 1000


@dataclass
class DetectRun:
    """Everything one pass over a detect workload measured."""

    latencies_ms: list[float] = field(default_factory=list)
    drain_s: float = 0.0
    drain_events: int = 0
    drain_rates: list[float] = field(default_factory=list)     # events/s per drain trigger
    drain_fb_rates: list[float] = field(default_factory=list)  # events/s inside foreachBatch
    cpu_s: float = 0.0
    peak_rss_bytes: int = 0
    driver_rss_bytes: int = 0
    warmup_s: float = 0.0
    batches: list[dict] = field(default_factory=list)   # fast-path batches
    progress: list[dict] = field(default_factory=list)  # open-loop triggers
    generator: dict = field(default_factory=dict)
    state: dict = field(default_factory=dict)
    detections: int = 0
    failures: list[str] = field(default_factory=list)

    @property
    def ops(self) -> int:
        return len(self.batches)


class _Sink:
    """Collects each batch's detections and stamps their emission."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.rows: list = []  # (emit_wall_ms, pandas frame)

    def __call__(self, df, batch_id: int) -> None:
        with self.tracer.span("sink.write", batch=batch_id):
            pdf = df.select("key", "detection_event_id", "detection_ts").toArrow().to_pandas()
            self.rows.append((time.time() * 1000.0, pdf))


def _progress(q, after: int = -1) -> list[dict]:
    """The non-empty triggers of ``q`` after batch ``after``."""
    return [
        {
            "batch": p["batchId"],
            "rows": p["numInputRows"],
            "trigger_ms": p["durationMs"].get("triggerExecution", 0),
            "add_batch_ms": p["durationMs"].get("addBatch", 0),
        }
        for p in q.recentProgress
        if p["batchId"] > after and p["numInputRows"] > 0
    ]


def _start_query(spark, compiled, src, ckpt, state_dir, tracer, sink, batches, trigger, max_files=None):
    from flink_rtcef_spark.streaming.fastpath import (
        make_foreach_batch_detections,
        symbolize_stream,
    )

    reader = spark.readStream.schema(gen.SPARK_SCHEMA)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    sym = symbolize_stream(reader.parquet(src), compiled, key_col="k", ts_col="ts", id_col="id")
    fb = make_foreach_batch_detections(compiled, state_dir, sink=sink)

    def batch(df, batch_id):
        with tracer.span("streaming.batch", batch=batch_id) as sp:
            fb(df, batch_id)
        with open(os.path.join(state_dir, f"v{batch_id + 1}", "meta.json")) as f:
            meta = json.load(f)
        batches.append({
            "ms": sp.ms,
            "engine": meta["engine_used"],
            "touched": sum(1 for owner, _ in meta["buckets"].values() if owner == batch_id + 1),
        })

    return (
        sym.writeStream.foreachBatch(batch)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(**trigger)
        .start()
    )


def _wait_exit(proc: subprocess.Popen, timeout_s: float) -> None:
    """Wait for the generator to exit without reaping it."""
    deadline = time.time() + timeout_s
    while True:
        try:
            info = os.waitid(os.P_PID, proc.pid, os.WEXITED | os.WNOWAIT | os.WNOHANG)
        except ChildProcessError:
            return
        if info is not None:
            return
        if time.time() > deadline:
            raise TimeoutError("generator did not finish on time")
        time.sleep(0.05)


def run_detect(spark, seed: int, seconds: int, work: str, tracer: Tracer) -> DetectRun:
    """One full pass: warm-up drain, open loop, backlog drain, check."""
    from flink_rtcef_spark.plans.compiler import compile_pattern

    spec = SPEC
    out = DetectRun()
    src, stage = os.path.join(work, "src"), os.path.join(work, "stage")
    ckpt, state_dir = os.path.join(work, "ckpt"), os.path.join(work, "state")
    tables = gen.phase_tables(seed, spec, seconds)
    warm = gen.write_phase(tables["warmup"], stage, "warmup")
    gen.write_phase(tables["backlog"], stage, "backlog")
    n_ticks = len(tables["tick"])
    del tables
    os.makedirs(src)

    compiled = compile_pattern(PATTERN, DECLS)
    sink = _Sink(tracer)
    q = _start_query(
        spark, compiled, src, ckpt, state_dir, tracer, sink, out.batches,
        {"processingTime": f"{OPEN_LOOP_TRIGGER_MS} milliseconds"},
    )
    proc = None
    try:
        # one batch per warm-up file, so the per-batch path is compiled
        # and cached before timing starts
        t0 = time.perf_counter()
        for p in warm:
            os.rename(p, os.path.join(src, os.path.basename(p)))
            q.processAllAvailable()
        out.warmup_s = time.perf_counter() - t0
        warm_batches = len(out.batches)
        last_warm = q.lastProgress["batchId"] if q.lastProgress else -1

        plan_path = os.path.join(work, "plan.json")
        report = os.path.join(work, "gen-report.json")
        anchor = int(time.time() * 1000) + 1500
        gen.plan_to_file(
            gen.OpenLoopPlan(seed, asdict(spec), seconds, os.path.abspath(src), anchor, report),
            plan_path,
        )
        with TreeMeter() as meter:
            proc = subprocess.Popen(
                [sys.executable, os.path.abspath(gen.__file__), plan_path, str(os.getpid())],
                stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            )
            meter.exclude.add(proc.pid)
            _wait_exit(proc, seconds + 60)
            meter.discount(proc.pid)
            rc = proc.wait()
            proc = None
            if rc != 0:
                raise RuntimeError(f"generator exited with {rc}")
            q.processAllAvailable()
            q.stop()
            out.progress = _progress(q, last_warm)
            for p in sorted(os.listdir(stage)):
                os.rename(os.path.join(stage, p), os.path.join(src, p))
            n_open = len(out.batches)
            td = time.perf_counter()
            q = _start_query(
                spark, compiled, src, ckpt, state_dir, tracer, sink, out.batches,
                {"availableNow": True}, max_files=1,
            )
            q.awaitTermination()
            out.drain_s = time.perf_counter() - td
        out.cpu_s, out.peak_rss_bytes, out.driver_rss_bytes = meter.cpu_s, meter.peak, meter.driver_peak
        out.drain_events = spec.backlog_files * spec.backlog_events
        # a drain trigger's whole execution: file listing, offset and
        # commit logs, planning and the foreachBatch call
        out.drain_rates = [p["rows"] / (p["trigger_ms"] / 1000.0) for p in _progress(q)]
        out.drain_fb_rates = [spec.backlog_events / (b["ms"] / 1000.0) for b in out.batches[n_open:]]
        if len(out.drain_rates) != spec.backlog_files or len(out.drain_fb_rates) != spec.backlog_files:
            out.failures.append(
                f"backlog drained in {len(out.drain_rates)} triggers and {len(out.drain_fb_rates)} batches, "
                f"expected {spec.backlog_files}"
            )
        with open(report) as f:
            out.generator = json.load(f)
        if out.generator["files"] != n_ticks:
            out.failures.append(f"generator wrote {out.generator['files']} of {n_ticks} files")
        out.batches = out.batches[warm_batches:]
    finally:
        if proc is not None:
            proc.kill()
            proc.wait()
        if q.isActive:
            q.stop()

    from flink_rtcef_spark.streaming.state_table import state_table_stats

    out.state = state_table_stats(state_dir)
    lo, hi = BASE_MS, BASE_MS + n_ticks * spec.tick_ms
    seen = set()
    for emit_ms, pdf in sink.rows:
        for k, eid, ts in zip(pdf["key"], pdf["detection_event_id"], pdf["detection_ts"]):
            seen.add((k, int(eid)))
            if lo <= ts < hi:
                out.latencies_ms.append(emit_ms - (anchor + (int(ts) - BASE_MS)))
    out.detections = len(seen)
    out.failures += _check_against_batch(spark, compiled, src, seen)
    if len(out.latencies_ms) < 1000:
        out.failures.append(f"only {len(out.latencies_ms)} open-loop detections; p99 needs 1000")
    return out


def _check_against_batch(spark, compiled, src, seen: set) -> list[str]:
    """The stream's detections must equal BatchCEP over the same events."""
    from flink_rtcef_spark.operators.cep import BatchCEP

    events = spark.read.schema(gen.SPARK_SCHEMA).parquet(src)
    ref = BatchCEP(compiled, key_col="k", ts_col="ts", id_col="id").detections(events)
    pdf = ref.select("key", "detection_event_id").toArrow().to_pandas()
    expected = set(zip(pdf["key"], pdf["detection_event_id"].astype(int)))
    if expected == seen:
        return []
    return [
        f"stream detections differ from BatchCEP: {len(seen - expected)} extra, "
        f"{len(expected - seen)} missing of {len(expected)}"
    ]


def drain_once(spark, tables, work: str, tracer: Tracer, check: bool) -> tuple[float, list[str], list[str]]:
    """Drain ``tables`` one file per batch from empty state; returns
    (events/s from query start to termination, the route of each
    batch, correctness failures if ``check``)."""
    from flink_rtcef_spark.plans.compiler import compile_pattern

    src = os.path.join(work, "src")
    gen.write_phase(tables, src, "backlog")
    compiled = compile_pattern(PATTERN, DECLS)
    sink, batches = _Sink(tracer), []
    t = time.perf_counter()
    q = _start_query(
        spark, compiled, src, os.path.join(work, "ckpt"), os.path.join(work, "state"),
        tracer, sink, batches, {"availableNow": True}, max_files=1,
    )
    q.awaitTermination()
    wall = time.perf_counter() - t
    seen = {(k, int(e)) for _, pdf in sink.rows for k, e in zip(pdf["key"], pdf["detection_event_id"])}
    fails = _check_against_batch(spark, compiled, src, seen) if check else []
    shutil.rmtree(work, ignore_errors=True)
    return sum(t.num_rows for t in tables) / wall, [b["engine"] for b in batches], fails


def local1_backlog(seed: int, seconds: int):
    """The head of the run's own backlog, for the single-threaded
    baseline."""
    return gen.phase_tables(seed, SPEC, seconds)["backlog"][:LOCAL1_FILES]


def sql_route_backlog(seed: int):
    spec = replace(SPEC, warmup_files=0, backlog_files=1, backlog_events=SQL_ROUTE_EVENTS)
    return gen.phase_tables(seed, spec, 0)["backlog"]


def end_to_end(run: DetectRun) -> dict[str, float]:
    pct, tail, _n = tail_percentile(run.latencies_ms)
    return {
        "latency_p50_ms": median(run.latencies_ms),
        "latency_tail_ms": tail,
        "events_per_s": median(run.drain_rates),
        "cpu_s": run.cpu_s,
        "driver_rss_mb": run.driver_rss_bytes / 2**20,
    }


def per_layer(run: DetectRun, tracer: Tracer) -> dict[str, float]:
    spec = SPEC
    pct, _tail, n = tail_percentile(run.latencies_ms)
    prog = run.progress
    routes = [b["engine"] for b in run.batches]
    return {
        "streaming.trigger_ms_p50": p50_or_zero([p["trigger_ms"] for p in prog]),
        "streaming.add_batch_ms_p50": p50_or_zero([p["add_batch_ms"] for p in prog]),
        "streaming.overhead_ms_p50": p50_or_zero([p["trigger_ms"] - p["add_batch_ms"] for p in prog]),
        "streaming.batches": float(len(run.batches)),
        "streaming.batch_rows_p50": p50_or_zero([p["rows"] for p in prog]),
        "fastpath.driver_route_share": routes.count("driver") / len(routes) if routes else 0.0,
        "state.rows": float(run.state.get("state_rows", 0)),
        "state.bytes": float(run.state.get("parquet_bytes", 0)),
        "state.touched_buckets_p50": p50_or_zero([b["touched"] for b in run.batches]),
        "source.input_rows": float(sum(p["rows"] for p in prog) + run.drain_events),
        "source.backlog_files_max": max((p["rows"] / spec.tick_events for p in prog), default=0.0),
        "generator.late_ms_max": max(run.generator.get("late_ms", [0.0])),
        "sink.write_ms_p50": p50_or_zero(tracer.ms("sink.write")),
        "sink.detections": float(run.detections),
        "latency.samples": float(n),
        "latency.tail_pct": pct,
        "setup.warmup_s": run.warmup_s,
        "host.tree_peak_rss_mb": run.peak_rss_bytes / 2**20,
        "streaming.drain_s": run.drain_s,
        "fastpath.drain_batch_events_per_s": p50_or_zero(run.drain_fb_rates),
    }
