"""Streaming recognition drive — the reference's InferenceJob topology
(java/src/main/java/.../InferenceJob.java:120-179) as a standalone
Structured Streaming run:

  file-drop event source (micro-batched; swap for Kafka via
  sources/io.read_kafka_stream on a cluster with the connector jar)
    -> 60 s event-time watermark
    -> keyed CEP on the foreachBatch fast path (versioned state table)
    -> idempotent parquet detections sink, one dir per batch id

and then proves the two properties a production user cares about:

  1. stream == batch: the streamed detections equal BatchCEP over the
     same events;
  2. recovery: a SECOND run from the same checkpoint and state dir
     with more files dropped resumes instead of reprocessing
     (exactly-once sink rows: a replayed batch overwrites its own
     output dir).

Usage: python examples/streaming_cep.py [--sf-dir /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from flink_rtcef_spark.operators.cep import BatchCEP
from flink_rtcef_spark.plans.compiler import compile_pattern
from flink_rtcef_spark.session import get_spark
from flink_rtcef_spark.sources.io import load_table
from flink_rtcef_spark.streaming.fastpath import start_fastpath_detections

PATTERN = (
    ";(IsEventTypePredicate(view),IsEventTypePredicate(purchase))"
    "{partitionBy:user_id}"
)
DECLS = "~(IsEventTypePredicate(view),IsEventTypePredicate(purchase))"


def run_stream(
    spark, src_glob: str, out_dir: str, state_dir: str, ckpt_dir: str, compiled
) -> None:
    schema = "user_id string, event_id long, ts timestamp, event_type string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_glob)
    )

    def sink(df, batch_id):
        # overwrite, keyed by batch id: a batch replayed after a crash
        # rewrites its own output instead of appending a second copy
        df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    q = start_fastpath_detections(
        stream,
        compiled,
        state_dir=state_dir,
        checkpoint_dir=ckpt_dir,
        sink=sink,
        key_col="user_id",
        ts_col="ts",
        id_col="event_id",
        watermark_delay_ms=60_000,
        # TTL left off so the run equals TTL-free BatchCEP exactly; in
        # production set state_ttl_ms (event-clock run expiry, F3) to
        # bound state — expired partial matches then legitimately
        # differ from an unbounded batch run
        state_ttl_ms=0,
    )
    assert q.awaitTermination(600), "stream did not drain"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    args = ap.parse_args()
    t0 = time.time()
    spark = get_spark("streaming_cep_example")
    compiled = compile_pattern(PATTERN, DECLS)

    events = (
        load_table(spark, args.sf_dir, "events")
        .select(
            F.col("user_id").cast("string"),
            "event_id",
            "ts",
            "event_type",
        )
        .orderBy("ts", "event_id")
    )
    n = events.count()
    base = Path(tempfile.mkdtemp(prefix="stream_cep_"))
    src = base / "in"
    src.mkdir()
    out, state, ckpt = str(base / "out"), str(base / "state"), str(base / "ckpt")
    glob = str(src / "c*")

    # the file-drop transport delivers TIME-SLICED chunk files (the
    # collector/feeder contract, A12/A22): 8 sequential slices, one
    # microbatch each
    import numpy as np

    chunks = np.array_split(events.toPandas(), 8)

    def drop(idx):
        spark.createDataFrame(chunks[idx]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"c{idx}"))

    # phase 1: drop the first half of the stream, run to drain
    for i in range(4):
        drop(i)
    run_stream(spark, glob, out, state, ckpt, compiled)
    n_det_1 = spark.read.parquet(out).count()
    print(f"# phase 1: {sum(len(c) for c in chunks[:4])} events -> {n_det_1} detections")

    # phase 2: drop the REST; resume from the same checkpoint
    for i in range(4, 8):
        drop(i)
    run_stream(spark, glob, out, state, ckpt, compiled)
    streamed = spark.read.parquet(out)
    n_det_2 = streamed.count()
    print(f"# phase 2 (resumed from checkpoint): total {n_det_2} detections")

    # batch twin over the full event set
    batch = BatchCEP(
        compiled, key_col="user_id", ts_col="ts", id_col="event_id"
    ).detections(events)
    n_batch = batch.count()
    both = streamed.select("key", "detection_event_id")
    bat = batch.select("key", "detection_event_id")
    diff = both.exceptAll(bat).count() + bat.exceptAll(both).count()
    print(
        f"# stream == batch: {n_det_2} streamed vs {n_batch} batch, "
        f"symmetric diff {diff}"
    )
    assert diff == 0, "streamed detections diverge from batch"
    print(f"# streaming drive complete; wall {time.time() - t0:.1f}s")


if __name__ == "__main__":
    main()
