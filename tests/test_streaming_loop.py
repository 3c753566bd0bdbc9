"""The adaptation loop attached to a real Structured Streaming query
(foreachBatch wiring)."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest

from pyspark.errors import StreamingQueryException

from flink_rtcef_spark.models.spst import train_spst
from flink_rtcef_spark.operators.cep import BatchCEP
from flink_rtcef_spark.plans.compiler import compile_pattern
from flink_rtcef_spark.streaming.collector import BucketCollector
from flink_rtcef_spark.streaming.factory import ModelFactory
from flink_rtcef_spark.streaming.loop import RTCEFLoop
from flink_rtcef_spark.streaming.observer import Observer

SCHEMA = "k string, timestamp long, id long, event_type string"


def _loop(spark, tmp_path, warmup: pd.DataFrame) -> RTCEFLoop:
    compiled = compile_pattern(
        ";(IsEventTypePredicate(A),IsEventTypePredicate(B)){order:1}{partitionBy:k}",
        "~(IsEventTypePredicate(A),IsEventTypePredicate(B))",
    )
    cep = BatchCEP(compiled, key_col="k", ts_col="timestamp", id_col="id")
    initial = train_spst(
        cep.symbolized(spark.createDataFrame(warmup)), compiled, max_order=1, horizon=5
    )
    return RTCEFLoop(
        spark=spark,
        compiled=compiled,
        initial_model=initial,
        collector=BucketCollector(
            base_path=str(tmp_path / "lake"), bucket_size=100, last_k=3
        ),
        factory=ModelFactory(
            compiled, key_col="k", ts_col="timestamp", id_col="id",
            max_order=1, horizon=5,
        ),
        observer=Observer(low_score=0.05, opt_diff=0.2, grace_period=1),
        key_col="k",
        ts_col="timestamp",
        id_col="id",
        n_opt_evals=2,
        n_initial=1,
    )


def test_loop_on_structured_streaming(spark, tmp_path):
    rng = random.Random(8)
    rows = [
        ("u1", t + 1, t, "B" if rng.random() < 0.4 else "A") for t in range(400)
    ]
    pdf = pd.DataFrame(rows, columns=["k", "timestamp", "id", "event_type"])
    src = tmp_path / "loopsrc"
    for c, chunk in enumerate(np.array_split(pdf, 4)):
        spark.createDataFrame(chunk).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"c{c}")
        )
    loop = _loop(spark, tmp_path, pdf[pdf.timestamp <= 100])
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "c*"))
    )
    q = loop.run_streaming(
        stream, checkpoint_dir=str(tmp_path / "ckpt"), trigger={"availableNow": True}
    )
    assert q.awaitTermination(600), "stream did not drain"
    # one report per microbatch; metrics carry plausible values
    assert len(loop.metrics) == 4
    assert all(-1.0 <= p.batch_mcc <= 1.0 for p in loop.metrics)
    # collector persisted all buckets from the stream
    assert len(loop.collector.seen_buckets) >= 3
    csv = loop.metrics_csv()
    assert csv.startswith("timestamp,human_time,")


def test_rows_without_a_timestamp_stop_the_stream(spark, tmp_path):
    """A microbatch whose rows all lack a timestamp fails the query with
    an error naming the column, rather than passing unreported."""
    rng = random.Random(8)
    pdf = pd.DataFrame(
        [("u1", t + 1, t, "B" if rng.random() < 0.4 else "A") for t in range(200)],
        columns=["k", "timestamp", "id", "event_type"],
    )
    loop = _loop(spark, tmp_path, pdf)
    src = tmp_path / "nots"
    spark.createDataFrame(
        [("u1", None, 1, "A"), ("u1", None, 2, "B")], SCHEMA
    ).coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    q = loop.run_streaming(
        stream, checkpoint_dir=str(tmp_path / "ckpt"), trigger={"availableNow": True}
    )
    with pytest.raises(StreamingQueryException, match="holds 2 rows and no timestamp value"):
        q.awaitTermination(600)
    assert loop.metrics == [] and loop.collector.seen_buckets == set()
