"""Single-pass multi-pattern CEP must equal per-pattern operators."""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_rtcef_spark.operators.cep import BatchCEP
from flink_rtcef_spark.operators.multi_cep import MultiPatternCEP
from flink_rtcef_spark.plans.compiler import compile_patterns

PATTERNS = (
    ";(IsEventTypePredicate(A),IsEventTypePredicate(B)){partitionBy:k}"
    "&"
    ";(IsEventTypePredicate(C),IsEventTypePredicate(C)){partitionBy:k}"
    "&"
    "#(;(IsEventTypePredicate(A),IsEventTypePredicate(C))){partitionBy:k}{window:6}"
)
DECLS = "~(IsEventTypePredicate(A),IsEventTypePredicate(B),IsEventTypePredicate(C))"


def test_multi_pattern_equals_per_pattern(spark):
    rng = random.Random(17)
    rows = [
        (f"k{rng.randint(1, 5)}", t + 1, t, rng.choice("AABBC")) for t in range(800)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "timestamp", "id", "event_type"])
    )
    compiled = compile_patterns(PATTERNS, DECLS)
    multi = MultiPatternCEP(compiled, ts_col="timestamp", id_col="id")
    got = multi.detections(df).toPandas()
    assert set(got.pattern_id) == {0, 1, 2}
    for p, c in enumerate(compiled):
        single = (
            BatchCEP(c, ts_col="timestamp", id_col="id")
            .detections(df)
            .toPandas()
            .sort_values(["key", "counter"])
            .reset_index(drop=True)
        )
        mine = (
            got[got.pattern_id == p]
            .drop(columns=["pattern_id"])
            .sort_values(["key", "counter"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(mine, single, check_dtype=False)


def test_multi_pattern_single_shuffle(spark):
    import re

    rows = [("k1", 1, 0, "A")]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "timestamp", "id", "event_type"])
    )
    compiled = compile_patterns(PATTERNS, DECLS)
    plan_df = MultiPatternCEP(compiled, ts_col="timestamp", id_col="id").detections(df)
    plan = plan_df._sc._jvm.PythonSQLUtils.explainString(
        plan_df._jdf.queryExecution(), "formatted"
    )
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_key_mismatch_rejected(spark):
    compiled = compile_patterns(
        ";(IsEventTypePredicate(A),IsEventTypePredicate(B)){partitionBy:k}"
        "&;(IsEventTypePredicate(C),IsEventTypePredicate(C)){partitionBy:other}",
        DECLS,
    )
    with pytest.raises(ValueError, match="disagree"):
        MultiPatternCEP(compiled)


def test_streaming_multi_equals_batch(spark, tmp_path):
    """Streaming multi-pattern twin == batch MultiPatternCEP across
    microbatch boundaries — all automata advance in one stateful pass,
    carries pickled per key."""
    import numpy as np

    from flink_rtcef_spark.streaming.fastpath import start_fastpath_multi

    rng = random.Random(29)
    pdf = pd.DataFrame(
        [
            (f"k{rng.randint(1, 4)}", t + 1, t, rng.choice("AABBC"))
            for t in range(600)
        ],
        columns=["k", "timestamp", "id", "event_type"],
    )
    compiled = compile_patterns(PATTERNS, DECLS)

    src = tmp_path / "msrc"
    for c, chunk in enumerate(np.array_split(pdf.sort_values("timestamp"), 4)):
        spark.createDataFrame(chunk).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"c{c}")
        )
    stream = (
        spark.readStream.schema("k string, timestamp long, id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "c*"))
    )
    collected = []
    q = start_fastpath_multi(
        stream, compiled,
        state_dir=str(tmp_path / "state"), checkpoint_dir=str(tmp_path / "ckpt"),
        sink=lambda df, batch_id: collected.append(df.toPandas()),
        ts_col="timestamp", id_col="id",
    )
    assert q.awaitTermination(600), "stream did not drain"
    got = (
        pd.concat(collected, ignore_index=True)
        .sort_values(["pattern_id", "key", "counter"])
        .reset_index(drop=True)
    )

    batch = (
        MultiPatternCEP(compiled, ts_col="timestamp", id_col="id")
        .detections(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values(["pattern_id", "key", "counter"])
        .reset_index(drop=True)
    )
    assert len(got) == len(batch) and len(got) > 0
    assert set(got.pattern_id) == set(batch.pattern_id)
    for col in ("pattern_id", "key", "detection_event_id", "counter", "n_matched"):
        assert list(got[col].astype(str)) == list(batch[col].astype(str)), col


def test_streaming_multi_checkpoint_restart(spark, tmp_path):
    """Kill after half the input, restart from the checkpoint: the
    pickled carry vector must recover for ALL patterns and the union of
    both runs equals the batch result (A20 for the multi path)."""
    import numpy as np

    from flink_rtcef_spark.streaming.fastpath import start_fastpath_multi

    rng = random.Random(31)
    pdf = pd.DataFrame(
        [
            (f"k{rng.randint(1, 3)}", t + 1, t, rng.choice("AABBC"))
            for t in range(400)
        ],
        columns=["k", "timestamp", "id", "event_type"],
    )
    compiled = compile_patterns(PATTERNS, DECLS)
    src = tmp_path / "rsrc"
    src.mkdir()
    chunks = np.array_split(pdf.sort_values("timestamp"), 4)
    ckpt, state = str(tmp_path / "ckpt"), str(tmp_path / "state")
    collected = []

    def run_once():
        stream = (
            spark.readStream.schema(
                "k string, timestamp long, id long, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "c*"))
        )
        q = start_fastpath_multi(
            stream, compiled, state_dir=state, checkpoint_dir=ckpt,
            sink=lambda df, batch_id: collected.append(df.toPandas()),
            ts_col="timestamp", id_col="id",
        )
        assert q.awaitTermination(600), "stream did not drain"

    for c, chunk in enumerate(chunks[:2]):
        spark.createDataFrame(chunk).coalesce(1).write.mode("overwrite").parquet(str(src / f"c{c}"))
    run_once()
    for c, chunk in enumerate(chunks[2:], start=2):
        spark.createDataFrame(chunk).coalesce(1).write.mode("overwrite").parquet(str(src / f"c{c}"))
    run_once()

    got = (
        pd.concat(collected, ignore_index=True)
        .sort_values(["pattern_id", "key", "counter"])
        .reset_index(drop=True)
    )
    batch = (
        MultiPatternCEP(compiled, ts_col="timestamp", id_col="id")
        .detections(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values(["pattern_id", "key", "counter"])
        .reset_index(drop=True)
    )
    assert len(got) == len(batch) and len(got) > 0
    for col in ("pattern_id", "key", "detection_event_id", "counter"):
        assert list(got[col].astype(str)) == list(batch[col].astype(str)), col
