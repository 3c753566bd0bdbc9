"""Streaming forecasting must equal the batch ForecastCEP across
microbatch boundaries (detections AND forecast intervals)."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

from flink_rtcef_spark.models.spst import train_spst
from flink_rtcef_spark.operators.cep import BatchCEP
from flink_rtcef_spark.operators.forecast import ForecastCEP
from flink_rtcef_spark.plans.compiler import compile_pattern
from flink_rtcef_spark.streaming.fastpath import start_fastpath_forecasts

PAT = ";(IsEventTypePredicate(A),IsEventTypePredicate(B)){order:1}{partitionBy:k}"
DECLS = "~(IsEventTypePredicate(A),IsEventTypePredicate(B))"


def _run(spark, src, tmp_path, name, spst, **options):
    """Stream the chunk files under ``src`` (one microbatch each)
    through the forecast fast path; return the rows its sink
    collected."""
    stream = (
        spark.readStream.schema("k string, timestamp long, id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "c*"))
    )
    collected = []
    q = start_fastpath_forecasts(
        stream, spst,
        state_dir=str(tmp_path / f"{name}_state"),
        checkpoint_dir=str(tmp_path / f"{name}_ckpt"),
        sink=lambda df, batch_id: collected.append(df.toPandas()),
        ts_col="timestamp", id_col="id",
        method="classify_nextk", confidence_threshold=0.4, spread=3,
        **options,
    )
    assert q.awaitTermination(600), "stream did not drain"
    return pd.concat(collected, ignore_index=True)


def test_streaming_forecasts_equal_batch(spark, tmp_path):
    rng = random.Random(21)
    pdf = pd.DataFrame(
        [("u1", t + 1, t, "B" if rng.random() < 0.35 else "A") for t in range(300)]
        + [("u2", t + 1, 500 + t, "B" if rng.random() < 0.5 else "A") for t in range(300)],
        columns=["k", "timestamp", "id", "event_type"],
    )
    df = spark.createDataFrame(pdf)
    compiled = compile_pattern(PAT, DECLS)
    cep = BatchCEP(compiled, ts_col="timestamp", id_col="id")
    spst = train_spst(cep.symbolized(df), compiled, max_order=1, horizon=5, cutoff=0.0)

    src = tmp_path / "fsrc"
    for c, chunk in enumerate(np.array_split(pdf.sort_values("timestamp"), 4)):
        spark.createDataFrame(chunk).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"c{c}")
        )
    got = _run(spark, src, tmp_path, "sfc", spst)

    fcep = ForecastCEP(
        spst, key_col="k", ts_col="timestamp", id_col="id",
        method="classify_nextk", confidence_threshold=0.4, spread=3,
    )
    expected = fcep.forecasts(df).toPandas()

    for is_det in (True, False):
        g = got[got.is_detection == is_det].sort_values(["key", "counter"]).reset_index(drop=True)
        e = expected[expected.is_detection == is_det].sort_values(["key", "counter"]).reset_index(drop=True)
        assert len(g) == len(e) and len(g) > 0
        assert list(g["counter"]) == list(e["counter"])
        assert list(g["event_id"]) == list(e["event_id"])
        if not is_det:
            assert np.allclose(g["prob"], e["prob"])
            assert list(g["start_ctr"]) == list(e["start_ctr"])
            assert list(g["positive"]) == list(e["positive"])


def test_streaming_forecast_ttl_expires_run_state(spark, tmp_path):
    """Forecast state rides the run and must expire with it on the
    EVENT clock: after the watermark passes last-event + ttl, the key
    restarts at state 0 / counter 0 — visible as the counter resetting
    instead of continuing.  Detections still flow for the fresh run."""
    pdf1 = pd.DataFrame(
        [("u1", 100, 0, "A"), ("u1", 101, 1, "B"), ("w", 101, 2, "A")],
        columns=["k", "timestamp", "id", "event_type"],
    )
    # watermark pusher: far beyond ttl
    pdf2 = pd.DataFrame([("w", 5000, 3, "A")], columns=["k", "timestamp", "id", "event_type"])
    # fresh events for u1 after expiry
    pdf3 = pd.DataFrame(
        [("u1", 5100, 4, "A"), ("u1", 5101, 5, "B")],
        columns=["k", "timestamp", "id", "event_type"],
    )
    full = pd.concat([pdf1, pdf2, pdf3])
    df = spark.createDataFrame(full)
    compiled = compile_pattern(PAT, DECLS)
    cep = BatchCEP(compiled, ts_col="timestamp", id_col="id")
    spst = train_spst(cep.symbolized(df), compiled, max_order=1, horizon=5, cutoff=0.0)

    src = tmp_path / "tsrc"
    for c, chunk in enumerate((pdf1, pdf2, pdf3)):
        spark.createDataFrame(chunk).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"c{c}")
        )
    got = _run(
        spark, src, tmp_path, "sfc_ttl", spst,
        watermark_delay_ms=0, state_ttl_ms=600_000,
    )
    got = got[got.key == "u1"]
    dets = got[got.is_detection].sort_values("event_id")
    # both A;B matches detected...
    assert list(dets["event_id"]) == [1, 5]
    # ...and the second one's counter restarted from a FRESH run
    # (2 events into the new run), not continued from the old counter
    assert list(dets["counter"]) == [2, 2]
