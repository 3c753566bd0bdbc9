"""Structured-Streaming runtime + the RTCEF closed adaptation loop.

Maps the reference's three Flink jobs + Kafka topics (SURVEY.md §3.2-3.3)
onto Spark: one streaming query for the keyed engine path — one
applyInPandasWithState GroupState function (inference.py) running the
foreachBatch fast path's kernel specs (fastpath.py,
fastpath_register.py) — foreachBatch for collector/reports, and a
driver-side control loop (observer -> controller -> factory) — the
control plane is tiny (1-key state machines), so it needs no cluster.

Accepted semantic delta vs the reference (documented, mirroring their
own differences.md:7-18): model swap granularity is the microbatch, not
the individual event.
"""

from flink_rtcef_spark.streaming.inference import streaming_detections
from flink_rtcef_spark.streaming.optimizer import BayesLiteOptimizer
from flink_rtcef_spark.streaming.observer import Observer
from flink_rtcef_spark.streaming.loop import RTCEFLoop

__all__ = [
    "streaming_detections",
    "BayesLiteOptimizer",
    "Observer",
    "RTCEFLoop",
]
