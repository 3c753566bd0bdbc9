from flink_rtcef_spark.functions.scalar import (
    haversine_km,
    within_circle,
    outside_circle,
    distance_between,
    portable_hash64,
    bitstring_flag,
)
from flink_rtcef_spark.functions.metrics import (
    precision_expr,
    recall_expr,
    f1_expr,
    mcc,
    mcc_expr,
    confusion_agg,
)

__all__ = [
    "haversine_km",
    "within_circle",
    "outside_circle",
    "distance_between",
    "portable_hash64",
    "bitstring_flag",
    "precision_expr",
    "recall_expr",
    "f1_expr",
    "mcc",
    "mcc_expr",
    "confusion_agg",
]
