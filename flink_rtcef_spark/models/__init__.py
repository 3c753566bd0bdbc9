"""Probabilistic models: the training workload (SURVEY.md §2.E).

The only data-sized stage (counting context occurrences) runs as a
distributed Spark aggregation; tree assembly, PST pruning, and
waiting-time computation are driver-side on the (small) count table,
and the finished model broadcasts to executors inside the forecast
operator.
"""

from flink_rtcef_spark.models.cst import CounterSuffixTree, cst_counts_spark
from flink_rtcef_spark.models.pst import PredictionSuffixTree, learn_pst
from flink_rtcef_spark.models.wt import WtDistribution, Forecast
from flink_rtcef_spark.models.spst import SPST, spst_from_cst, train_spst

__all__ = [
    "CounterSuffixTree",
    "cst_counts_spark",
    "PredictionSuffixTree",
    "learn_pst",
    "WtDistribution",
    "Forecast",
    "SPST",
    "spst_from_cst",
    "train_spst",
]
