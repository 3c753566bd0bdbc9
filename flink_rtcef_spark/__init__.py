"""flink_rtcef_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the rayan-insa/flink-RTCEF reference system.

The reference (see SURVEY.md) is a Run-Time-adaptive Complex Event
Forecasting system: Complex Event Recognition via symbolic automata,
forecasting via variable-order Markov models (prediction suffix trees),
and a closed model-adaptation loop.  This package re-expresses those
capabilities Spark-first:

- relational/evaluation surface  -> DataFrame / Spark SQL (Catalyst optimizes)
- pattern language (SRE)         -> driver-side compiler in ``plans/``
- pattern matching (CEP)         -> one custom stateful operator in
                                    ``operators/cep.py`` (mapInPandas)
- model training                 -> distributed aggregation + driver assembly
                                    in ``models/``
- streaming + adaptation         -> Structured Streaming in ``streaming/``
- LLM-training-data pipeline ops -> ``operators/`` (dedup, similarity, text)
"""

__version__ = "0.1.0"
