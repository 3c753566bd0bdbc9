"""Named query registry — the engine's benchmark/correctness surface.

Every operator class the engine supports (SURVEY.md §2.H plus the
training-data-pipeline operators) is exercised by at least one named
query here.  Each entry pairs a Spark DataFrame implementation with an
equivalent ANSI-SQL oracle that DuckDB runs on the same parquet tables;
the driver hash-compares the two at sf0.01.

Registration is decorator-based; modules register on import, and
``load_all`` fixes the registry's order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a named query; ``oracle`` is DuckDB-runnable SQL over the
    pre-registered views (region nation customer supplier part orders
    lineitem events documents embeddings).  ``None`` marks a genuinely
    non-SQL-expressible operator (driver falls back to rows-only check).
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every query module (side effect: registration), then put
    ``QUERIES`` and ``ORACLES`` in registry order: by module, in the
    order below, each module's entries in definition order, whichever
    module a process imported first."""
    from flink_rtcef_spark.queries import cep_queries, pipeline, relational

    rank = {m.__name__: i for i, m in enumerate((relational, cep_queries, pipeline))}
    ordered = sorted(QUERIES.items(), key=lambda kv: rank.get(kv[1].__module__, len(rank)))
    QUERIES.clear()
    QUERIES.update(ordered)
    oracles = [(name, ORACLES.pop(name)) for name in QUERIES if name in ORACLES]
    ORACLES.update(oracles)
