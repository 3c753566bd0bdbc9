"""PageRank link-graph operator: numpy ground truth, rank-mass
conservation with dangling nodes, weighted == parallel-edge
equivalence, and DuckDB oracle parity on the derived host graph."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from flink_rtcef_spark.operators.webgraph import (
    pagerank,
    pagerank_oracle_sql,
)
from tests.conftest import SF_SMOKE

EDGES = [
    ("a", "b", 1.0),
    ("a", "c", 2.0),
    ("b", "c", 1.0),
    ("c", "a", 1.0),
    ("d", "a", 1.0),  # e has no out-edges via this list? (e below)
    ("a", "e", 1.0),  # e is dangling
]


def _numpy_pagerank(edges, n_iter, d=0.85):
    nodes = sorted({s for s, _, _ in edges} | {t for _, t, _ in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    w = np.zeros((n, n))
    for s, t, wt in edges:
        w[idx[s], idx[t]] += wt
    out = w.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        contrib = np.zeros(n)
        for i in range(n):
            if out[i] > 0:
                contrib += r[i] * w[i] / out[i]
        dang = r[out == 0].sum()
        r = (1 - d) / n + d * (contrib + dang / n)
    return {nodes[i]: r[i] for i in range(n)}


def test_pagerank_matches_numpy(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string, wt double")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, n_iter=7, weight="wt").collect()
    }
    want = _numpy_pagerank(EDGES, n_iter=7)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12)


def test_rank_mass_conserved_with_dangling(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string, wt double")
    total = (
        pagerank(df, n_iter=9, weight="wt")
        .agg(F.sum("rank").alias("s"))
        .collect()[0]["s"]
    )
    assert total == pytest.approx(1.0, abs=1e-12)


def test_parallel_edges_equal_weights(spark):
    weighted = spark.createDataFrame(
        [("a", "b", 2.0), ("b", "a", 1.0)], "src string, dst string, wt double"
    )
    parallel = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "a")], "src string, dst string"
    )
    rw = {r["node"]: r["rank"] for r in pagerank(weighted, 5, weight="wt").collect()}
    rp = {r["node"]: r["rank"] for r in pagerank(parallel, 5).collect()}
    for k in rw:
        assert rw[k] == pytest.approx(rp[k], abs=1e-12)


def test_checkpoint_does_not_change_result(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string, wt double")
    a = {r["node"]: r["rank"] for r in pagerank(df, 6, weight="wt", checkpoint_every=2).collect()}
    b = {r["node"]: r["rank"] for r in pagerank(df, 6, weight="wt", checkpoint_every=100).collect()}
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-12)


# ---- derived host graph over the documents table (oracle parity) ----
# (the derivation + registered query live in queries/pipeline.py)

from flink_rtcef_spark.queries.pipeline import _PR_EDGES_SQL as _EDGES_SQL
from flink_rtcef_spark.queries.pipeline import host_graph_edges


def test_domain_pagerank_oracle(spark):
    from tools.check_oracle import compare

    edges = host_graph_edges(spark, SF_SMOKE)
    sdf = (
        pagerank(edges, n_iter=10)
        .select("node", F.round("rank", 6).alias("rank"))
        .toPandas()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    ddf = con.execute(pagerank_oracle_sql(_EDGES_SQL, n_iter=10, round_to=6)).df()
    problems = compare("domain_pagerank", sdf, ddf)
    assert not problems, problems
