"""Bucketed embedding near-dup: recall vs the exact GEMM operator on
planted near-duplicates."""

from __future__ import annotations

import numpy as np
import pandas as pd

from flink_rtcef_spark.operators.dedup import (
    embedding_near_dup,
    embedding_near_dup_lsh,
)


def test_bucketed_near_dup_recall(spark):
    rng = np.random.RandomState(4)
    rows = []
    for i in range(500):
        rows.append((i, [float(x) for x in rng.randn(32)]))
    # plant 20 near-dup pairs (cosine ~0.97)
    planted = []
    for j in range(20):
        base = rng.randn(32)
        rows.append((1000 + 2 * j, [float(x) for x in base]))
        rows.append((1000 + 2 * j + 1, [float(x) for x in base + 0.15 * rng.randn(32)]))
        planted.append((1000 + 2 * j, 1000 + 2 * j + 1))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))

    exact = embedding_near_dup(df, threshold=0.9).toPandas()
    exact_pairs = set(zip(exact.id_a, exact.id_b))
    assert all(p in exact_pairs for p in planted)

    approx = embedding_near_dup_lsh(
        df, threshold=0.9, n_planes=6, n_tables=6
    ).toPandas()
    approx_pairs = set(zip(approx.id_a, approx.id_b))
    # no false positives vs exact (scoring is exact within buckets)
    assert approx_pairs <= exact_pairs
    # high recall on planted near-dups
    recall = len(approx_pairs & set(planted)) / len(planted)
    assert recall >= 0.85, recall


def test_auto_router_picks_lsh_beyond_limit(spark):
    """Below the limit the exact broadcast path runs (recall 1.0); above
    it the LSH-bucketed path runs — a subset of the exact pair set with
    identical cosines for the pairs it keeps."""
    from flink_rtcef_spark.operators.dedup import embedding_near_dup_auto

    rng = np.random.RandomState(9)
    rows = [(i, [float(x) for x in rng.randn(32)]) for i in range(300)]
    for j in range(15):
        base = rng.randn(32)
        rows.append((1000 + 2 * j, [float(x) for x in base]))
        rows.append(
            (1000 + 2 * j + 1, [float(x) for x in base + 0.1 * rng.randn(32)])
        )
    emb_df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    exact = embedding_near_dup_auto(
        emb_df, threshold=0.9, broadcast_limit=10**6
    ).toPandas()
    lsh = embedding_near_dup_auto(
        emb_df, threshold=0.9, broadcast_limit=1, n_tables=8, seed=11
    ).toPandas()
    exact_pairs = {(r.id_a, r.id_b): r.cosine for r in exact.itertuples()}
    lsh_pairs = {(r.id_a, r.id_b): r.cosine for r in lsh.itertuples()}
    assert set(lsh_pairs) <= set(exact_pairs)
    for p, c in lsh_pairs.items():
        assert abs(c - exact_pairs[p]) < 1e-9
    # with 8 tables on this clustered fixture recall should be high
    assert len(lsh_pairs) >= 0.8 * len(exact_pairs)


def test_auto_router_logs_why_it_probes(spark, caplog):
    """When the catalog row count cannot be read, the router logs the
    cause and that it fell back to the bounded probe, and still routes:
    a planted twin pair is found on the exact broadcast path."""
    import logging

    from flink_rtcef_spark.operators.dedup import embedding_near_dup_auto

    rng = np.random.RandomState(3)
    base = rng.randn(16)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(8)]
    rows += [(100, [float(x) for x in base]), (101, [float(x) for x in base])]
    emb_df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )

    class _NoStats:
        """The DataFrame's JVM handle with its plan statistics gone."""

        def __init__(self, jdf):
            self._j = jdf

        def queryExecution(self):
            raise RuntimeError("plan stats unavailable")

        def __getattr__(self, name):
            return getattr(self._j, name)

    emb_df._jdf = _NoStats(emb_df._jdf)
    with caplog.at_level(logging.WARNING, logger="flink_rtcef_spark.operators.dedup"):
        got = embedding_near_dup_auto(
            emb_df, threshold=0.99, broadcast_limit=100
        ).toPandas()
    assert "RuntimeError: plan stats unavailable" in caplog.text
    assert "bounded limit(101) probe" in caplog.text
    assert (100, 101) in set(zip(got["id_a"], got["id_b"]))


def test_levenshtein_verify_matches_duckdb(spark):
    import duckdb

    from flink_rtcef_spark.operators.dedup import (
        levenshtein_verify,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from flink_rtcef_spark.sources.io import load_table
    from tests.conftest import SF_SMOKE
    from tools.check_oracle import compare

    docs = load_table(spark, SF_SMOKE, "documents")
    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    sdf = levenshtein_verify(pairs, docs, max_dist=40).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    pd_pairs = pairs.toPandas()
    con.register("cand", pd_pairs)
    ddf = con.execute(
        """
        SELECT c.id_a, c.id_b,
               CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
        FROM cand c
        JOIN documents a ON a.doc_id = c.id_a
        JOIN documents b ON b.doc_id = c.id_b
        WHERE levenshtein(a.text, b.text) <= 40
        """
    ).df()
    problems = compare("levenshtein_verify", sdf, ddf)
    assert not problems, problems


def test_levenshtein_threshold_short_circuit(spark):
    from flink_rtcef_spark.operators.dedup import levenshtein_verify

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "the quick brown fix"),      # dist 1 from doc 1
            (3, "a completely different sentence entirely"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long"
    )
    got = levenshtein_verify(pairs, docs, max_dist=3).collect()
    assert len(got) == 1
    assert got[0]["id_a"] == 1 and got[0]["id_b"] == 2
    assert got[0]["edit_dist"] == 1


def test_keep_best_in_component(spark):
    from flink_rtcef_spark.operators.dedup import keep_best_in_component

    docs = spark.createDataFrame(
        [
            (1, "short", 5.0),
            (2, "the long best copy", 18.0),   # same cluster as 1, 3
            (3, "mid copy", 8.0),
            (4, "lone doc", 8.0),              # singleton, no component row
        ],
        "doc_id long, text string, quality double",
    )
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "id long, component long"
    )
    kept = sorted(
        r["doc_id"]
        for r in keep_best_in_component(docs, comps, "quality").collect()
    )
    assert kept == [2, 4]  # best of the cluster + the singleton


def test_semantic_dedup_with_trained_index(spark):
    from flink_rtcef_spark.operators.dedup import semantic_dedup_pairs
    from flink_rtcef_spark.operators.similarity import kmeans_fit_distributed
    from flink_rtcef_spark.sources.io import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = kmeans_fit_distributed(emb, k=8, n_iter=3)
    pairs = semantic_dedup_pairs(emb, threshold=0.9, index=idx).toPandas()
    default = semantic_dedup_pairs(emb, n_clusters=8, threshold=0.9).toPandas()
    # both paths produce valid ordered pairs above the threshold; the
    # trained clustering groups similar vectors at least as well
    for d in (pairs, default):
        assert (d["id_a"] < d["id_b"]).all()
        assert (d["cosine"] >= 0.9).all()
    assert len(pairs) >= len(default)
