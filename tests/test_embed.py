"""Hashed text embeddings: DuckDB exact parity, unit norm,
partitioning invariance, zero vector for empty docs, and integration
with the kNN consumer."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from flink_rtcef_spark.operators.embed import (
    embedding_oracle_sql,
    hashed_text_embedding,
)
from flink_rtcef_spark.sources.io import load_table
from tests.conftest import SF_SMOKE

DIM = 16


def test_matches_duckdb_exactly(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    sdf = (
        hashed_text_embedding(docs, dim=DIM)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    ddf = (
        con.execute(embedding_oracle_sql(dim=DIM))
        .df()
        .set_index("doc_id")
        .sort_index()
    )
    assert list(sdf.index) == list(ddf.index)
    for i in sdf.index:
        a = np.asarray(sdf.loc[i, "embedding"], dtype=np.float64)
        b = np.asarray(ddf.loc[i, "embedding"], dtype=np.float64)
        assert a.shape == (DIM,) and b.shape == (DIM,)
        assert (a == b).all(), (i, a, b)  # EXACT, not approx


def test_unit_norm_and_empty_zero(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, ""), (3, "x")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: np.asarray(r["embedding"])
        for r in hashed_text_embedding(df, dim=DIM, ngram=2).collect()
    }
    assert np.linalg.norm(out[1]) == pytest.approx(1.0, abs=1e-12)
    assert (out[2] == 0).all()
    assert (out[3] == 0).all()  # one token -> no bigrams -> zero vector


def test_partitioning_invariance(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    a = hashed_text_embedding(docs, dim=DIM).toPandas().set_index("doc_id").sort_index()
    b = (
        hashed_text_embedding(docs.repartition(17, "source"), dim=DIM)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    for i in a.index:
        assert (
            np.asarray(a.loc[i, "embedding"]) == np.asarray(b.loc[i, "embedding"])
        ).all()


def test_near_dup_texts_have_high_cosine(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),
            (3, "completely unrelated content about maritime vessel trajectories"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: np.asarray(r["embedding"])
        for r in hashed_text_embedding(df, dim=64).collect()
    }
    cos = lambda a, b: float(a @ b)
    assert cos(out[1], out[2]) > 0.8
    assert cos(out[1], out[3]) < 0.5


def test_feeds_knn_join(spark):
    from flink_rtcef_spark.operators.similarity import knn_join_brute

    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    emb = hashed_text_embedding(docs, dim=32).withColumnRenamed(
        "doc_id", "vec_id"
    )
    nn = knn_join_brute(emb, k=3).toPandas()
    assert (nn.groupby("src_id").size() == 3).all()
