"""kNN join: brute path vs a DuckDB exact oracle, IVF path == brute
when every cell is probed, recall floor and determinism at partial
probes, and the bounded-broadcast guard."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_rtcef_spark.operators.similarity import (
    IVFIndex,
    cluster_by_knn,
    knn_join_brute,
    knn_join_ivf,
)
from flink_rtcef_spark.sources.io import load_table
from tests.conftest import SF_SMOKE

from tools.check_oracle import compare

_IP = "list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"


def _cos(a: str, b: str) -> str:
    ip = _IP.format(a=a, b=b)
    na = _IP.format(a=a, b=a)
    nb = _IP.format(a=b, b=b)
    return f"{ip} / (SQRT({na}) * SQRT({nb}))"


_KNN_SQL = f"""
    WITH ev AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
             ROUND({_cos('a.ed', 'b.ed')}, 6) AS cosine
      FROM ev a JOIN ev b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT src_id, nbr_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY src_id
                  ORDER BY cosine DESC, nbr_id ASC) AS INTEGER) AS rank
      FROM pairs
    )
    SELECT * FROM ranked WHERE rank <= 3
"""


def _duck():
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/embeddings.parquet')"
    )
    return con


def test_brute_matches_duckdb_oracle(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    sdf = knn_join_brute(emb, k=3).toPandas()
    ddf = _duck().execute(_KNN_SQL).df()
    problems = compare("knn_join_brute", sdf, ddf)
    assert not problems, problems


def test_brute_two_table_mode(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    left = emb.filter(F.col("vec_id") < 20)
    out = knn_join_brute(left, right=emb, k=4).toPandas()
    assert set(out["src_id"]) == set(range(20))
    assert (out.groupby("src_id").size() == 4).all()
    # two-table mode keeps the self pair: cosine(v, v) = 1 at rank 1
    top = out[out["rank"] == 1]
    assert (top["src_id"] == top["nbr_id"]).all()


def test_ivf_full_probe_equals_brute(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = IVFIndex().fit_from_rows(emb, ids=list(range(8)))
    brute = knn_join_brute(emb, k=3).toPandas().sort_values(
        ["src_id", "rank"]
    ).reset_index(drop=True)
    ivf = (
        knn_join_ivf(emb, idx, k=3, n_probe=8)
        .toPandas()
        .sort_values(["src_id", "rank"])
        .reset_index(drop=True)[brute.columns]
    )
    import pandas.testing as pdt

    pdt.assert_frame_equal(ivf, brute)


def test_ivf_partial_probe_recall_and_determinism(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = IVFIndex().fit_from_rows(emb, ids=list(range(8)))
    brute = knn_join_brute(emb, k=3).toPandas()
    a = knn_join_ivf(emb, idx, k=3, n_probe=4).toPandas()
    b = knn_join_ivf(emb, idx, k=3, n_probe=4).toPandas()
    key = lambda d: set(zip(d["src_id"], d["nbr_id"]))
    assert key(a) == key(b)  # deterministic under re-execution
    recall = len(key(a) & key(brute)) / len(key(brute))
    assert recall >= 0.6, recall


def test_broadcast_limit_guard(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    with pytest.raises(ValueError, match="knn_join_ivf"):
        knn_join_brute(emb, k=3, broadcast_limit=10)


def test_cluster_by_knn_groups_duplicates(spark):
    """Three tight clusters + a singleton: mutual-kNN components must
    recover exactly the planted structure."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(3, 16)
    rows = []
    vid = 0
    for c in range(3):
        for _ in range(4):
            v = base[c] + rng.randn(16) * 0.01
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    rows.append((vid, [float(x) for x in rng.randn(16) * 5]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r["component"]
        for r in cluster_by_knn(df, k=3, threshold=0.9).collect()
    }
    assert len(out) == 13
    for c in range(3):
        ids = list(range(c * 4, c * 4 + 4))
        assert len({out[i] for i in ids}) == 1, (c, out)
    comps = {out[i] for i in (0, 4, 8, 12)}
    assert len(comps) == 4  # three clusters + singleton all distinct


def test_cluster_by_knn_ivf_path(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = IVFIndex().fit_from_rows(emb, ids=list(range(8)))
    out = cluster_by_knn(
        emb, k=3, threshold=0.95, index=idx, n_probe=8
    ).toPandas()
    brute = cluster_by_knn(emb, k=3, threshold=0.95).toPandas()
    # full probe == brute component structure (same edges -> same CC)
    a = out.sort_values("vec_id").reset_index(drop=True)
    b = brute.sort_values("vec_id").reset_index(drop=True)
    import pandas.testing as pdt

    pdt.assert_frame_equal(a, b)


def test_empty_inputs(spark):
    empty_v = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert knn_join_brute(empty_v, k=3).count() == 0
    from flink_rtcef_spark.operators.webgraph import pagerank

    empty_e = spark.createDataFrame([], "src string, dst string")
    assert pagerank(empty_e, n_iter=2).count() == 0


def _numpy_lloyd(vecs, init, n_iter):
    import numpy as np

    c = init.copy()
    for _ in range(n_iter):
        vn = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-300)
        cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-300)
        assign = np.argmax(vn @ cn.T, axis=1)
        for j in range(len(c)):
            members = vecs[assign == j]
            if len(members):
                c[j] = members.mean(axis=0)
    return c


def test_kmeans_distributed_matches_numpy_lloyd(spark):
    import numpy as np

    from flink_rtcef_spark.operators.similarity import kmeans_fit_distributed

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = kmeans_fit_distributed(emb, k=6, n_iter=4, init_ids=list(range(6)))
    rows = sorted(emb.select("vec_id", "embedding").collect(), key=lambda r: r[0])
    vecs = np.array([np.asarray(r[1], dtype=np.float64) for r in rows])
    want = _numpy_lloyd(vecs, vecs[:6].copy(), n_iter=4)
    assert np.allclose(idx.centroids, want, atol=1e-9), (
        np.abs(idx.centroids - want).max()
    )


def test_kmeans_distributed_recovers_planted_clusters(spark):
    import numpy as np

    from flink_rtcef_spark.operators.similarity import kmeans_fit_distributed

    rng = np.random.RandomState(3)
    base = rng.randn(3, 8) * 5
    rows = []
    vid = 0
    for c in range(3):
        for _ in range(20):
            rows.append(
                (vid, [float(x) for x in base[c] + rng.randn(8) * 0.05])
            )
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # init with one member of each planted cluster
    idx = kmeans_fit_distributed(df, k=3, n_iter=5, init_ids=[0, 20, 40])
    assigned = idx.assign(df).toPandas()
    for c in range(3):
        cells = set(assigned[assigned["vec_id"].between(c * 20, c * 20 + 19)]["cell"])
        assert len(cells) == 1, (c, cells)


def test_pq_fit_distributed_matches_numpy(spark):
    import numpy as np

    from flink_rtcef_spark.operators.similarity import pq_fit_distributed

    emb = load_table(spark, SF_SMOKE, "embeddings")
    m, k, n_iter = 4, 5, 3
    pq = pq_fit_distributed(emb, m=m, k=k, n_iter=n_iter, init_ids=list(range(k)))
    rows = sorted(emb.select("vec_id", "embedding").collect(), key=lambda r: r[0])
    vecs = np.array([np.asarray(r[1], dtype=np.float64) for r in rows])
    vecs = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-300)
    d = vecs.shape[1]
    sub = d // m
    for j in range(m):
        x = vecs[:, j * sub : (j + 1) * sub]
        c = x[:k].copy()
        for _ in range(n_iter):
            d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            a = np.argmin(d2, axis=1)
            for ci in range(len(c)):
                members = x[a == ci]
                if len(members):
                    c[ci] = members.mean(axis=0)
        assert np.allclose(pq.codebooks[j], c, atol=1e-9), (
            j, np.abs(pq.codebooks[j] - c).max()
        )


def test_pq_fit_distributed_releases_its_cache_when_the_fit_fails(
    spark, monkeypatch
):
    """The normalized corpus ``pq_fit_distributed`` persists for its
    Lloyd loops is unpersisted when a loop raises, not only when the
    fit succeeds."""
    from flink_rtcef_spark.operators import similarity

    def fail(*args, **kwargs):
        raise RuntimeError("lloyd failed")

    monkeypatch.setattr(similarity, "_lloyd_distributed", fail)
    emb = load_table(spark, SF_SMOKE, "embeddings")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    with pytest.raises(RuntimeError, match="lloyd failed"):
        similarity.pq_fit_distributed(emb, m=4, k=5, n_iter=3)
    assert set(jsc.getPersistentRDDs().keys()) == before


def test_pq_distributed_books_drive_adc(spark):
    from flink_rtcef_spark.operators.similarity import pq_fit_distributed

    emb = load_table(spark, SF_SMOKE, "embeddings")
    pq = pq_fit_distributed(emb, m=4, k=8, n_iter=2)
    query = emb.filter(F.col("vec_id") == 7).first()["embedding"]
    top = pq.ann_topk(pq.encode(emb), list(query), kk=5).toPandas()
    assert len(top) == 5
    # the query's own vector should surface in its ADC top-5
    assert 7 in set(top["vec_id"])
