"""Similarity search over an embedding column (array<float>).

Baseline: brute-force cosine top-k — at scale a broadcast of the query
vector, a map-side score (zip_with/aggregate, JVM-codegen'd), and a
TakeOrdered; zero shuffles.

Scale paths:
- RandomHyperplaneLSH: sign-pattern bucketing; top-k probes only the
  query's bucket (+ optional multi-probe neighbors).  Bucketing is a
  pure column expression; the bucketed table can be written
  partitioned-by-bucket so queries prune partitions at the scan.
- IVFIndex: k-means centroids (corpora over the sample bound train via
  the DISTRIBUTED Lloyd loop by default; the driver-sample trainer is
  a small-corpus opt-in) -> assign each vector to its nearest centroid
  (broadcast centroids, map-side argmin) -> probe the closest n_probe
  cells.  The classic IVF trade: recall vs scanned fraction.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a: str | Column, b: str | Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(c: str | Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _vec_lit(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def cosine_scores(
    df: DataFrame, query_vec: list[float], vec_col: str = "embedding"
) -> DataFrame:
    """Score every row against the query vector — map-side only."""
    q = _vec_lit(query_vec)
    return df.withColumn(
        "cosine", _dot(F.col(vec_col), q) / (_norm(F.col(vec_col)) * _norm(q))
    )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force exact top-k: orderBy+limit compiles to TakeOrdered
    (per-partition heap + driver merge, no full sort/shuffle)."""
    return (
        cosine_scores(df, query_vec, vec_col)
        .select(id_col, F.round("cosine", 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


class RandomHyperplaneLSH:
    """Multi-table sign-pattern LSH for cosine similarity.

    Each table hashes a vector to the bit pattern of sign(v . h_i) over
    ``n_planes`` seeded hyperplanes; a candidate matches if it shares
    the query's bucket in ANY table (OR-amplification — a single table
    has low recall on near-orthogonal data).  Per-table buckets compose
    into one column ``bucket = table_idx * 2^n_planes + pattern``, so a
    bucket-partitioned copy of the corpus (one row per table) turns the
    probe into partition pruning at the scan."""

    def __init__(self, dim: int, n_planes: int = 6, n_tables: int = 4, seed: int = 11):
        rng = np.random.RandomState(seed)
        self.tables = [rng.randn(n_planes, dim) for _ in range(n_tables)]
        self.n_planes = n_planes
        self.n_tables = n_tables

    def _bucket_array_column(self, vec_col: str) -> Column:
        """All n_tables bucket ids per vector in ONE vectorized pandas
        UDF: a single (batch x dim) @ (dim x n_tables*n_planes) GEMM,
        sign bits packed per table — ~10x over per-plane aggregate
        expressions."""
        planes = np.vstack(self.tables)  # [n_tables*n_planes, dim]
        n_planes = self.n_planes
        n_tables = self.n_tables
        weights = np.array([1 << i for i in range(n_planes)])

        @F.pandas_udf(T.ArrayType(T.IntegerType()))
        def _buckets(vecs: pd.Series) -> pd.Series:
            mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
            if len(mat) == 0:
                return pd.Series([], dtype=object)
            signs = (mat @ planes.T) >= 0  # [batch, n_tables*n_planes]
            signs = signs.reshape(len(mat), n_tables, n_planes)
            patterns = signs @ weights  # [batch, n_tables]
            offsets = np.arange(n_tables) * (1 << n_planes)
            buckets = patterns + offsets
            return pd.Series([row.astype(int).tolist() for row in buckets])

        return _buckets(F.col(vec_col))

    def bucketize(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        """One row per (vector, table) with the composed bucket id —
        the index-build side (corpus is replicated n_tables times, the
        standard LSH space/recall trade)."""
        return df.withColumn(
            "bucket", F.explode(self._bucket_array_column(vec_col))
        )

    def probe_buckets(self, query_vec: list[float], n_probe_bits: int = 1) -> list[int]:
        """Per table: query bucket + buckets within Hamming distance
        n_probe_bits (multi-probe recovers margin near-misses)."""
        q = np.asarray(query_vec, dtype=float)
        buckets: set[int] = set()
        for t, planes in enumerate(self.tables):
            base = int(sum(1 << i for i, p in enumerate(planes) if p @ q >= 0))
            offs = t * (1 << self.n_planes)
            pats = {base}
            if n_probe_bits >= 1:
                pats |= {base ^ (1 << i) for i in range(self.n_planes)}
            if n_probe_bits >= 2:
                pats |= {
                    base ^ (1 << i) ^ (1 << j)
                    for i in range(self.n_planes)
                    for j in range(i + 1, self.n_planes)
                }
            buckets |= {offs + p for p in pats}
        return sorted(buckets)

    def ann_topk(
        self,
        df: DataFrame,
        query_vec: list[float],
        k: int = 10,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        n_probe_bits: int = 1,
    ) -> DataFrame:
        """Approximate top-k: score only rows in probed buckets (dedup
        across tables before scoring)."""
        bucketed = self.bucketize(df, vec_col)
        probes = self.probe_buckets(query_vec, n_probe_bits)
        candidates = (
            bucketed.filter(F.col("bucket").isin(probes))
            .select(id_col, vec_col)
            .dropDuplicates([id_col])
        )
        return (
            cosine_scores(candidates, query_vec, vec_col)
            .select(id_col, F.round("cosine", 6).alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
            .limit(k)
        )

    def candidate_count(self, df: DataFrame, query_vec: list[float], vec_col: str = "embedding", id_col: str = "vec_id", n_probe_bits: int = 1) -> int:
        bucketed = self.bucketize(df, vec_col)
        probes = self.probe_buckets(query_vec, n_probe_bits)
        return (
            bucketed.filter(F.col("bucket").isin(probes))
            .select(id_col)
            .distinct()
            .count()
        )


class IVFIndex:
    """Inverted-file index: k-means centroids (trained driver-side on a
    sample), vectors assigned to nearest cell, queries probe the
    closest cells only."""

    def __init__(self, n_cells: int = 16, n_iter: int = 10, seed: int = 13):
        self.n_cells = n_cells
        self.n_iter = n_iter
        self.seed = seed
        self.centroids: np.ndarray | None = None

    def fit(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        sample: int = 10000,
        id_col: str = "vec_id",
        driver_sample: bool = False,
    ) -> "IVFIndex":
        """Train centroids.  Corpora larger than ``sample`` rows route
        to the DISTRIBUTED Lloyd trainer by default (the corpus never
        reaches the driver — same router pattern as
        ``embedding_near_dup_auto``); the driver-sample path is an
        explicit small-corpus opt-in via ``driver_sample=True``.  The
        size check is a bounded limit(sample+1) probe that doubles as
        the training collect when the corpus fits."""
        rows = df.select(vec_col).limit(sample + 1).collect()
        if len(rows) > sample and not driver_sample:
            if id_col not in df.columns:
                raise ValueError(
                    f"IVFIndex.fit: corpus exceeds sample={sample} rows, so "
                    "training routes to the distributed Lloyd trainer, which "
                    f"needs an id column ('{id_col}' not in {df.columns}). "
                    "Pass id_col=, or driver_sample=True to explicitly train "
                    "on a driver-side sample."
                )
            fitted = kmeans_fit_distributed(
                df, k=self.n_cells, n_iter=self.n_iter,
                vec_col=vec_col, id_col=id_col,
            )
            self.centroids = fitted.centroids
            self.n_cells = fitted.n_cells
            return self
        vecs = np.array([np.asarray(r[0], dtype=float) for r in rows])
        rng = np.random.RandomState(self.seed)
        centroids = vecs[rng.choice(len(vecs), size=min(self.n_cells, len(vecs)), replace=False)]
        for _ in range(self.n_iter):
            # cosine assignment on normalized vectors
            vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
            cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
            assign = np.argmax(vn @ cn.T, axis=1)
            for c in range(len(centroids)):
                members = vecs[assign == c]
                if len(members):
                    centroids[c] = members.mean(axis=0)
        self.centroids = centroids
        return self

    def fit_from_rows(
        self,
        df: DataFrame,
        ids: list[int],
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IVFIndex":
        """Centroids = the given corpus rows verbatim (id order).  The
        sampled-codebook variant: at scale centroids are trained once
        and become constants; pinning them to named rows makes the whole
        index SQL-reproducible (the driver oracle re-derives assignment
        and probing from the same rows), while the Lloyd-trained path
        (``fit``) remains the quality option."""
        rows = (
            df.filter(F.col(id_col).isin(list(ids)))
            .select(id_col, vec_col)
            .orderBy(id_col)
            .collect()
        )
        self.centroids = np.array([np.asarray(r[1], dtype=float) for r in rows])
        self.n_cells = len(rows)
        return self

    def cell_column(self, vec_col: str = "embedding") -> Column:
        """argmax-cosine centroid id via one (batch x dim) GEMM pandas
        UDF against the broadcast centroid matrix."""
        cn = self.centroids / np.linalg.norm(self.centroids, axis=1, keepdims=True)

        @F.pandas_udf(T.IntegerType())
        def _cell(vecs: pd.Series) -> pd.Series:
            mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
            if len(mat) == 0:
                return pd.Series([], dtype="int32")
            mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-300)
            return pd.Series(np.argmax(mat @ cn.T, axis=1).astype("int32"))

        return _cell(F.col(vec_col))

    def assign(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        return df.withColumn("cell", self.cell_column(vec_col))

    def query_cells(self, query_vec: list[float], n_probe: int = 2) -> list[int]:
        q = np.asarray(query_vec, dtype=float)
        cn = self.centroids / np.linalg.norm(self.centroids, axis=1, keepdims=True)
        scores = cn @ (q / np.linalg.norm(q))
        # stable sort so equal scores break ties by cell id — keeps the
        # probe set deterministic and oracle-reproducible
        return [int(i) for i in np.argsort(-scores, kind="stable")[:n_probe]]

    def ann_topk(
        self,
        df: DataFrame,
        query_vec: list[float],
        k: int = 10,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        n_probe: int = 2,
    ) -> DataFrame:
        assigned = self.assign(df, vec_col)
        cells = self.query_cells(query_vec, n_probe)
        return (
            cosine_scores(assigned.filter(F.col("cell").isin(cells)), query_vec, vec_col)
            .select(id_col, F.round("cosine", 6).alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
            .limit(k)
        )


class ProductQuantizer:
    """Product quantization (Jégou et al., PAMI 2011 — public method):
    split each d-dim vector into m subvectors, k-means each subspace to
    k centroids, store each vector as m uint8 codes.  At 100 TB this is
    the memory-bound similarity path: a 768-float embedding (3 KB)
    compresses to m bytes (~256x), so the code table for a corpus that
    cannot hold raw vectors fits scan-resident; queries score via a
    per-subspace lookup table (ADC) — one numpy gather+sum per batch,
    no decompression.

    Train: driver-side deterministic k-means on a sample.  Encode: one
    vectorized pandas UDF (argmin per subspace).  Search: broadcast the
    m x k LUT of partial inner products, mapInPandas gather-sum,
    TakeOrdered top-k.
    """

    def __init__(self, m: int = 8, k: int = 16, n_iter: int = 12, seed: int = 17):
        self.m = m
        self.k = k
        self.n_iter = n_iter
        self.seed = seed
        self.codebooks: np.ndarray | None = None  # [m, k, d/m]

    def fit(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        sample: int = 10000,
        id_col: str = "vec_id",
        driver_sample: bool = False,
    ) -> "ProductQuantizer":
        """Train codebooks.  Corpora larger than ``sample`` rows route
        to the distributed per-subspace Lloyd trainer by default
        (:func:`pq_fit_distributed`); pass ``driver_sample=True`` to
        opt in to the driver-side sample trainer."""
        rows = df.select(vec_col).limit(sample + 1).collect()
        if len(rows) > sample and not driver_sample:
            if id_col not in df.columns:
                raise ValueError(
                    f"ProductQuantizer.fit: corpus exceeds sample={sample} "
                    "rows, so training routes to pq_fit_distributed, which "
                    f"needs an id column ('{id_col}' not in {df.columns}). "
                    "Pass id_col=, or driver_sample=True to explicitly train "
                    "on a driver-side sample."
                )
            fitted = pq_fit_distributed(
                df, m=self.m, k=self.k, n_iter=self.n_iter,
                vec_col=vec_col, id_col=id_col,
            )
            self.codebooks = fitted.codebooks
            self.k = fitted.k
            return self
        vecs = np.array([np.asarray(r[0], dtype=float) for r in rows])
        vecs = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-300)
        d = vecs.shape[1]
        if d % self.m:
            raise ValueError(f"dim {d} not divisible by m={self.m}")
        sub = d // self.m
        rng = np.random.RandomState(self.seed)
        books = np.empty((self.m, self.k, sub))
        for j in range(self.m):
            x = vecs[:, j * sub : (j + 1) * sub]
            c = x[rng.choice(len(x), size=min(self.k, len(x)), replace=False)]
            for _ in range(self.n_iter):
                d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
                a = np.argmin(d2, axis=1)
                for ci in range(len(c)):
                    members = x[a == ci]
                    if len(members):
                        c[ci] = members.mean(axis=0)
            books[j, : len(c)] = c
        self.codebooks = books
        return self

    def fit_from_rows(
        self,
        df: DataFrame,
        ids: list[int],
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "ProductQuantizer":
        """Codebooks = subvectors of the given (normalized) corpus rows
        in id order: book[j][c] = rows[c][j*sub:(j+1)*sub].  The
        sampled-codebook variant — SQL-reproducible for the driver
        oracle; k-means (``fit``) remains the quality path."""
        rows = (
            df.filter(F.col(id_col).isin(list(ids)))
            .select(id_col, vec_col)
            .orderBy(id_col)
            .collect()
        )
        vecs = np.array([np.asarray(r[1], dtype=float) for r in rows])
        vecs = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-300)
        d = vecs.shape[1]
        if d % self.m:
            raise ValueError(f"dim {d} not divisible by m={self.m}")
        sub = d // self.m
        self.k = len(rows)
        self.codebooks = np.stack(
            [vecs[:, j * sub : (j + 1) * sub] for j in range(self.m)]
        )
        return self

    def encode(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        """vector -> array<int> of m codebook indices (vectorized
        argmin per subspace; normalize first so ADC approximates
        cosine)."""
        books = self.codebooks
        m, k, sub = books.shape

        @F.pandas_udf(T.ArrayType(T.IntegerType()))
        def _codes(vecs: pd.Series) -> pd.Series:
            mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
            if len(mat) == 0:
                return pd.Series([], dtype=object)
            mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-300)
            out = np.empty((len(mat), m), dtype=np.int32)
            for j in range(m):
                x = mat[:, j * sub : (j + 1) * sub]
                d2 = ((x[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                out[:, j] = np.argmin(d2, axis=1)
            return pd.Series(list(out))

        return df.withColumn("pq_codes", _codes(F.col(vec_col)))

    def ann_topk(
        self,
        encoded: DataFrame,
        query_vec: list[float],
        kk: int = 10,
        id_col: str = "vec_id",
    ) -> DataFrame:
        """Asymmetric distance computation: LUT[j, c] = <q_j, book[j,c]>;
        score = sum_j LUT[j, codes[j]] ~ cosine(q, v)."""
        q = np.asarray(query_vec, dtype=float)
        q = q / np.linalg.norm(q)
        books = self.codebooks
        m, k, sub = books.shape
        lut = np.empty((m, k))
        for j in range(m):
            lut[j] = books[j] @ q[j * sub : (j + 1) * sub]

        def score(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                codes = np.array(list(pdf["pq_codes"]), dtype=np.int64)
                s = lut[np.arange(m)[None, :], codes].sum(axis=1)
                yield pd.DataFrame({id_col: pdf[id_col], "score": np.round(s, 6)})

        scored = encoded.select(id_col, "pq_codes").mapInPandas(
            score, schema=f"{id_col} long, score double"
        )
        return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(kk)


class IVFPQIndex:
    """IVF + PQ composed — the FAISS-style layout for a corpus whose
    raw vectors cannot be held (Jégou et al., PAMI 2011, IVFADC):
    IVF coarse cells bound the scan (probe n_probe of n_cells), PQ
    codes bound the memory (m bytes per vector).  For inner-product /
    cosine search the ADC lookup table depends only on the query, so
    one LUT serves every probed cell.

    The encoded table is (id, cell, pq_codes) — write it
    hive-partitioned on ``cell`` (sources/bucketing.write_partitioned)
    and a probe reads ONLY the n_probe matching directories: partition
    pruning turns the cell filter into skipped IO, which is the 100 TB
    point of the composition.
    """

    def __init__(
        self,
        n_cells: int = 16,
        m: int = 8,
        k: int = 16,
        n_iter: int = 10,
        seed: int = 13,
    ):
        self.ivf = IVFIndex(n_cells=n_cells, n_iter=n_iter, seed=seed)
        self.pq = ProductQuantizer(m=m, k=k, n_iter=n_iter, seed=seed + 4)

    def fit(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        sample: int = 10000,
        id_col: str = "vec_id",
        driver_sample: bool = False,
    ) -> "IVFPQIndex":
        self.ivf.fit(df, vec_col, sample, id_col=id_col, driver_sample=driver_sample)
        self.pq.fit(df, vec_col, sample, id_col=id_col, driver_sample=driver_sample)
        return self

    def encode(
        self, df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
    ) -> DataFrame:
        """(id, cell, pq_codes) — the complete scan-resident index row;
        the raw vector column is dropped."""
        assigned = self.ivf.assign(df, vec_col)
        return self.pq.encode(assigned, vec_col).select(id_col, "cell", "pq_codes")

    def ann_topk(
        self,
        encoded: DataFrame,
        query_vec: list[float],
        kk: int = 10,
        n_probe: int = 2,
        id_col: str = "vec_id",
    ) -> DataFrame:
        """Probe n_probe cells, ADC-score only their code lists."""
        cells = self.ivf.query_cells(query_vec, n_probe)
        probed = encoded.filter(F.col("cell").isin([int(c) for c in cells]))
        return self.pq.ann_topk(probed, query_vec, kk=kk, id_col=id_col)


# --------------------------------------------------------------------------
# kNN join: top-k neighbors for EVERY left vector (the kNN-graph
# builder behind graph-based clustering, dedup-by-neighborhood, and
# retrieval eval sets) — not the single-query ann_topk shape.


def knn_join_brute(
    left: DataFrame,
    right: DataFrame | None = None,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    broadcast_limit: int = 500_000,
) -> DataFrame:
    """Exact top-k neighbors per left row against a BROADCAST right
    side: the right matrix is collected once (bounded by
    ``broadcast_limit`` — probe is ``limit(n+1)``, never a full count)
    and every left partition scores against it in one numpy GEMM per
    Arrow batch.  ``right=None`` means self-join (kNN graph); the
    self-match is excluded.

    Ranking is by (cosine rounded to 6, then neighbor id) so results
    are deterministic and oracle-reproducible across summation orders.
    Output: src_id, nbr_id, cosine, rank (1-based, dense per src).
    """
    self_mode = right is None
    r = left if self_mode else right
    probe = r.limit(broadcast_limit + 1).count()
    if probe > broadcast_limit:
        raise ValueError(
            f"right side exceeds broadcast_limit={broadcast_limit}; "
            "use knn_join_ivf for the bucketed scale path"
        )
    rows = r.select(id_col, vec_col).collect()
    schema_empty = "src_id long, nbr_id long, cosine double, rank int"
    if not rows:
        return left.sparkSession.createDataFrame([], schema_empty)
    r_ids = np.array([row[0] for row in rows], dtype=np.int64)
    r_mat = np.array([np.asarray(row[1], dtype=np.float64) for row in rows])
    r_mat = r_mat / np.maximum(
        np.linalg.norm(r_mat, axis=1, keepdims=True), 1e-300
    )
    sc = left.sparkSession.sparkContext
    b_ids, b_mat = sc.broadcast(r_ids), sc.broadcast(r_mat)
    kk = k

    schema = T.StructType(
        [
            T.StructField("src_id", T.LongType()),
            T.StructField("nbr_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )

    def _score(batches):
        ids, mat = b_ids.value, b_mat.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            q = q / np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-300)
            s = np.round(q @ mat.T, 6)
            out = []
            for i, src in enumerate(pdf[id_col].to_numpy()):
                row = s[i]
                mask = ids != src if self_mode else np.ones(len(ids), bool)
                cand = np.flatnonzero(mask)
                # deterministic order: score desc, then id asc
                order = cand[np.lexsort((ids[cand], -row[cand]))][:kk]
                for rnk, j in enumerate(order, start=1):
                    out.append((int(src), int(ids[j]), float(row[j]), rnk))
            yield pd.DataFrame(
                out, columns=["src_id", "nbr_id", "cosine", "rank"]
            )

    return left.select(id_col, vec_col).mapInPandas(_score, schema)


def knn_join_ivf(
    left: DataFrame,
    index: "IVFIndex",
    right: DataFrame | None = None,
    k: int = 5,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The 100 TB path: both sides assign to the broadcast IVF
    centroids map-side; each left vector probes its ``n_probe``
    closest cells (an exploded (vector, cell) pair per probe), the
    per-cell candidate sets meet in ONE hash shuffle on the cell id,
    a per-cell applyInPandas GEMM emits local top-k, and a window
    keeps the global top-k per source.  Nothing is all-pairs; cell
    population bounds each Arrow batch (the semantic_dedup
    discipline).  Self-matches are excluded in self mode.

    Approximate by construction (recall = probability the true
    neighbor shares a probed cell); tie-breaks and rounding match
    :func:`knn_join_brute`, so with n_probe == n_cells the output IS
    the brute answer — pinned by tests.
    """
    self_mode = right is None
    r = left if self_mode else right
    cn = index.centroids / np.linalg.norm(
        index.centroids, axis=1, keepdims=True
    )
    sc = left.sparkSession.sparkContext
    b_cn = sc.broadcast(cn)
    npb = min(n_probe, len(index.centroids))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _probe_cells(vecs: pd.Series) -> pd.Series:
        c = b_cn.value
        out = []
        for v in vecs:
            q = np.asarray(v, dtype=np.float64)
            q = q / max(np.linalg.norm(q), 1e-300)
            s = c @ q
            out.append(
                [int(i) for i in np.argsort(-s, kind="stable")[:npb]]
            )
        return pd.Series(out)

    probes = left.select(
        F.col(id_col).alias("src_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(_probe_cells(F.col(vec_col))).alias("cell"),
    )
    members = index.assign(r, vec_col).select(
        F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("__mv"), "cell"
    )
    lhs = probes.select(
        "cell",
        F.lit("q").alias("__side"),
        F.col("src_id").alias("__id"),
        F.col("__qv").alias("__v"),
    )
    rhs = members.select(
        "cell",
        F.lit("m").alias("__side"),
        F.col("nbr_id").alias("__id"),
        F.col("__mv").alias("__v"),
    )
    both = lhs.unionByName(rhs)
    kk = k

    schema = T.StructType(
        [
            T.StructField("src_id", T.LongType()),
            T.StructField("nbr_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def _cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        qs = pdf[pdf["__side"] == "q"]
        ms = pdf[pdf["__side"] == "m"]
        if len(qs) == 0 or len(ms) == 0:
            return pd.DataFrame(columns=["src_id", "nbr_id", "cosine"])
        qm = np.array([np.asarray(v, np.float64) for v in qs["__v"]])
        mm = np.array([np.asarray(v, np.float64) for v in ms["__v"]])
        qm = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-300)
        mm = mm / np.maximum(np.linalg.norm(mm, axis=1, keepdims=True), 1e-300)
        s = np.round(qm @ mm.T, 6)
        m_ids = ms["__id"].to_numpy()
        out = []
        for i, src in enumerate(qs["__id"].to_numpy()):
            row = s[i]
            mask = m_ids != src if self_mode else np.ones(len(m_ids), bool)
            cand = np.flatnonzero(mask)
            order = cand[np.lexsort((m_ids[cand], -row[cand]))][:kk]
            out.extend(
                (int(src), int(m_ids[j]), float(row[j])) for j in order
            )
        return pd.DataFrame(out, columns=["src_id", "nbr_id", "cosine"])

    local = both.groupBy("cell").applyInPandas(_cell_topk, schema)
    # every member lives in exactly ONE cell, so a (src, nbr) pair can
    # only arise in that cell — no dedup shuffle needed before the
    # global per-source top-k window
    from pyspark.sql import Window

    w = Window.partitionBy("src_id").orderBy(
        F.col("cosine").desc(), F.col("nbr_id").asc()
    )
    return local.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= kk
    )


def cluster_by_knn(
    df: DataFrame,
    k: int = 5,
    threshold: float = 0.7,
    mutual: bool = True,
    index: "IVFIndex | None" = None,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Graph-based embedding clustering: build the kNN graph
    (:func:`knn_join_brute`, or the IVF-bucketed path when ``index``
    is given), keep edges with cosine >= threshold — optionally only
    MUTUAL ones (i <-> j both rank each other, the standard guard
    against hub vectors chaining unrelated clusters) — then resolve
    components with the O(log n) large-star/small-star loop.

    Returns (id_col, component).  Scale shape: kNN edges are o(n*k),
    never all-pairs; the component loop shuffles 16-byte id pairs.
    """
    from flink_rtcef_spark.operators.dedup import connected_components

    if index is not None:
        nn = knn_join_ivf(
            df, index, k=k, n_probe=n_probe, vec_col=vec_col, id_col=id_col
        )
    else:
        nn = knn_join_brute(df, k=k, vec_col=vec_col, id_col=id_col)
    edges = nn.filter(F.col("cosine") >= threshold).select(
        "src_id", "nbr_id"
    )
    if mutual:
        # left-semi against the reversed edge set — INTERSECT would add
        # a distinct-aggregate pass the o(n*k) edge list doesn't need
        rev = edges.select(
            F.col("nbr_id").alias("src_id"), F.col("src_id").alias("nbr_id")
        )
        edges = edges.join(rev, ["src_id", "nbr_id"], "left_semi")
    pairs = edges.filter(F.col("src_id") < F.col("nbr_id")).select(
        F.col("src_id").alias("id_a"), F.col("nbr_id").alias("id_b")
    )
    comp = connected_components(pairs)
    return (
        df.select(F.col(id_col))
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
    )


def _lloyd_step_sums(assigned: DataFrame, vec_col: str):
    """(cell, idx) -> (sum, n) rows — the element-wise mean's shuffle,
    map-side combinable, o(partitions x k x dim) payload."""
    return (
        assigned.select(
            "cell", F.posexplode(F.col(vec_col)).alias("idx", "val")
        )
        .groupBy("cell", "idx")
        .agg(
            F.sum(F.col("val").cast("double")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )


def _lloyd_distributed(
    df: DataFrame,
    centroids: np.ndarray,
    n_iter: int,
    vec_col: str,
    metric: str,
) -> np.ndarray:
    """Generic distributed Lloyd loop: broadcast-GEMM assignment
    (cosine argmax or euclidean argmin, ties to the lowest cell) +
    the map-side-combinable element-wise mean; only the o(k x dim)
    centroid table reaches the driver per iteration.  Empty clusters
    keep their previous centroid."""
    if metric not in ("cosine", "l2"):
        raise ValueError(f"metric must be 'cosine' or 'l2', got {metric!r}")
    c = centroids.copy()
    dim = c.shape[1]
    sc = df.sparkSession.sparkContext
    for _ in range(n_iter):
        b_c = sc.broadcast(c)
        if metric == "cosine":

            @F.pandas_udf(T.IntegerType())
            def _cell(vecs: pd.Series) -> pd.Series:
                cc = b_c.value
                cn = cc / np.maximum(
                    np.linalg.norm(cc, axis=1, keepdims=True), 1e-300
                )
                mat = np.array([np.asarray(v, np.float64) for v in vecs])
                if len(mat) == 0:
                    return pd.Series([], dtype="int32")
                mat = mat / np.maximum(
                    np.linalg.norm(mat, axis=1, keepdims=True), 1e-300
                )
                return pd.Series(np.argmax(mat @ cn.T, axis=1).astype("int32"))

        else:

            @F.pandas_udf(T.IntegerType())
            def _cell(vecs: pd.Series) -> pd.Series:
                cc = b_c.value
                mat = np.array([np.asarray(v, np.float64) for v in vecs])
                if len(mat) == 0:
                    return pd.Series([], dtype="int32")
                d2 = (cc ** 2).sum(axis=1)[None, :] - 2.0 * (mat @ cc.T)
                return pd.Series(np.argmin(d2, axis=1).astype("int32"))

        assigned = df.withColumn("cell", _cell(F.col(vec_col)))
        sums = _lloyd_step_sums(assigned, vec_col)
        new_c = c.copy()
        acc = {}
        for r in sums:
            acc.setdefault(r["cell"], [np.zeros(dim), 0])
            acc[r["cell"]][0][r["idx"]] = r["s"]
            acc[r["cell"]][1] = r["n"]
        for cell, (vec_sum, n) in acc.items():
            if n > 0:
                new_c[cell] = vec_sum / n
        c = new_c
        # the sums are collected, so this iteration's centroid
        # broadcast is dead — release executor copies before the next
        # one ships (matters for long training loops)
        b_c.unpersist(blocking=False)
    return c


def kmeans_fit_distributed(
    df: DataFrame,
    k: int = 16,
    n_iter: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    init_ids: "list[int] | None" = None,
) -> "IVFIndex":
    """Distributed Lloyd k-means (cosine assignment) — the unbounded
    alternative to ``IVFIndex.fit``'s driver-sample trainer: at 100 TB
    the corpus never reaches the driver, only the o(k x dim) centroid
    table does, once per iteration.

    Per iteration: map-side argmax assignment against the BROADCAST
    centroid matrix (one pandas-UDF GEMM, no shuffle), then an
    element-wise mean via explode to (cell, idx, val) with a map-side
    combinable sum — shuffle payload is o(partitions x k x dim) after
    combine.  Deterministic: init is the rows named by ``init_ids``
    (default: the k smallest ids), ties in assignment break to the
    lowest cell id (argmax semantics), empty clusters keep their
    previous centroid.  Returns a fitted :class:`IVFIndex` ready for
    ``assign`` / ``ann_topk`` / ``knn_join_ivf``.
    """
    if init_ids is None:
        init_ids = [
            r[0]
            for r in df.select(id_col).orderBy(id_col).limit(k).collect()
        ]
    idx = IVFIndex(n_cells=len(init_ids))
    idx.fit_from_rows(df, ids=init_ids, id_col=id_col, vec_col=vec_col)
    idx.centroids = _lloyd_distributed(
        df, idx.centroids, n_iter, vec_col, metric="cosine"
    )
    return idx


def pq_fit_distributed(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iter: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    init_ids: "list[int] | None" = None,
) -> "ProductQuantizer":
    """Distributed product-quantizer training — the unbounded
    alternative to ``ProductQuantizer.fit``'s driver sample: per
    subspace, the euclidean Lloyd loop runs over the L2-NORMALIZED
    corpus (the same normalization ``fit`` applies) with the subvector
    slice as the training column; only o(m x k x d/m) codebook floats
    ever reach the driver.

    Deterministic: codebooks init from the subvectors of the rows
    named by ``init_ids`` (default: the k smallest ids) — the same
    convention as ``fit_from_rows``.
    """
    pq = ProductQuantizer(m=m, k=k, n_iter=n_iter)
    dim = len(df.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    nrm = F.sqrt(
        F.aggregate(
            F.transform(vec_col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, v: a + v,
        )
    )
    normed = df.select(
        F.col(id_col),
        F.transform(
            vec_col, lambda x: x.cast("double") / F.greatest(nrm, F.lit(1e-300))
        ).alias("__nv"),
    ).persist()
    try:
        if init_ids is None:
            init_ids = [
                r[0]
                for r in normed.select(id_col).orderBy(id_col).limit(k).collect()
            ]
        init_rows = (
            normed.filter(F.col(id_col).isin(list(init_ids)))
            .orderBy(id_col)
            .collect()
        )
        init_vecs = np.array([np.asarray(r[1], np.float64) for r in init_rows])
        books = np.empty((m, len(init_rows), sub))
        for j in range(m):
            sliced = normed.select(
                F.slice("__nv", j * sub + 1, sub).alias("__sv")
            )
            books[j] = _lloyd_distributed(
                sliced,
                init_vecs[:, j * sub : (j + 1) * sub],
                n_iter,
                "__sv",
                metric="l2",
            )
    finally:
        normed.unpersist()
    pq.k = len(init_rows)
    pq.codebooks = books
    return pq


# ---------------------------------------------------------------------------
# Index persistence: train once, probe from any later job
# ---------------------------------------------------------------------------

#: bumped when the on-disk layout of any index class changes
INDEX_FORMAT_VERSION = 1


def save_index(index, path: str) -> None:
    """Persist a trained ANN index (RandomHyperplaneLSH / IVFIndex /
    ProductQuantizer / IVFADCIndex) to ``path``.

    The artifact is the driver-side model only — numpy arrays + params,
    a few MB at most (the ENCODED VECTORS live in DataFrames the caller
    writes as parquet; this is the same model-vs-data split the CLI
    uses for CEP/forecast artifacts, ``cli.py``).  Pickled with a
    format-version + class-name envelope so a stale artifact fails
    loudly instead of probing garbage."""
    import pickle

    with open(path, "wb") as f:
        pickle.dump(
            {
                "format_version": INDEX_FORMAT_VERSION,
                "index_class": type(index).__name__,
                "index": index,
            },
            f,
        )


def load_index(path: str, expect: type | None = None):
    """Load an index written by :func:`save_index`; ``expect`` narrows
    the accepted class (TypeError on mismatch)."""
    import pickle

    with open(path, "rb") as f:
        env = pickle.load(f)
    if not isinstance(env, dict) or "index" not in env:
        raise TypeError(f"{path} is not a saved ANN index")
    if env.get("format_version") != INDEX_FORMAT_VERSION:
        raise TypeError(
            f"index format {env.get('format_version')} != "
            f"{INDEX_FORMAT_VERSION} (retrain or migrate)"
        )
    idx = env["index"]
    if expect is not None and not isinstance(idx, expect):
        raise TypeError(
            f"expected {expect.__name__}, found {env.get('index_class')}"
        )
    return idx
