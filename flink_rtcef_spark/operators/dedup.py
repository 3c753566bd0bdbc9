"""Deduplication operators for training-data pipelines.

Five tiers, each a DataFrame->DataFrame transformer built from
Catalyst-optimizable primitives (portable md5-derived hashing so DuckDB
oracles can verify):

- exact_dedup: hash-groupBy on normalized content (one shuffle).
- minhash_signatures + lsh_candidate_pairs: MinHash over word shingles,
  banded LSH join.  At 100 TB this is THE near-dedup path: signatures
  are a map-side projection; candidate generation shuffles on band
  hashes only (never all-pairs); bucket sizes bounded by skew handling.
- jaccard_verify: exact shingle-Jaccard on candidate pairs
  (inverted-index join, grouped by pair).
- simhash: 64-bit spectral fingerprint; near-dups differ in few bits.
- embedding_near_dup: cosine over an embedding column for semantic
  near-dup, brute within LSH buckets at scale.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_rtcef_spark.functions.scalar import portable_hash64

log = logging.getLogger(__name__)

MINHASH_P = 2147483647  # 2^31 - 1


def _tokens(text_col: str = "text") -> Column:
    return F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), " "), lambda x: x != ""
    )


def shingles(text_col: str = "text", n: int = 3) -> Column:
    """Word n-gram shingles as an array column — transform over a sliced
    sequence, fully JVM-side.  Docs shorter than n tokens shingle to []
    (sequence(1, 0) would yield the DESCENDING [1, 0] and a slice(..., 0)
    error, so the short branch is explicit)."""
    return F.expr(
        f"if(size(tokens) >= {n},"
        f" transform(sequence(1, size(tokens) - {n - 1}),"
        f" i -> concat_ws(' ', slice(tokens, i, {n}))),"
        " array())"
    )


def hash_params(n_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_j(x) = (a*x + b) mod P."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, MINHASH_P - 1), rng.randrange(0, MINHASH_P - 1)) for _ in range(n_hashes)]


def exact_dedup(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one canonical row (min id) per normalized content value.

    Groups on md5 of the normalized content so the dedup shuffle moves
    32-byte digests, not documents — the only viable layout at scale."""
    norm = F.md5(F.lower(F.trim(F.col(content_col))))
    canon = (
        df.groupBy(norm.alias("__norm"))
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )
    return df.join(canon.select(id_col, "n_copies"), id_col, "inner")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    shingle_n: int = 3,
    seed: int = 7,
) -> DataFrame:
    """(id, sig0..sigN-1): min over shingle hashes of each permutation.
    One explode + one groupBy(id) — map-side combinable."""
    params = hash_params(n_hashes, seed)
    toks = df.select(F.col(id_col), _tokens(text_col).alias("tokens"))
    sh = toks.select(
        id_col, F.explode(shingles(n=shingle_n)).alias("sh")
    ).withColumn("h", portable_hash64(F.col("sh")) % MINHASH_P)
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P).alias(f"sig{j}")
        for j, (a, b) in enumerate(params)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_band_keys(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """(id, band, bh): the banded-LSH join keys of a signature table.
    One scan: explode an array of (band, bandhash) structs instead of a
    union of per-band selects (which rescans the signature table per
    band — bands x the IO at scale).  Shared by the self-join candidate
    generator and the cross-table fuzzy-decontamination pass."""
    if n_hashes % bands != 0:
        raise ValueError(
            f"n_hashes ({n_hashes}) must be divisible by bands ({bands}); "
            "a remainder would silently drop trailing signature columns "
            "and change recall"
        )
    rows_per_band = n_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        f"sig{j}"
                        for j in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                ).alias("bh"),
            )
            for b in range(bands)
        ]
    )
    return sig_df.select(
        F.col(id_col), F.explode(band_structs).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signature into ``bands`` groups; docs sharing any band
    hash are candidates.  The self-join runs per band on the band-hash
    key — shuffle size is the banded signature table, not the corpus.

    ``max_bucket`` is the mega-bucket skew guard (the pair-side analogue
    of jaccard_verify's ``max_df``): a band bucket of b docs emits
    b(b-1)/2 pairs, so one boilerplate bucket of 1M docs alone produces
    5·10^11 pairs and stalls the join.  Buckets LARGER than the cap are
    star-expanded instead — every member pairs with the bucket's min id
    (b-1 pairs, linear) — which preserves CONNECTIVITY through the
    bucket (any two members stay linked via the hub for the
    connected-components closure) but not direct pair coverage:
    verification then scores member↔hub edges only, so a member whose
    similarity to the hub falls below threshold can drop out of a
    cluster it would have joined through a different member.  Standard
    large-corpus trade; None (default) keeps exact quadratic expansion.
    """
    if n_hashes % bands != 0:
        raise ValueError(
            f"n_hashes ({n_hashes}) must be divisible by bands ({bands}); "
            "a remainder would silently drop trailing signature columns "
            "and change recall"
        )
    bands_df = lsh_band_keys(sig_df, id_col, n_hashes, bands)
    if max_bucket is not None:
        if max_bucket < 2:
            raise ValueError(f"max_bucket must be >= 2, got {max_bucket}")
        from pyspark.sql import Window as W

        w = W.partitionBy("band", "bh")
        bands_df = bands_df.withColumn(
            "__bsz", F.count("*").over(w)
        ).withColumn("__bmin", F.min(id_col).over(w))
        big = (
            bands_df.filter(
                (F.col("__bsz") > max_bucket)
                & (F.col(id_col) != F.col("__bmin"))
            )
            .select(
                F.col("__bmin").alias("id_a"), F.col(id_col).alias("id_b")
            )
            .distinct()
        )
        bands_df = bands_df.filter(F.col("__bsz") <= max_bucket).select(
            id_col, "band", "bh"
        )
    a, b_ = bands_df.alias("a"), bands_df.alias("b")
    pairs = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    if max_bucket is not None:
        pairs = pairs.unionByName(big).distinct()
    return pairs


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    hot_df: int = 1024,
) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs.  With ``pairs`` given,
    the plan starts from the candidate set and joins the two shingle
    sides onto it (pairs-first), so cost is |pairs| x shingles-per-doc.
    ``pairs=None`` scores EVERY shingle-sharing pair via the
    inverted-index self-join — exact (no LSH recall loss) but the full
    posting-list blowup; at scale pass LSH candidates.

    ``max_df`` drops shingles appearing in more than that many docs
    before the pair join — the posting-list skew guard.  A boilerplate
    shingle shared by 1M docs would alone generate ~5·10^11 pairs; its
    information content for near-dup detection is nil.  The n_common
    count then undercounts by at most the dropped shingles, so scores
    are a lower bound (denominator sizes stay exact) — recall on true
    near-dups is preserved when threshold < 1 and duplicated content
    dominates the shingle set, the standard large-corpus trade.

    ``hot_df`` (pairs=None path only) bounds the per-shingle posting
    ARRAY, never the result: shingles in more than ``hot_df`` docs
    generate their pairs through a streaming sort-merge self-join
    instead of one collected array row, so peak row size stays
    O(hot_df) however hot the shingle.  Output is identical for any
    value — it is purely a memory/physical-plan knob."""
    from pyspark.sql import Window as W

    toks = df.select(F.col(id_col), _tokens(text_col).alias("tokens"))
    # r9 (guide §2.2): ONE doc_id-keyed aggregation builds the distinct
    # shingle set AND its size — the former explode -> distinct ->
    # count-window shape paid two Exchanges (hash(doc_id, sh) for the
    # distinct, hash(doc_id) + Sort for the window) for the same rows.
    # Per-doc set size is bounded by doc length, so the collect_set
    # arrays are small everywhere.
    per_doc = (
        toks.select(id_col, F.explode(shingles(n=shingle_n)).alias("sh"))
        .groupBy(id_col)
        .agg(F.collect_set("sh").alias("_shs"))
    )
    sh = per_doc.select(
        id_col, F.size("_shs").alias("n_sh"), F.explode("_shs").alias("sh")
    )
    if max_df is not None:
        sh = sh.withColumn(
            "df", F.count(F.lit(1)).over(W.partitionBy("sh"))
        ).filter(F.col("df") <= max_df).drop("df")
    if pairs is not None:
        # start FROM the candidate pairs and hang the two shingle sides
        # onto them, so the inverted-index blowup never materializes:
        # work is |pairs| x shingles-per-doc, not the posting-list
        # quadratic.  (A post-hoc semi-join can't be pushed below the
        # shingle self-join by Catalyst because its condition spans both
        # sides.)
        p = pairs.select("id_a", "id_b").distinct()
        a_sh = sh.select(
            F.col(id_col).alias("id_a"), F.col("sh"), F.col("n_sh").alias("n_a")
        )
        b_sh = sh.select(
            F.col(id_col).alias("id_b"), F.col("sh"), F.col("n_sh").alias("n_b")
        )
        inter = (
            p.join(a_sh, "id_a")
            .join(b_sh, ["id_b", "sh"])
            .groupBy("id_a", "id_b")
            .agg(
                F.count(F.lit(1)).alias("n_common"),
                F.first("n_a").alias("n_a"),
                F.first("n_b").alias("n_b"),
            )
        )
    else:
        # r9 (guide §3.1): posting-list pair generation instead of the
        # shingle self-join — the join built the whole tokenize ->
        # explode -> aggregate shingle subtree TWICE (once per side,
        # no exchange reuse across a BroadcastExchange) and shuffled
        # the shingle rows twice more for the join itself.  Grouping
        # by shingle once and emitting in-list pairs computes the
        # identical (id_a < id_b, n_common, n_a, n_b) multiset with
        # ONE subtree and one hash(sh) Exchange.
        # r10 (r9 verdict #2, guide §2.5/§5): the unconditional
        # collect_list was an OOM vector — a boilerplate shingle shared
        # by df docs materialized the WHOLE posting list as one
        # df-element array row and emitted its O(df^2) pairs from one
        # task.  The document-frequency now rides the hash(sh) shuffle
        # as an unordered window count, and shingles split on it:
        # df <= hot_df keeps the in-list pair generation (array rows
        # bounded at hot_df elements); hotter shingles go through a
        # sort-merge self-join, which STREAMS the key group (spillable
        # buffer, no single row ever holds the list).  Every shared
        # shingle lands in exactly one branch, so the pair multiset is
        # unchanged for any hot_df (pinned by
        # tests/test_pipeline_ops.py::test_jaccard_hot_shingle_guard).
        # The window, the posting groupBy and both join sides reuse the
        # ONE hash(sh) Exchange (same key, same partition count), so
        # the guard costs a sort, not a shuffle.
        sh_df = sh.withColumn(
            "df", F.count(F.lit(1)).over(W.partitionBy("sh"))
        )
        posting = (
            sh_df.filter(F.col("df") <= hot_df)
            .groupBy("sh")
            .agg(
                F.collect_list(
                    F.struct(
                        F.col(id_col).alias("id"), F.col("n_sh").alias("n")
                    )
                ).alias("ps")
            )
        )
        small_pairs = (
            posting.select(F.explode("ps").alias("a"), "ps")
            .select("a", F.explode("ps").alias("b"))
            .filter(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.n").alias("n_a"),
                F.col("b.n").alias("n_b"),
            )
        )
        hot = sh_df.filter(F.col("df") > hot_df)
        hot_a = hot.select(
            F.col("sh"),
            F.col(id_col).alias("id_a"),
            F.col("n_sh").alias("n_a"),
        )
        hot_b = hot.select(
            F.col("sh"),
            F.col(id_col).alias("id_b"),
            F.col("n_sh").alias("n_b"),
        )
        hot_pairs = hot_a.join(
            hot_b,
            (F.col("id_a") < F.col("id_b")) & (hot_a["sh"] == hot_b["sh"]),
        ).select("id_a", "id_b", "n_a", "n_b")
        inter = (
            small_pairs.unionByName(hot_pairs)
            .groupBy("id_a", "id_b")
            .agg(
                F.count(F.lit(1)).alias("n_common"),
                F.first("n_a").alias("n_a"),
                F.first("n_b").alias("n_b"),
            )
        )
    scored = inter.withColumn(
        "jaccard",
        F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
    )
    return scored.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def near_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    seed: int = 7,
) -> DataFrame:
    """Full near-dedup: minhash -> LSH candidates -> Jaccard verify ->
    keep the min-id representative of each duplicate pair-set (one
    union-find round: a doc is dropped if any verified smaller-id
    duplicate exists — sufficient when duplicate groups are cliques,
    the common case for near-identical docs)."""
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, shingle_n, seed)
    cands = lsh_candidate_pairs(sigs, id_col, n_hashes, bands)
    dupes = jaccard_verify(df, cands, text_col, id_col, shingle_n, threshold)
    losers = dupes.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """SimHash over token hashes: per bit, majority vote of +-1; near
    duplicates land within small Hamming distance.  One explode + one
    groupBy with ``bits`` conditional sums."""
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    flat = (
        df.select(F.col(id_col), F.explode(_tokens(text_col)).alias("tok"))
        .withColumn("h", portable_hash64(F.col("tok")))
    )
    bit_aggs = [
        F.when(
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
            )
            > 0,
            F.lit(1).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias(f"b{b}")
        for b in range(bits)
    ]
    per_doc = flat.groupBy(id_col).agg(*bit_aggs)
    acc = F.lit(0).cast("long")
    for b in range(bits):
        # bit 63's positional weight (1<<63) overflows LongType; in two's
        # complement the sign bit contributes -(1<<63), which fits.
        weight = -(1 << 63) if b == 63 else (1 << b)
        acc = acc + (F.col(f"b{b}") * F.lit(weight)).cast("long")
    return per_doc.select(F.col(id_col), acc.alias("simhash"))


def embedding_near_dup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.99,
) -> DataFrame:
    """Semantic near-dup: pairs with cosine >= threshold.

    SMALL-CORPUS FAST PATH: the corpus matrix is materialized on the
    driver and broadcast, then each Arrow batch GEMMs against it —
    exact (recall 1.0) and ~100x faster than per-pair expression
    evaluation, but bounded by driver/broadcast memory.  At scale use
    embedding_near_dup_lsh (bucketed GEMM, no global broadcast) or the
    size-based router embedding_near_dup_auto."""

    spark = df.sparkSession
    pdf = df.select(id_col, vec_col).toPandas()
    ids = pdf[id_col].to_numpy()
    mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def score(batches):
        all_ids = b_ids.value
        corpus = b_mat.value
        for block in batches:
            vecs = np.array(
                [np.asarray(v, dtype=np.float64) for v in block[vec_col]]
            )
            if len(vecs) == 0:
                continue
            vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
            sims = vecs @ corpus.T
            block_ids = block[id_col].to_numpy()
            rows_i, rows_j = np.where(sims >= threshold)
            if len(rows_i) == 0:
                continue
            ia = block_ids[rows_i]
            ib = all_ids[rows_j]
            keep = ia < ib  # dedup + drop self-pairs
            yield pd.DataFrame(
                {
                    "id_a": ia[keep],
                    "id_b": ib[keep],
                    "cosine": np.round(sims[rows_i, rows_j][keep], 6),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        score, schema="id_a long, id_b long, cosine double"
    )


def embedding_near_dup_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    n_planes: int = 6,
    n_tables: int = 4,
    seed: int = 11,
) -> DataFrame:
    """Semantic near-dup beyond broadcastable corpus size: bucket with
    multi-table hyperplane LSH, then GEMM WITHIN each bucket group
    (applyInPandas per bucket) — no global broadcast, no all-pairs.
    Recall follows the LSH collision probability of the threshold's
    angle; raise n_tables for higher recall.  Pairs deduped across
    tables."""
    from flink_rtcef_spark.operators.similarity import RandomHyperplaneLSH

    dim = len(df.select(vec_col).first()[0])
    lsh = RandomHyperplaneLSH(dim=dim, n_planes=n_planes, n_tables=n_tables, seed=seed)
    bucketed = lsh.bucketize(df.select(id_col, vec_col), vec_col)

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        ids = pdf[id_col].to_numpy()
        mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-300)
        sims = mat @ mat.T
        ii, jj = np.where(sims >= threshold)
        keep = ids[ii] < ids[jj]
        return pd.DataFrame(
            {
                "id_a": ids[ii][keep],
                "id_b": ids[jj][keep],
                "cosine": np.round(sims[ii, jj][keep], 6),
            }
        )

    pairs = bucketed.groupBy("bucket").applyInPandas(
        score_bucket, schema="id_a long, id_b long, cosine double"
    )
    return pairs.dropDuplicates(["id_a", "id_b"])


def embedding_near_dup_auto(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.99,
    broadcast_limit: int = 10_000,
    **lsh_kwargs,
) -> DataFrame:
    """Route by corpus size: up to ``broadcast_limit`` rows the
    driver-broadcast GEMM (exact, fastest at small n); beyond it the
    LSH-bucketed GEMM (no global broadcast, recall set by the table
    count).

    The limit is a COMPUTE bound, not a memory bound: the broadcast
    path's GEMM is O(n^2) multiply-adds however much memory fits, and
    the measured crossover vs bucketed LSH sits near 5-10k vectors
    (x10 scaling measured the broadcast path at 37x wall for 10x rows
    while LSH ran the same pairs 7.6x faster).  Raise the limit only
    when exact recall on borderline pairs is worth quadratic compute.

    Routing never pays a full scan: prefer catalog statistics when the
    optimizer already knows the row count, else a bounded
    ``limit(broadcast_limit + 1)`` probe that short-circuits as soon as
    the limit is hit — on a 100 TB corpus the probe reads at most
    ``broadcast_limit + 1`` rows, not the table."""
    n = None
    try:
        stats_rows = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        if stats_rows.isDefined():
            n = int(str(stats_rows.get()))
    except Exception as exc:
        # py4j surface changed or non-classic DataFrame: the probe
        # below still routes correctly, but say why it runs
        log.warning(
            "embedding_near_dup_auto: no catalog row count (%s: %s); "
            "routing by the bounded limit(%d) probe instead",
            type(exc).__name__, exc, broadcast_limit + 1,
        )
    if n is None:
        # bounded probe: a LocalLimit stops the scan after limit+1 rows
        n = df.select(id_col).limit(broadcast_limit + 1).count()
    if n <= broadcast_limit:
        return embedding_near_dup(df, vec_col, id_col, threshold)
    return embedding_near_dup_lsh(df, vec_col, id_col, threshold, **lsh_kwargs)


def _cc_round(edges: DataFrame) -> DataFrame:
    """One large-star + small-star round over a distinct, symmetric
    (u, v) edge set — factored out so a single round's physical plan is
    dump-able through the real code (plans/r10/cc_round_*.txt).

    r9: the intermediate .distinct() calls (bidir, large, canon) are
    dropped — each cost a full shuffle+agg per round, and the round's
    EDGE SET is unchanged without them: min/join/filter are insensitive
    to row multiplicity, the round output still passes one distinct in
    the caller, and the duplication factor is bounded by a small
    constant (edges enters each round already distinct, so bidir
    carries <= 2 copies per undirected edge, never degree-multiplied).

    r10 (guide §2.4): the per-star neighborhood minimum rides the SAME
    shuffle as the rows it annotates — an unordered window min over
    partitionBy(u) instead of the groupBy(u)+equi-join pair (which paid
    one Exchange for the aggregate AND one for the join's probe side).
    Multiplicity is min-insensitive, so the emitted multiset is
    identical row for row.  Exchanges per round 5 -> 3, joins 2 -> 0
    (plan dumps in plans/r10/).
    """
    from pyspark.sql import Window as W

    # ---- large-star: emit (v, m(u)) for every neighbor v > u,
    # with m(u) = min(N(u) + {u}) ----
    bidir = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m1 = F.least(F.min("v").over(W.partitionBy("u")), F.col("u"))
    large = (
        bidir.withColumn("m", m1)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter("u <> v")
    )
    # ---- small-star: canonicalize larger->smaller, then link the
    # smaller neighborhood and the center to its minimum.  The two
    # former union arms were projections of the same joined frame —
    # emit both rows per input row with ONE explode instead, so the
    # subtree is built (and shuffled) once.
    canon = large.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    m2 = F.min("v").over(W.partitionBy("u"))
    return (
        canon.withColumn("m", m2)
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                    F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .filter("u <> v")
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Resolve duplicate-pair sets into clusters: (id, component) with
    component = min id reachable over the pair graph.

    near_dedup's one-round min-id drop is exact only when duplicate
    groups are cliques; transitive chains (A~B~C without A~C) need the
    closure.  Algorithm: alternating large-star / small-star (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SOCC'14) —
    each round is two groupBy-min shuffles and converges in O(log n)
    rounds even on adversarial chains, unlike plain min-label
    propagation whose round count is the graph DIAMETER (a 10^6-long
    chain at 100 TB would need 10^6 rounds; this needs ~20).

    - large-star: every node links its larger neighbors to the
      smallest node in its neighborhood (including itself);
    - small-star: every node links its smaller-or-equal neighbors and
      itself to that minimum.

    At fixpoint the edge set is a forest of stars rooted at each
    component's minimum id.  Convergence is detected with a
    count+checksum pair over the edge set; lineage is cut per round
    with localCheckpoint so plans don't grow exponentially at scale.
    """
    e0 = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")).filter(
        "u <> v"
    )
    edges = (
        e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        # LAZY (r10): round 1's convergence stat materializes this
        # together with the round itself — one fewer blocking job, and
        # both references per round (bidir's two union arms) still read
        # the stored blocks after first touch
        .localCheckpoint(eager=False)
    )
    prev_stat = None
    for _ in range(max_iterations):
        small = (
            _cc_round(edges)
            # LAZY checkpoint (r9): the convergence stat right below is
            # an action over these same edges, so let IT materialize
            # the checkpoint blocks — one job per round instead of the
            # former eager-checkpoint-job + stat-job pair (the loop is
            # job-overhead-bound once per-round data is small)
            .localCheckpoint(eager=False)
        )
        edges = small
        stat = edges.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(28,0)")).alias("h"),
        ).first()
        if prev_stat == (stat.n, stat.h):
            break
        prev_stat = (stat.n, stat.h)
    # fixpoint: every non-root points straight at its component min
    roots = (
        edges.select(F.col("v").alias("id"))
        .distinct()
        .join(edges.select(F.col("u").alias("id")).distinct(), "id", "left_anti")
        .select("id", F.col("id").alias("component"))
    )
    return (
        edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
        .union(roots)
        .distinct()
    )


def near_dedup_transitive(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """near_dedup with exact transitive closure: duplicate groups are
    resolved through connected components, so chains A~B~C collapse to
    one survivor even when A~C was never scored (the clique assumption
    near_dedup makes).  Keeps each component's min-id document."""
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, shingle_n)
    cands = lsh_candidate_pairs(sigs, id_col, n_hashes, bands)
    dupes = jaccard_verify(df, cands, text_col, id_col, shingle_n, threshold, max_df)
    cc = connected_components(dupes.select("id_a", "id_b"))
    losers = cc.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# --------------------------------------------------------------------------
# Incremental (cross-batch) dedup — the daily-ingest pattern.


def digest_frame(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(digest, id) — the 32-byte identity a corpus history table
    stores per document (same normalization as exact_dedup)."""
    return df.select(
        F.md5(F.lower(F.trim(F.col(content_col)))).alias("digest"),
        F.col(id_col).alias(id_col),
    )


def incremental_dedup(
    new_docs: DataFrame,
    history_digests: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """New-batch rows whose content is unseen: dedup WITHIN the batch
    (min-id canonical, as exact_dedup) then anti-join the batch's
    digests against the historical digest table.

    Scale shape: the history side is digests only (32 B/row — 100 TB of
    documents is ~2 TB of digests), and when it is stored as a table
    bucketed on ``digest`` (sources/bucketing.write_bucketed) the
    anti-join reads co-located buckets with no Exchange on the history
    side; only the (small) daily batch shuffles.  Append
    ``digest_frame(survivors)`` back to the history table to close the
    loop.
    """
    norm = F.md5(F.lower(F.trim(F.col(content_col))))
    batch = df_with_digest = new_docs.withColumn("__digest", norm)
    w_ids = (
        batch.groupBy("__digest").agg(F.min(id_col).alias("__keep_id"))
    )
    in_batch = batch.join(
        w_ids,
        (batch["__digest"] == w_ids["__digest"])
        & (batch[id_col] == w_ids["__keep_id"]),
    ).select(df_with_digest["*"])
    unseen = in_batch.join(
        history_digests.select(F.col("digest").alias("__digest")),
        "__digest",
        "left_anti",
    )
    return unseen.drop("__digest")


def simhash_candidate_pairs(
    sim_df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
    bands: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by Hamming distance on 64-bit SimHash,
    without all-pairs: pigeonhole banding.  The 64 bits split into
    ``bands`` chunks (default ``max_hamming + 1``); two hashes within
    ``max_hamming`` bit flips MUST agree on at least one whole chunk
    (pigeonhole: max_hamming flips cannot touch all max_hamming+1
    chunks), so the per-chunk bucket join has EXACT recall.  Candidates
    are then verified with ``bit_count(xor) <= max_hamming`` — a JVM
    expression, no Python.

    Shuffle size is bands x the (id, chunk) projection — the corpus
    text never moves.  Precision tuning is free: larger ``bands`` means
    shorter chunks and more candidates; the verify step keeps the
    output exact either way.  Returns (id_a, id_b, hamming).
    """
    if not 1 <= max_hamming <= 16:
        raise ValueError(f"max_hamming must be in [1, 16], got {max_hamming}")
    bands = bands if bands is not None else max_hamming + 1
    if bands < max_hamming + 1:
        raise ValueError(
            f"bands ({bands}) must be >= max_hamming + 1 ({max_hamming + 1}) "
            "or the pigeonhole recall guarantee breaks"
        )
    w = 64 // bands
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.expr(
                    f"shiftrightunsigned({hash_col}, {b * w}) & "
                    f"{(1 << (64 - b * w if b == bands - 1 else w)) - 1}"
                ).alias("chunk"),
            )
            for b in range(bands)
        ]
    )
    chunks = sim_df.select(
        F.col(id_col), F.col(hash_col), F.explode(chunk_structs).alias("c")
    ).select(id_col, hash_col, F.col("c.band").alias("band"), F.col("c.chunk").alias("chunk"))
    a, b_ = chunks.alias("a"), chunks.alias("b")
    ham = F.bit_count(F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}")))
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .distinct()
    )


def semantic_dedup_pairs(
    df: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_ids: list[int] | None = None,
    index=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space, then
    search for near-duplicates WITHIN each cluster only — the cluster
    pass turns the O(n^2) semantic-similarity search into k independent
    O((n/k)^2) searches that never cross partitions.

    Centroids are pinned corpus rows (``centroid_ids``, default ids
    0..k-1) so the whole operator is deterministic and SQL-reproducible;
    pass ``index=`` a fitted IVFIndex (e.g. from
    ``kmeans_fit_distributed``) for Lloyd-trained centroids when
    quality beats oracle-checkability.  Assignment is a map-side batch GEMM
    against the broadcast centroid matrix (no shuffle); the only
    shuffle is the groupBy(cluster), and per-cluster work runs as a
    bucketed applyInPandas GEMM — the same 100 TB-safe shape as
    embedding_near_dup_lsh, with cluster count sized so n/k vectors
    fit an Arrow batch.

    Output: cluster, id_a, id_b, cosine (a < b, cosine >= threshold).
    """
    from flink_rtcef_spark.operators.similarity import IVFIndex

    if index is not None:
        # quality path: a trained IVFIndex (kmeans_fit_distributed) —
        # same plan shape, Lloyd centroids instead of pinned rows
        ivf = index
    else:
        ids = list(centroid_ids) if centroid_ids is not None else list(range(n_clusters))
        ivf = IVFIndex(n_cells=len(ids)).fit_from_rows(df, ids, id_col, vec_col)
    assigned = ivf.assign(df.select(id_col, vec_col), vec_col)

    def score_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"cluster": [], "id_a": [], "id_b": [], "cosine": []})
        ids_ = pdf[id_col].to_numpy()
        mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-300)
        sims = mat @ mat.T
        ii, jj = np.where(sims >= threshold)
        keep = ids_[ii] < ids_[jj]
        return pd.DataFrame(
            {
                "cluster": pdf["cell"].iloc[0],
                "id_a": ids_[ii][keep],
                "id_b": ids_[jj][keep],
                "cosine": np.round(sims[ii, jj][keep], 6),
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        score_cluster, schema="cluster int, id_a long, id_b long, cosine double"
    )


def semantic_dedup_keep(
    df: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_ids: list[int] | None = None,
) -> DataFrame:
    """The SemDeDup pruning rule: drop every vector that has an
    in-cluster neighbor with a smaller id at cosine >= threshold (keep
    the representative with the lowest id).  Returns surviving rows of
    ``df``."""
    pairs = semantic_dedup_pairs(
        df, n_clusters, threshold, vec_col, id_col, centroid_ids
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dropped, id_col, "left_anti")


def keep_best_in_component(
    docs: DataFrame,
    components: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster-exemplar selection: keep the best-scoring document of
    each duplicate component (the production alternative to keep-min-id
    — e.g. keep the longest or highest-quality copy).  Ties break on
    the id so the choice is deterministic.  ``components`` is the
    (id, component) frame from :func:`connected_components`; documents
    without a component row are singletons and always survive.

    One window over the o(docs) (component, score, id) triples — text
    never shuffles; the winners semi-join back.
    """
    from pyspark.sql import Window

    scored = docs.select(F.col(id_col), F.col(score_col)).join(
        components.withColumnRenamed("id", id_col), id_col, "left"
    )
    # singletons: component = own id (unique -> rank 1 by construction)
    scored = scored.withColumn(
        "component", F.coalesce("component", F.col(id_col))
    )
    w = Window.partitionBy("component").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    winners = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col)
    )
    return docs.join(winners, id_col, "left_semi")
