"""Sketch-based corpus profiling — the 100 TB substitute for exact
distinct / percentile / overlap.

The questions a curation pipeline asks before and after every stage —
how many distinct documents / urls / shingles survive, what the
token-length distribution looks like, how much this crawl snapshot
overlaps the previous one — are unanswerable exactly at corpus scale
without global shuffles (``COUNT(DISTINCT)`` exchanges on the distinct
key; exact percentiles need a global sort).  The Apache DataSketches
aggregates Spark 4 ships JVM-side (``hll_sketch_agg``,
``kll_sketch_agg_bigint``, ``theta_sketch_agg``) answer all three with
bounded error in ONE map-side-combinable pass: each task builds a
constant-size sketch, the merge tree unions them, and only KB-sized
binaries cross the wire.

Mergeability is the scale property: sketches computed per
partition / day / shard roll up later (``hll_union_agg``) without
touching rows again — on a 100 TB corpus you profile each ingest batch
once and re-aggregate forever.

The reference engine has no profiling surface; this module belongs to
the beyond-reference LLM-pipeline stack (like ``operators/sampling``),
pytest-checked against exact answers at small SF with the sketches'
published error bounds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# lgConfigK=12 -> 2^12 registers, ~1.6% relative standard error, 4 KB
# per sketch regardless of input size.
DEFAULT_LG_K = 12


def approx_distinct(
    df: DataFrame, cols: list[str], lg_k: int = DEFAULT_LG_K
) -> DataFrame:
    """One-row frame with an approximate distinct count per column,
    computed in a single pass (one sketch per column, no shuffle of
    data rows — only the KB-sized sketches move)."""
    return df.agg(
        *[
            F.hll_sketch_estimate(F.hll_sketch_agg(c, lg_k)).alias(f"{c}_distinct")
            for c in cols
        ]
    )


def group_distinct_rollup(
    df: DataFrame, group_col: str, value_col: str, lg_k: int = DEFAULT_LG_K
) -> DataFrame:
    """Per-group approximate distinct counts PLUS the grand total
    re-aggregated from the group sketches — the roll-up never rescans
    the rows (columns: ``<group_col>``, ``approx_distinct``; the total
    row carries group value ``<ALL>``).

    This is the incremental-profiling shape for a partitioned corpus:
    keep the per-partition sketch binaries, union them for any coarser
    granularity.
    """
    per_group = df.groupBy(group_col).agg(
        F.hll_sketch_agg(value_col, lg_k).alias("sketch")
    )
    groups = per_group.select(
        F.col(group_col).cast("string").alias(group_col),
        F.hll_sketch_estimate("sketch").alias("approx_distinct"),
    )
    total = per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_distinct")
    ).select(F.lit("<ALL>").alias(group_col), "approx_distinct")
    return groups.unionByName(total)


def length_quantiles(
    df: DataFrame,
    length_col: Column | str,
    quantiles: list[float] = (0.5, 0.9, 0.99),
    k: int = 200,
) -> DataFrame:
    """Approximate quantiles of a bigint column via a KLL sketch —
    one-row frame with one ``p<q>`` column per requested rank.

    KLL guarantees rank error ~1.65/sqrt(k)%% at k=200 (≈1.2%% of the
    rank, NOT of the value) with a few-KB summary; the exact
    alternative is a global sort.  Typical use: token-length
    distribution of a corpus before choosing a packing budget.
    """
    length_col = F.col(length_col) if isinstance(length_col, str) else length_col
    sk = F.kll_sketch_agg_bigint(length_col.cast("bigint"), k)
    return df.agg(
        *[
            _kll_quantile(sk, length_col, q).alias(f"p{str(q).replace('0.', '')}")
            for q in quantiles
        ]
    )


def _kll_quantile(sk: Column, value_col: Column, q: float) -> Column:
    """Quantile from a KLL sketch, NULL on an empty input (the agg of
    zero rows yields a null buffer that get_quantile rejects)."""
    return F.when(
        F.count(value_col) > 0,
        F.kll_sketch_get_quantile_bigint(sk, F.lit(float(q))),
    )


def corpus_overlap(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    lg_k: int = DEFAULT_LG_K,
) -> DataFrame:
    """Approximate overlap between two corpora on a key (url, doc
    hash, shingle...): one row with ``left_distinct``,
    ``right_distinct``, ``union_distinct``, ``intersection_est``,
    ``jaccard_est`` — WITHOUT joining the corpora.

    Each side is reduced to one HLL sketch (a full-scan map-side pass,
    no shuffle of rows); the union sketch comes from ``hll_union`` and
    the intersection from inclusion-exclusion.  On 100 TB snapshots
    this replaces an impossible distinct-join with two scans + KB of
    transfer.  Inclusion-exclusion inherits additive HLL error, so tiny
    intersections of huge sets are noisy — that regime is what
    ``theta_sketch_agg`` (set-operation sketches) is for; for the
    overlap-share question asked in dedup planning this is the right
    tool.
    """
    ls = left.agg(F.hll_sketch_agg(key_col, lg_k).alias("ls"))
    rs = right.agg(F.hll_sketch_agg(key_col, lg_k).alias("rs"))
    both = ls.crossJoin(rs)  # 1 row x 1 row
    est = both.select(
        F.hll_sketch_estimate("ls").alias("left_distinct"),
        F.hll_sketch_estimate("rs").alias("right_distinct"),
        F.hll_sketch_estimate(F.hll_union("ls", "rs")).alias("union_distinct"),
    )
    inter = (
        F.col("left_distinct") + F.col("right_distinct") - F.col("union_distinct")
    )
    return est.select(
        "left_distinct",
        "right_distinct",
        "union_distinct",
        F.greatest(inter, F.lit(0)).alias("intersection_est"),
        (F.greatest(inter, F.lit(0)) / F.col("union_distinct")).alias("jaccard_est"),
    )


def corpus_profile(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lg_k: int = DEFAULT_LG_K,
    kll_k: int = 200,
) -> DataFrame:
    """One-pass corpus health profile: row count, approximate distinct
    ids and distinct text digests (their gap = exact-dup mass), and
    whitespace-token-length quantiles.  Single aggregate, no shuffle of
    row data, constant-size state per task — the profile you run after
    every pipeline stage at 100 TB.
    """
    tokens = F.size(F.split(F.col(text_col), r"\s+"))
    tok_sketch = F.kll_sketch_agg_bigint(tokens.cast("bigint"), kll_k)
    return docs.agg(
        F.count(F.lit(1)).alias("rows"),
        F.hll_sketch_estimate(F.hll_sketch_agg(id_col, lg_k)).alias(
            "approx_distinct_ids"
        ),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.md5(F.col(text_col)), lg_k)
        ).alias("approx_distinct_texts"),
        _kll_quantile(tok_sketch, tokens, 0.5).alias("tokens_p5"),
        _kll_quantile(tok_sketch, tokens, 0.9).alias("tokens_p9"),
        _kll_quantile(tok_sketch, tokens, 0.99).alias("tokens_p99"),
        F.avg(tokens).alias("tokens_mean"),
        F.max(tokens).alias("tokens_max"),
    )
