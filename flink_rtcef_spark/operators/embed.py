"""Deterministic text embeddings via feature hashing — the classical
hashed n-gram projection (Weinberger et al. 2009): each token n-gram
hashes to one of ``dim`` signed buckets, the document vector is the
signed bucket-count vector, L2-normalized.

Purpose in the pipeline: the embedding consumers (SemDeDup, kNN join,
ANN indexes, embedding near-dup) normally read a model-produced
embedding column; this operator derives one from text alone — fully
deterministic, engine-portable (md5-based portable hash, so a DuckDB
oracle can reproduce every float), and cheap enough to run inline at
ingest.  Swap it for a real encoder's output column and nothing
downstream changes.

Scale shape: one explode to (doc, bucket, sign) rows, a map-side
combinable groupBy(doc, bucket) sum — payload o(docs x dim), never
o(tokens) after combine — then one groupBy(doc) map-assembly and a
map-side normalize.  No UDFs, no driver state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_rtcef_spark.functions.scalar import portable_hash64
from flink_rtcef_spark.operators.text import whitespace_tokens


def hashed_text_embedding(
    df: DataFrame,
    dim: int = 64,
    ngram: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "embedding",
) -> DataFrame:
    """(id_col, out_col: array<double>) — L2-normalized signed hashed
    n-gram counts; empty documents embed as the zero vector."""
    toks = df.select(
        F.col(id_col), whitespace_tokens(text_col).alias("__toks")
    )
    if ngram > 1:
        # guard short docs: sequence(1, 0) would DESCEND ([1, 0]) and
        # feed slice() an illegal 0 start
        grams = F.expr(
            f"CASE WHEN size(__toks) >= {ngram} THEN "
            f"transform(sequence(1, size(__toks) - {ngram - 1}),"
            f" i -> concat_ws(' ', slice(__toks, i, {ngram}))) "
            "ELSE array() END"
        )
    else:
        grams = F.col("__toks")
    flat = toks.select(id_col, F.explode(grams).alias("g"))
    # integer DIV, not float division: h < 2^60 exceeds double's exact
    # range, so (h / dim).cast(long) could misfloor near 2^53+
    contrib = flat.withColumn("__h", portable_hash64(F.col("g"))).select(
        id_col,
        (F.col("__h") % dim).cast("int").alias("bucket"),
        F.expr(f"CAST(1 - 2 * ((__h DIV {dim}) % 2) AS DOUBLE)").alias(
            "sign"
        ),
    )
    sums = contrib.groupBy(id_col, "bucket").agg(F.sum("sign").alias("v"))
    assembled = sums.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct("bucket", "v"))
        ).alias("__m")
    )
    dense = F.expr(
        f"transform(sequence(0, {dim - 1}), i -> coalesce(__m[i], 0.0d))"
    )
    norm = F.sqrt(F.aggregate(dense, F.lit(0.0), lambda a, x: a + x * x))
    vec = F.when(
        norm > 0, F.transform(dense, lambda x: x / norm)
    ).otherwise(dense)
    out = assembled.select(F.col(id_col), vec.alias(out_col))
    # restore empty docs as zero vectors
    zero = F.expr(f"transform(sequence(0, {dim - 1}), i -> 0.0d)")
    return (
        df.select(id_col)
        .join(out, id_col, "left")
        .select(
            id_col, F.coalesce(F.col(out_col), zero).alias(out_col)
        )
    )


def embedding_oracle_sql(
    dim: int = 64, ngram: int = 2, table: str = "documents"
) -> str:
    """DuckDB twin of :func:`hashed_text_embedding` (same md5-derived
    hash, bucket, sign, normalization), emitting (doc_id, embedding)."""
    toks = (
        "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),"
        " x -> x <> '')"
    )
    if ngram > 1:
        grams = (
            f"list_transform(range(1, greatest(len(arr) - {ngram - 2}, 1)),"
            f" i -> array_to_string(arr[i:i+{ngram - 1}], ' '))"
        )
    else:
        grams = "arr"
    h = "CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)"
    return f"""
    WITH arrs AS MATERIALIZED (
      SELECT doc_id, {toks} AS arr FROM {table}
    ),
    flat AS MATERIALIZED (
      SELECT doc_id, unnest({grams}) AS g FROM arrs
    ),
    contrib AS MATERIALIZED (
      SELECT doc_id,
             CAST({h} % {dim} AS INTEGER) AS bucket,
             CAST(1 - 2 * (({h} // {dim}) % 2) AS DOUBLE) AS sign
      FROM flat
    ),
    sums AS MATERIALIZED (
      SELECT doc_id, bucket, CAST(SUM(sign) AS DOUBLE) AS v
      FROM contrib GROUP BY doc_id, bucket
    ),
    vecs AS MATERIALIZED (
      SELECT doc_id,
             MAP(list(bucket ORDER BY bucket), list(v ORDER BY bucket)) AS m
      FROM sums GROUP BY doc_id
    ),
    dense AS MATERIALIZED (
      SELECT doc_id,
             list_transform(range(0, {dim}),
                            i -> COALESCE(m[CAST(i AS INTEGER)][1], 0.0)) AS raw
      FROM vecs
    ),
    normed AS MATERIALIZED (
      SELECT doc_id, raw,
             sqrt(list_sum(list_transform(raw, x -> x * x))) AS nrm
      FROM dense
    )
    SELECT d.doc_id,
           CASE WHEN COALESCE(n.nrm, 0.0) > 0
                THEN list_transform(n.raw, x -> x / n.nrm)
                ELSE list_transform(range(0, {dim}), i -> 0.0)
           END AS embedding
    FROM {table} d LEFT JOIN normed n USING (doc_id)
    """
