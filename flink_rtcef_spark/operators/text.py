"""Text-analysis operators: tokenization, quality scoring, language ID,
fingerprinting — all pure Column expressions (JVM-side, codegen'd; no
Python in the hot path).
"""

from __future__ import annotations

import pandas as pd  # noqa: F401  (resolves pandas_udf type hints under
#                       deferred annotations)
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from flink_rtcef_spark.functions.scalar import portable_hash64

# BPE-ish pre-tokenizer: word pieces = letter runs, digit runs, or
# single punctuation — the common GPT-2-style pre-split approximation.
BPE_SPLIT_REGEX = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")


def whitespace_tokens(text_col: str = "text") -> Column:
    return F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != "")


def bpe_ish_tokens(text_col: str = "text") -> Column:
    """Sub-word-ish pieces via regexp_extract_all — the token-count
    estimator for LLM data budgeting."""
    # Spark SQL string literals process backslash escapes: double them
    # so the regex engine sees \s
    pattern = BPE_SPLIT_REGEX.replace("\\", "\\\\")
    return F.expr(f"regexp_extract_all(lower({text_col}), '{pattern}', 0)")


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return df.select(
        id_col,
        F.size(whitespace_tokens(text_col)).alias("n_words"),
        F.size(bpe_ish_tokens(text_col)).alias("n_bpe_tokens"),
        F.length(text_col).alias("n_chars"),
    )


def quality_signals(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality heuristics: length, mean word length,
    type-token ratio, stopword ratio, punctuation density, digit
    density — the standard pre-training filter signals."""
    toks = whitespace_tokens(text_col)
    n_words = F.size(toks)
    distinct_words = F.size(F.array_distinct(toks))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    n_punct = F.length(F.regexp_replace(F.col(text_col), r"[^\.,;:!\?]", ""))
    n_digits = F.length(F.regexp_replace(F.col(text_col), r"[^0-9]", ""))
    n_chars = F.length(text_col)
    return df.select(
        id_col,
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.round(
            F.when(n_words > 0, F.length(F.concat_ws("", toks)) / n_words).otherwise(0.0), 6
        ).alias("mean_word_len"),
        F.round(
            F.when(n_words > 0, distinct_words / n_words).otherwise(0.0), 6
        ).alias("type_token_ratio"),
        F.round(F.when(n_words > 0, stop_hits / n_words).otherwise(0.0), 6).alias(
            "stopword_ratio"
        ),
        F.round(F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0), 6).alias(
            "punct_ratio"
        ),
        F.round(F.when(n_chars > 0, n_digits / n_chars).otherwise(0.0), 6).alias(
            "digit_ratio"
        ),
    )


def langid_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-hit-ratio language ID (n-gram-free heuristic: cheap,
    surprisingly effective for en-vs-other routing)."""
    toks = whitespace_tokens(text_col)
    n_words = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    score = F.when(n_words > 0, stop_hits / n_words).otherwise(0.0)
    return df.select(
        id_col,
        F.round(score, 6).alias("en_score"),
        F.when(score > 0.05, "en").otherwise("other").alias("pred_lang"),
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    n_buckets: int = 64,
) -> DataFrame:
    """Sequence packing: assign documents to fixed-token-budget packs
    (training-batch construction — maximize tokens per pack, never
    exceed ``budget``).

    Distributed shape: documents hash into ``n_buckets`` independent
    packing groups (deterministic on the id, so results are stable
    across runs/partitionings); each group runs first-fit-decreasing
    in one applyInPandas call.  One shuffle on the bucket key; bin
    state never leaves the group.  FFD within a bounded group is the
    standard quality/scale trade-off: global optimal packing would
    serialize, per-group FFD wastes <~1/2 bin per group worst-case
    and parallelizes embarrassingly.  Documents longer than the
    budget get a singleton (oversized) pack rather than truncation —
    chunking is the upstream tokenizer's decision.

    Output: (id, pack_id, pack_tokens) — pack_id = "bucket/idx".
    """
    import pandas as pd

    from flink_rtcef_spark.functions.scalar import portable_hash64

    bucketed = df.select(
        F.col(id_col).alias("id"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
        (portable_hash64(F.col(id_col).cast("string")) % n_buckets).alias("bucket"),
    )

    def pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(["n_tokens", "id"], ascending=[False, True])
        bucket = int(pdf["bucket"].iloc[0])
        n = len(pdf)
        # remaining capacity / running fill per bin; flatnonzero keeps
        # the exact first-fit choice (lowest-index bin that fits) while
        # scanning in C instead of a Python inner loop
        rem = np.empty(n, dtype=np.int64)
        fill = np.empty(n, dtype=np.int64)
        nb = 0
        assign = np.empty(n, dtype=np.int64)
        for i, t in enumerate(pdf["n_tokens"].to_numpy()):
            t = int(t)
            fits = np.flatnonzero(rem[:nb] >= t)
            if len(fits):
                j = int(fits[0])
                rem[j] -= t
                fill[j] += t
            else:
                j = nb
                rem[j] = max(budget - t, 0)
                fill[j] = t
                nb += 1
            assign[i] = j
        out = pdf[["id", "n_tokens"]].copy()
        out["pack_id"] = [f"{bucket}/{a}" for a in assign]
        # pack totals come straight from the packer's own bin state —
        # identical to the former SUM(n_tokens) GROUP BY pack_id, which
        # cost an extra Exchange plus a pack_id join of every doc row
        # (r9, guide §2.1)
        out["pack_tokens"] = fill[assign]
        return out

    return bucketed.groupBy("bucket").applyInPandas(
        pack_group, schema="id long, n_tokens long, pack_id string, pack_tokens long"
    ).select("id", "n_tokens", "pack_id", "pack_tokens")


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int,
    stride: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-token-window chunks with overlap
    (stride < chunk_tokens ⇒ overlapping windows — the standard
    pretraining prep for long documents).  Entirely JVM-side:
    sequence → transform → slice → posexplode, no Python in the path;
    map-side only (no shuffle).  Emits (id, chunk_idx, chunk_text,
    n_chunk_tokens); trailing windows shorter than ``chunk_tokens``
    are kept (the remainder matters for training)."""
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = F.filter(whitespace_tokens(text_col), lambda t: t != "")
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size(toks) - 0, F.lit(1)),
        F.lit(stride),
    )
    chunks = F.transform(
        starts, lambda i: F.slice(toks, i, chunk_tokens)
    )
    return (
        df.select(
            F.col(id_col),
            F.posexplode(chunks).alias("chunk_idx", "chunk_toks"),
        )
        .filter(F.size("chunk_toks") > 0)
        .select(
            id_col,
            "chunk_idx",
            F.array_join("chunk_toks", " ").alias("chunk_text"),
            F.size("chunk_toks").alias("n_chunk_tokens"),
        )
    )


def dedup_lines_within_doc(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Drop repeated lines inside each document, keeping the first
    occurrence in order (nav menus, footers, and scraper artifacts
    repeat within a page).  ``array_distinct`` is order-preserving, so
    the whole operator is one JVM expression — map-side, no shuffle."""
    lines = F.split(F.col(text_col), "\n")
    return df.withColumn(text_col, F.array_join(F.array_distinct(lines), "\n"))


def remove_boilerplate_lines(
    df: DataFrame,
    max_df: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_chars: int = 1,
) -> DataFrame:
    """Drop lines that occur in more than ``max_df`` documents — the
    cross-document boilerplate cut (cookie banners, license headers,
    navigation): a line's document frequency is its boilerplate score.

    Shape: posexplode lines → per-(line-hash) distinct-doc counts (a
    groupBy on 8-byte hashes, map-side combinable) → join back and drop
    frequent lines → reassemble in original order via sort_array over
    (pos, line) structs.  Two shuffles (line-hash agg, doc reassembly);
    both move hashes/line-text, never whole documents.  Lines shorter
    than ``min_line_chars`` are kept unconditionally (blank separators
    are structure, not boilerplate)."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("lh", F.xxhash64(F.trim(F.col("line"))))
    docfreq = (
        lines.filter(F.length(F.trim("line")) >= min_line_chars)
        .select("lh", id_col)
        .distinct()
        .groupBy("lh")
        .agg(F.count(F.lit(1)).alias("line_df"))
        .filter(F.col("line_df") > max_df)
    )
    kept = lines.join(F.broadcast(docfreq.select("lh")), "lh", "left_anti")
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias(text_col)
        )
    )


def _ngram_array(toks: Column, n: int) -> Column:
    """Array of space-joined n-grams of ``toks`` (empty when the doc is
    shorter than n tokens)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + k + 1).cast("int")) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 2,
    dup_n: int = 3,
) -> DataFrame:
    """Gopher-style per-document repetition filters (Rae et al. 2021,
    §A1.1): the character mass of the single most frequent ``top_n``-gram
    and the character mass of duplicated ``dup_n``-grams, both as
    fractions of the document's length.  High values flag pathological
    scrapes (repeated nav text, generator loops) that survive per-line
    dedup.

    Definitions (count-based, oracle-expressible):
      top_frac = count(top gram) * len(top gram) / len(text)
      dup_frac = sum over grams with count>1 of (count-1)*len(gram) / len(text)
    The top gram tie-breaks deterministically by (count, gram length,
    gram) descending.

    Scale shape: explode n-grams → groupBy(doc, gram) with map-side
    combine → per-doc window/agg.  Everything is keyed by doc_id; no
    global state, no driver collect, shuffle payload is (doc_id, gram,
    count).  At 100 TB this is the same plan as n-gram counting, which
    is the canonical map-side-combinable workload.
    """
    # r9 (guide §2.2): both gram sizes ride ONE tagged explode and the
    # per-doc reductions fold into ONE doc aggregate — the former shape
    # scanned documents three times (one per gram size + the final
    # frame), paid two (doc, gram) Exchanges, a Sort+Window for the top
    # gram, and two doc_id joins.  The top gram's deterministic
    # tie-break (count desc, gram length desc, gram desc) is exactly
    # lexicographic max of struct(c, glen, gram), so the row_number
    # window collapses into MAX(struct).  explode_outer keeps gram-less
    # docs alive, so the resurrecting left joins disappear too.
    # 1 scan / 2 Exchanges / 0 Sort / 0 Join; values are bit-identical
    # (same integer counts, same final divisions and rounds).
    toks = whitespace_tokens(text_col)
    tagged = F.concat(
        F.transform(
            _ngram_array(F.col("t"), top_n),
            lambda g: F.struct(F.lit(top_n).alias("n"), g.alias("gram")),
        ),
        F.transform(
            _ngram_array(F.col("t"), dup_n),
            lambda g: F.struct(F.lit(dup_n).alias("n"), g.alias("gram")),
        ),
    )
    flat = df.select(
        F.col(id_col), F.length(text_col).alias("n_chars"), toks.alias("t")
    ).select(id_col, "n_chars", F.explode_outer(tagged).alias("g"))
    counts = flat.groupBy(id_col, "g").agg(
        F.count(F.lit(1)).alias("c"), F.any_value("n_chars").alias("n_chars")
    )
    glen = F.length("g.gram")
    top_struct = F.when(
        (F.col("g.n") == top_n),
        F.struct(F.col("c").alias("c"), glen.alias("glen"), F.col("g.gram").alias("gram")),
    )
    dup_mass = F.when(
        (F.col("g.n") == dup_n) & (F.col("c") > 1), (F.col("c") - 1) * glen
    )
    per_doc = counts.groupBy(id_col).agg(
        F.any_value("n_chars").alias("n_chars"),
        F.max(top_struct).alias("_top"),
        F.sum(dup_mass).alias("_dup_mass"),
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.coalesce(F.col("_top.gram"), F.lit("")).alias(f"top_{top_n}gram"),
        F.coalesce(
            F.round(F.col("_top.c") * F.col("_top.glen") / F.col("n_chars"), 6),
            F.lit(0.0),
        ).alias(f"top_{top_n}gram_char_frac"),
        F.coalesce(
            F.round(F.col("_dup_mass") / F.col("n_chars"), 6), F.lit(0.0)
        ).alias(f"dup_{dup_n}gram_char_frac"),
    )


def dup_line_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Line-level repetition: fraction of lines that are duplicates and
    fraction of characters inside the duplicate copies — the other half
    of the Gopher repetition battery, for corpora with real line
    structure.  Pure per-doc expressions (aggregate over the exploded
    line array stays inside the row): map-only, no shuffle."""
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda x: F.trim(x) != "")
    n_lines = F.size(lines)
    n_distinct = F.size(F.array_distinct(lines))
    # chars in duplicate copies: total line chars minus chars of one
    # copy of each distinct line
    total_chars = F.aggregate(lines, F.lit(0), lambda acc, x: acc + F.length(x))
    distinct_chars = F.aggregate(
        F.array_distinct(lines), F.lit(0), lambda acc, x: acc + F.length(x)
    )
    return df.select(
        id_col,
        F.round(
            F.when(n_lines > 0, (n_lines - n_distinct) / n_lines).otherwise(0.0), 6
        ).alias("dup_line_frac"),
        F.round(
            F.when(total_chars > 0, (total_chars - distinct_chars) / total_chars).otherwise(
                0.0
            ),
            6,
        ).alias("dup_line_char_frac"),
    )


def split_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    block_tokens: int | None = None,
) -> DataFrame:
    """Explode documents into ordered paragraph rows (id, para_idx,
    para).  Two segmentations: delimiter (``sep``, the natural-text
    case) or fixed disjoint token blocks (``block_tokens``, the
    delimiter-free case — equivalent to exact-substring dedup at a
    fixed granularity, the Gopher/RefinedWeb approximation).  Map-side
    only; empty segments dropped."""
    if block_tokens is not None:
        toks = whitespace_tokens(text_col)
        starts = F.sequence(
            F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(block_tokens)
        )
        paras = F.filter(
            F.transform(
                starts, lambda i: F.array_join(F.slice(toks, i, block_tokens), " ")
            ),
            lambda p: p != "",
        )
    else:
        paras = F.filter(
            F.transform(F.split(F.col(text_col), sep), lambda p: F.trim(p)),
            lambda p: p != "",
        )
    return df.select(F.col(id_col), F.posexplode(paras).alias("para_idx", "para"))


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    block_tokens: int | None = None,
) -> DataFrame:
    """CORPUS-WIDE paragraph dedup, keep-first (CCNet's paragraph-hash
    pass): a paragraph instance survives iff it is the globally first
    occurrence of its content, ordered by (id, para_idx).  Documents
    are reassembled from their surviving paragraphs in original order.

    Scale design: the global keep-first decision runs on (hash, id,
    idx) triples ONLY — paragraph text never shuffles by its hash, so
    a boilerplate paragraph duplicated 10^9 times skews a ~50-byte-row
    partition, not a text partition.  Winners then join back to the
    text rows on (id, idx) and reassembly aggregates by id; both are
    hash-partitioned on the document id, which is near-uniform.  At
    100 TB: 2 text shuffles (join + reassembly), 1 triple shuffle.

    Output: id_col, n_paras, n_kept, text (deduped).
    """
    paras = split_paragraphs(df, text_col, id_col, sep, block_tokens)
    keys = paras.select(
        F.col(id_col), F.col("para_idx"), F.md5(F.col("para")).alias("_h")
    )
    w = W.partitionBy("_h").orderBy(F.col(id_col).asc(), F.col("para_idx").asc())
    winners = (
        keys.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "para_idx")
    )
    kept = paras.join(winners, [id_col, "para_idx"], "left_semi")
    joiner = " " if block_tokens is not None else sep
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("para_idx"), F.col("para")))
                ),
                lambda s: s["para"],
            ),
            joiner,
        ).alias("text"),
    )
    totals = paras.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_paras"))
    # start from df so paragraph-less documents survive with empty text
    return (
        df.select(id_col)
        .join(totals, id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text", F.lit("")).alias("text"),
        )
    )


def normalized_text(text_col: str = "text", form: str = "NFKC") -> Column:
    """Unicode-normalize text (NFKC by default: compatibility forms
    folded — fullwidth latin, ligatures, superscripts — the
    normalization every tokenizer assumes).  Arrow-batched pandas UDF:
    Spark has no unicode-normalization builtin, and per-row Python
    would be 10-100x slower; this is the sanctioned slow path, one
    map-side pass, streaming-safe."""
    import unicodedata

    from pyspark.sql import types as T

    @F.pandas_udf(T.StringType())
    def _norm(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [unicodedata.normalize(form, t) if t is not None else None for t in texts]
        )

    return _norm(F.col(text_col))


def compression_ratio_column(text_col: str = "text", level: int = 6) -> Column:
    """Per-document zlib compression ratio (compressed/raw bytes) — the
    Gopher/FineWeb-style redundancy signal: templated or repeated text
    compresses far below ~0.4, high-entropy junk sits near 1.0.

    Deflate has no JVM Column equivalent, so this is an Arrow-batched
    pandas UDF — map-only (streaming-safe), no state, no shuffle; at
    100 TB it costs one pass like the other signal columns.  Rounded
    to 6 so results are engine-independent.  Empty text scores 0.
    """
    import zlib

    import pandas as pd
    from pyspark.sql import types as T

    @F.pandas_udf(T.DoubleType())
    def _ratio(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            raw = (t or "").encode("utf-8")
            if not raw:
                out.append(0.0)
                continue
            out.append(round(len(zlib.compress(raw, level)) / len(raw), 6))
        return pd.Series(out)

    return _ratio(F.col(text_col))
