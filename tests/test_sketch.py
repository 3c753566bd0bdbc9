"""HLL / Count-Min sketches (operators/sketch.py): cross-engine
bit-parity, mergeability, and accuracy envelopes."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_rtcef_spark.operators.sketch import (
    HLL_M,
    cms_build,
    cms_lookup,
    cms_merge,
    cms_sql,
    hll_distinct,
    hll_distinct_sql,
    hll_merge,
    hll_registers,
    hll_rho,
)

from .conftest import SF_ORACLE


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_ORACLE}/documents.parquet")


def test_hll_rho_distribution(spark):
    """rho is 1 + leading-zero-bits: over many values, P(rho >= k) ~
    2^(1-k) — sanity that the hex scan decodes real bit positions."""
    df = spark.range(50000).select(F.col("id").cast("string").alias("v"))
    rows = df.select(hll_rho(F.col("v")).alias("rho")).groupBy("rho").count()
    by = {r["rho"]: r["count"] for r in rows.collect()}
    assert by[1] / 50000 == pytest.approx(0.5, abs=0.02)
    assert by[2] / 50000 == pytest.approx(0.25, abs=0.02)
    assert max(by) <= 40


def test_hll_accuracy_unsplit(spark):
    """Estimate within the ~3 sigma HLL envelope (1.04/sqrt(256) ~ 6.5%
    per sigma) across an order-of-magnitude cardinality range."""
    for n in (300, 5000, 40000):
        df = spark.range(n).select(F.col("id").alias("v"))
        est = hll_distinct(df, "v").first()["hll_distinct"]
        assert est == pytest.approx(n, rel=0.2), (n, est)


def test_hll_duplicates_dont_count(spark):
    df = spark.range(3000).select((F.col("id") % 100).alias("v"))
    est = hll_distinct(df, "v").first()["hll_distinct"]
    assert est == pytest.approx(100, rel=0.25)


def test_hll_matches_duckdb_bit_for_bit(spark, docs):
    got = {
        (r["lang"], r["source"]): r["hll_distinct"]
        for r in hll_distinct(docs, "text", ["lang", "source"]).collect()
    }
    con = duckdb.connect()
    sql = hll_distinct_sql(
        f"read_parquet('{SF_ORACLE}/documents.parquet')",
        "text",
        ["lang", "source"],
    )
    want = {(l, s): e for l, s, e in con.execute(sql).fetchall()}
    assert got == want


def test_hll_merge_equals_whole(spark, docs):
    """Sketch of (A union B) == merge(sketch A, sketch B) — the property
    that makes per-shard profiling sum up at 100 TB."""
    a = hll_registers(docs.filter("doc_id % 2 = 0"), "text", ["lang"])
    b = hll_registers(docs.filter("doc_id % 2 = 1"), "text", ["lang"])
    whole = hll_registers(docs, "text", ["lang"])
    merged = hll_merge(a, b)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_hll_registers_bounded(spark):
    df = spark.range(200000).select(F.col("id").alias("v"))
    assert hll_registers(df, "v").count() <= HLL_M


@pytest.fixture(scope="module")
def words(spark, docs):
    return docs.select(
        F.explode(F.split(F.lower("text"), "\\s+")).alias("word")
    ).filter(F.length("word") > 0)


def test_cms_never_underestimates_and_is_tight(spark, words):
    truth = words.groupBy("word").count()
    probes = truth.orderBy(F.desc("count"), "word").limit(30).select("word")
    sketch = cms_build(words, "word")
    est = cms_lookup(sketch, probes, "word")
    joined = est.join(truth, "word").collect()
    assert len(joined) == 30
    n_total = words.count()
    for r in joined:
        assert r["cms_count"] >= r["count"], r
        # eps = e/width ~ 0.0027; allow 2x slack on the w.h.p. bound
        assert r["cms_count"] - r["count"] <= 2 * 2.72 * n_total / 1024, r


def test_cms_matches_duckdb(spark, words):
    src = (
        "SELECT unnest(string_split(lower(text), ' ')) AS word "
        f"FROM read_parquet('{SF_ORACLE}/documents.parquet')"
    )
    # probe a fixed word set so both engines agree on the probe frame
    probe_words = ["the", "data", "spark", "of", "zzz-absent"]
    probes_sql = " UNION ALL ".join(
        f"SELECT '{w}' AS word" for w in probe_words
    )
    con = duckdb.connect()
    want = dict(
        con.execute(
            "SELECT word, cms_count FROM ("
            + cms_sql(f"SELECT word FROM ({src}) WHERE length(word) > 0",
                      probes_sql, "word")
            + ")"
        ).fetchall()
    )
    spark_words = (
        spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.length("word") > 0)
    )
    probes = spark.createDataFrame([(w,) for w in probe_words], "word string")
    got = {
        r["word"]: r["cms_count"]
        for r in cms_lookup(cms_build(spark_words, "word"), probes, "word").collect()
    }
    assert got == want
    assert got["zzz-absent"] >= 0  # absent probes yield a (small) estimate


def test_cms_merge_equals_whole(spark, words):
    a = cms_build(words.filter(F.crc32("word") % 2 == 0), "word")
    b = cms_build(words.filter(F.crc32("word") % 2 == 1), "word")
    whole = cms_build(words, "word")
    merged = cms_merge(a, b)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_cms_weighted(spark):
    df = spark.createDataFrame(
        [("a", 5), ("a", 7), ("b", 1)], "v string, w int"
    )
    probes = spark.createDataFrame([("a",), ("b",)], "v string")
    got = {
        r["v"]: r["cms_count"]
        for r in cms_lookup(
            cms_build(df, "v", weight_col="w"), probes, "v"
        ).collect()
    }
    assert got["a"] >= 12 and got["b"] >= 1


def test_cms_weight_col_guard_edges(spark):
    """cms_build shares hist_sketch's weight contract: a missing
    weight column is a diagnosable ValueError, a fractional weight
    type is refused (truncate/round diverges across engines), and
    NULL / negative weights are dropped rather than silently summed
    (a negative increment would let cms_lookup UNDER-estimate — the
    one error direction the sketch promises never to make)."""
    import pytest

    df = spark.createDataFrame(
        [("a", 5), ("a", None), ("a", -3), ("b", 0)], "v string, w int"
    )
    with pytest.raises(ValueError, match="not a column"):
        cms_build(df, "v", weight_col="w_typo")
    frac = df.withColumn("w", df.w.cast("double"))
    with pytest.raises(ValueError, match="integer type"):
        cms_build(frac, "v", weight_col="w")
    # NULL and negative dropped: sketch == sketch of just ("a", 5) plus
    # b's zero-weight cells at cnt=0
    sk = cms_build(df, "v", weight_col="w")
    only_a = cms_build(
        spark.createDataFrame([("a", 5)], "v string, w int"), "v", weight_col="w"
    )
    assert sorted(map(tuple, sk.filter("cnt > 0").collect())) == sorted(
        map(tuple, only_a.collect())
    )
    probes = spark.createDataFrame([("a",), ("b",)], "v string")
    est = {r["v"]: r["cms_count"] for r in cms_lookup(sk, probes, "v").collect()}
    assert est["a"] >= 5  # upper bound intact despite the -3 row
    assert est["b"] >= 0


def test_hll_nulls_ignored_and_empty_is_zero(spark):
    """COUNT DISTINCT semantics: NULL values don't count, and the
    estimate over an empty frame is exactly 0."""
    df = spark.createDataFrame(
        [("a",), (None,), ("b",), (None,)], "v string"
    )
    with_nulls = hll_distinct(df, "v").first()["hll_distinct"]
    without = hll_distinct(df.filter("v IS NOT NULL"), "v").first()["hll_distinct"]
    assert with_nulls == without
    empty = hll_distinct(df.filter("v IS NULL AND v IS NOT NULL"), "v").first()
    assert empty["hll_distinct"] == 0.0


def test_cms_nulls_ignored(spark):
    df = spark.createDataFrame([("a",), (None,), ("a",)], "v string")
    sk = cms_build(df, "v")
    sk2 = cms_build(df.filter("v IS NOT NULL"), "v")
    assert sk.exceptAll(sk2).count() == 0 and sk2.exceptAll(sk).count() == 0


def test_approx_heavy_hitters_finds_all_true_hitters(spark):
    """Every value above the share bar is returned (CMS one-sided
    error: over-admission possible, omission of a sampled true hitter
    impossible), shares are right, and light values stay out unless
    CMS collisions push them over."""
    from flink_rtcef_spark.operators.sketch import approx_heavy_hitters

    rows = (
        [("hot",)] * 500
        + [("warm",)] * 120
        + [(f"cold{i % 200}",) for i in range(380)]
    )
    df = spark.createDataFrame(rows, "v string")
    got = {
        r["v"]: (r["cms_count"], r["share"])
        for r in approx_heavy_hitters(
            df, "v", min_share=0.05, candidate_rate=1.0
        ).collect()
    }
    assert "hot" in got and "warm" in got
    assert got["hot"][0] >= 500 and got["warm"][0] >= 120
    assert got["hot"][1] >= 0.5
    # cold values are each 2/1000 = 0.002 << 0.05: none admitted unless
    # a collision inflates them past 50 counts (width 1024 over ~202
    # distincts makes that essentially impossible)
    assert all(k in ("hot", "warm") for k in got)


def test_approx_heavy_hitters_empty_input(spark):
    from flink_rtcef_spark.operators.sketch import approx_heavy_hitters

    df = spark.createDataFrame([], "v string")
    assert approx_heavy_hitters(df, "v").count() == 0


# -------------------------------------------------------- KMV / theta --
def test_kmv_matches_duckdb_and_estimates(spark, docs):
    from flink_rtcef_spark.operators.sketch import (
        kmv_overlap_estimates,
        kmv_sketch,
        kmv_sketch_sql,
    )

    sk = kmv_sketch(docs, "text", k=64)
    got = [r["h"] for r in sk.orderBy("h").collect()]
    want = [
        r[0]
        for r in duckdb.connect()
        .execute(
            kmv_sketch_sql(
                f"read_parquet('{SF_ORACLE}/documents.parquet')", "text", k=64
            )
        )
        .fetchall()
    ]
    assert got == sorted(want)
    # a sketch's union with itself is its distinct-count estimate
    exact = docs.select("text").distinct().count()
    est = kmv_overlap_estimates(sk, sk, k=64)["union"]
    assert est == pytest.approx(exact, rel=0.4)


def test_kmv_prefilter_path_equals_exact_object(spark):
    """With a large domain the HLL-guided prefilter engages; the result
    must be the IDENTICAL k minima the unfiltered path computes."""
    from flink_rtcef_spark.operators.sketch import kmv_sketch

    df = spark.range(200000).select(F.col("id").cast("string").alias("v"))
    sk = kmv_sketch(df, "v", k=128)
    rows = [r["h"] for r in sk.orderBy("h").collect()]
    # unfiltered reference object
    from flink_rtcef_spark.functions.scalar import portable_hash64

    ref = [
        r["h"]
        for r in df.select(portable_hash64(F.col("v")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(128)
        .collect()
    ]
    assert rows == ref and len(rows) == 128


def test_kmv_merge_equals_union_sketch(spark):
    from flink_rtcef_spark.operators.sketch import kmv_merge, kmv_sketch

    a = spark.range(0, 3000).select(F.col("id").cast("string").alias("v"))
    b = spark.range(2000, 6000).select(F.col("id").cast("string").alias("v"))
    sa, sb = kmv_sketch(a, "v", k=256), kmv_sketch(b, "v", k=256)
    whole = kmv_sketch(a.union(b), "v", k=256)
    merged = kmv_merge(sa, sb, k=256)
    assert [r["h"] for r in merged.orderBy("h").collect()] == [
        r["h"] for r in whole.orderBy("h").collect()
    ]


def test_kmv_overlap_estimates_accuracy(spark):
    """Known overlap: |A|=6000, |B|=6000, |A∩B|=2000 -> Jaccard 0.2."""
    from flink_rtcef_spark.operators.sketch import kmv_overlap_estimates, kmv_sketch

    a = spark.range(0, 6000).select(F.col("id").cast("string").alias("v"))
    b = spark.range(4000, 10000).select(F.col("id").cast("string").alias("v"))
    est = kmv_overlap_estimates(
        kmv_sketch(a, "v", k=512), kmv_sketch(b, "v", k=512), k=512
    )
    assert est["union"] == pytest.approx(10000, rel=0.15)
    assert est["intersection"] == pytest.approx(2000, rel=0.35)
    assert est["jaccard"] == pytest.approx(0.2, abs=0.06)


def test_kmv_small_domain_exact(spark):
    from flink_rtcef_spark.operators.sketch import (
        kmv_overlap_estimates,
        kmv_sketch,
    )

    df = spark.createDataFrame([(str(i % 20),) for i in range(500)], "v string")
    sk = kmv_sketch(df, "v", k=64)
    assert sk.count() == 20
    assert kmv_overlap_estimates(sk, sk, k=64)["union"] == 20.0


def test_approx_heavy_hitters_row_keyed_sampling_recall(spark):
    """With a per-row id, a heavy value is found even at a small
    candidate rate (many independent chances); the regression this
    pins: a VALUE-keyed coin would miss it with prob 1-rate."""
    from flink_rtcef_spark.operators.sketch import approx_heavy_hitters

    rows = [(i, "hot" if i % 2 == 0 else f"cold{i}") for i in range(2000)]
    df = spark.createDataFrame(rows, "row_id long, v string")
    got = {
        r["v"]
        for r in approx_heavy_hitters(
            df, "v", min_share=0.2, candidate_rate=0.05, id_col="row_id"
        ).collect()
    }
    # 1000 occurrences x rate 0.05 -> P(miss) = 0.95^1000 ~ 5e-23
    assert got == {"hot"}


# ---------------------------------------------------------------------------
# Histogram quantile sketch
# ---------------------------------------------------------------------------


def test_hist_quantiles_within_one_bin_of_exact(spark):
    from flink_rtcef_spark.operators.sketch import hist_quantiles, hist_sketch

    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    lo, hi, nb = 0.0, 512.0, 256
    w = (hi - lo) / nb
    sk = hist_sketch(ev, "value", lo, hi, nb, ["event_type"])
    est = hist_quantiles(sk, [0.5, 0.9, 0.99], lo, hi, nb, ["event_type"]).toPandas()
    exact = ev.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.5, 0.9, 0.99))").alias("p")
    ).toPandas()
    exact_map = {
        (r.event_type, q): v
        for _, r in exact.iterrows()
        for q, v in zip((0.5, 0.9, 0.99), r.p)
    }
    assert len(est) == 3 * len(exact)
    for _, r in est.iterrows():
        true = exact_map[(r.event_type, r.q)]
        assert abs(r.quantile_est - true) <= w + 1e-9, (
            r.event_type, r.q, r.quantile_est, true)


def test_hist_merge_equals_whole_and_sketch_is_bounded(spark):
    from flink_rtcef_spark.operators.sketch import hist_merge, hist_sketch

    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    whole = hist_sketch(ev, "value", 0.0, 512.0, 64, ["event_type"])
    parts = [
        hist_sketch(ev.filter(f"event_id % 3 = {i}"), "value", 0.0, 512.0, 64,
                    ["event_type"])
        for i in range(3)
    ]
    merged = hist_merge(*parts)
    a = sorted(map(tuple, whole.collect()))
    b = sorted(map(tuple, merged.collect()))
    assert a == b
    # state bound: <= n_bins rows per group
    per_group = whole.groupBy("event_type").count().collect()
    assert all(r["count"] <= 64 for r in per_group)


def test_hist_out_of_range_clamps_and_validation(spark):
    from flink_rtcef_spark.operators.sketch import hist_quantiles, hist_sketch

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (9.9,), (50.0,), (None,),
         (float("nan"),), (float("inf"),), (float("-inf"),)], "v double"
    )
    sk = hist_sketch(df, "v", 0.0, 10.0, 10)
    rows = {r.bin: r.cnt for r in sk.collect()}
    assert rows[0] == 2        # -5.0 clamped down + 0.0
    assert rows[9] == 2        # 9.9 in last bin + 50.0 clamped up
    assert sum(rows.values()) == 4  # NULL, NaN, +/-inf all dropped
    with pytest.raises(ValueError):
        hist_sketch(df, "v", 10.0, 10.0, 4)
    with pytest.raises(ValueError):
        hist_quantiles(sk, [0.0], 0.0, 10.0, 10)  # q=0 out of (0,1]


def test_hist_matches_duckdb_bit_for_bit(spark):
    from flink_rtcef_spark.operators.sketch import (
        hist_quantiles,
        hist_quantiles_sql,
        hist_sketch,
    )

    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    sk = hist_sketch(ev, "value", 0.0, 512.0, 256, ["event_type"])
    got = {
        (r.event_type, r.q): r.quantile_est
        for r in hist_quantiles(
            sk, [0.25, 0.5, 0.75, 0.9, 0.99, 1.0], 0.0, 512.0, 256,
            ["event_type"]
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_ORACLE}/events.parquet')"
    )
    sql = hist_quantiles_sql(
        "events", "value", 0.0, 512.0, [0.25, 0.5, 0.75, 0.9, 0.99, 1.0],
        256, ["event_type"]
    )
    want = {
        (t, q): v for t, q, v in con.execute(sql).fetchall()
    }
    assert got == want  # exact float equality — same IEEE ops both sides


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_fp_rate(spark):
    from flink_rtcef_spark.operators.sketch import (
        bloom_build,
        bloom_filter_members,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").select("doc_id")
    members = docs.filter("doc_id % 3 = 0")
    m, k = 1 << 12, 4  # deliberately small so fps occur
    sk = bloom_build(members, "doc_id", m, k)
    got = {r.doc_id for r in
           bloom_filter_members(docs, "doc_id", sk, m, k).collect()}
    true = {r.doc_id for r in members.collect()}
    everyone = {r.doc_id for r in docs.collect()}
    assert true <= got  # NO false negatives, ever
    n = true and len(true)
    import math
    fp_expect = (1 - math.exp(-k * len(true) / m)) ** k
    fp_got = len(got - true) / max(1, len(everyone - true))
    assert fp_got <= 3 * fp_expect + 0.02, (fp_got, fp_expect)


def test_bloom_merge_is_union_and_bounded(spark):
    from flink_rtcef_spark.operators.sketch import (
        bloom_build,
        bloom_filter_members,
        bloom_merge,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").select("doc_id")
    a = docs.filter("doc_id % 2 = 0")
    b = docs.filter("doc_id % 2 = 1")
    m, k = 1 << 14, 4
    merged = bloom_merge(bloom_build(a, "doc_id", m, k),
                         bloom_build(b, "doc_id", m, k))
    whole = bloom_build(docs, "doc_id", m, k)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect()))
    # bitset bound regardless of input (+1: the word=-1 parameter row)
    assert whole.count() <= m // 64 + 1


def test_bloom_prefiltered_decontam_equals_exact(spark):
    from flink_rtcef_spark.operators.decontam import (
        contamination_hits,
        contamination_hits_bloom,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    corpus = docs.filter("doc_id % 5 <> 0")
    bench = docs.filter("doc_id % 5 = 0")
    exact = sorted(map(tuple, contamination_hits(corpus, bench, n=8).collect()))
    # undersized filter => real false positives => the exact-verify
    # stage is demonstrably doing work
    via_bloom = sorted(map(tuple, contamination_hits_bloom(
        corpus, bench, n=8, bloom_m=1 << 12, bloom_k=4).collect()))
    assert via_bloom == exact
    # the non-broadcastable-bench-set mode (shuffle verify) is equally exact
    via_shuffle = sorted(map(tuple, contamination_hits_bloom(
        corpus, bench, n=8, bloom_m=1 << 12, bloom_k=4,
        broadcast_verify=False).collect()))
    assert via_shuffle == exact


def test_bloom_prehashed_no_false_negatives_and_validation(spark):
    from flink_rtcef_spark.operators.sketch import (
        bloom_build,
        bloom_filter_members,
    )

    vals = spark.range(5000).select(F.xxhash64("id").alias("h"))
    members = vals.filter("pmod(h, 3) = 0")
    m, k = 1 << 16, 4
    sk = bloom_build(members, "h", m, k, prehashed=True)
    got = {r.h for r in
           bloom_filter_members(vals, "h", sk, m, k, prehashed=True).collect()}
    true = {r.h for r in members.collect()}
    everyone = {r.h for r in vals.collect()}
    assert true <= got
    fp = len(got - true) / max(1, len(everyone - true))
    assert fp < 0.2, fp  # ~1666 members in 2^16 bits: fp ~ 1%
    with pytest.raises(ValueError, match="2\\^24"):
        bloom_build(members, "h", 1 << 26, 4, prehashed=True)
    with pytest.raises(ValueError, match="k <= 7"):
        bloom_build(members, "h", 1 << 16, 8, prehashed=True)
    with pytest.raises(ValueError, match="power of two"):
        bloom_build(members, "h", 1000, 4)


def test_bloom_probe_columns_survive_name_collisions(spark):
    from flink_rtcef_spark.operators.sketch import (
        bloom_build,
        bloom_filter_members,
    )

    probes = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "v long, __bloom_w string"
    )
    sk = bloom_build(probes.filter("v < 3"), "v", 1 << 10, 4)
    out = bloom_filter_members(probes, "v", sk, 1 << 10, 4)
    assert set(out.columns) == {"v", "__bloom_w"}
    got = {(r["v"], r["__bloom_w"]) for r in out.collect()}
    assert {(1, "a"), (2, "b")} <= got  # members kept WITH their column


def test_hist_weighted_quantiles_match_duckdb_and_expansion(spark):
    """Weighted histogram == histogram of the weight-expanded input,
    and the weighted SQL twin hash-matches."""
    from flink_rtcef_spark.operators.sketch import (
        hist_quantiles,
        hist_quantiles_sql,
        hist_sketch,
    )

    rows = [(5.0, 3), (20.0, 1), (45.0, 6), (45.0, None), (80.0, 2)]
    df = spark.createDataFrame(rows, "v double, w int")
    lo, hi, nb = 0.0, 100.0, 20
    weighted = hist_sketch(df, "v", lo, hi, nb, weight_col="w")
    expanded = spark.createDataFrame(
        [(v,) for v, w in rows if w for _ in range(w)], "v double"
    )
    plain = hist_sketch(expanded, "v", lo, hi, nb)
    assert sorted(map(tuple, weighted.collect())) == sorted(
        map(tuple, plain.collect()))

    got = {
        r.q: r.quantile_est
        for r in hist_quantiles(weighted, [0.5, 0.9], lo, hi, nb).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (v DOUBLE, w INT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = hist_quantiles_sql("t", "v", lo, hi, [0.5, 0.9], nb, weight_expr="w")
    want = {q: e for q, e in con.execute(sql).fetchall()}
    assert got == want


def test_bloom_probe_validates_build_parameters(spark):
    """Probing with parameters different from the build silently
    produces FALSE NEGATIVES (k bits land in different words), so the
    sketch embeds (m, k, prehashed) in a word=-1 parameter row and the
    probe fails on any mismatch (round-4 advice).  The default check
    is in-plan (no extra Spark action — surfaces at execution);
    validate="strict" is eager and also rejects a missing parameter
    row."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from flink_rtcef_spark.operators.sketch import (
        bloom_build,
        bloom_filter_members,
        bloom_merge,
    )

    vals = spark.range(200).selectExpr("id AS v")
    sk = bloom_build(vals, "v", 1 << 12, 4)
    # matching parameters: fine (both modes)
    assert bloom_filter_members(vals, "v", sk, 1 << 12, 4).count() >= 200
    assert bloom_filter_members(
        vals, "v", sk, 1 << 12, 4, validate="strict"
    ).count() >= 200
    # wrong m / wrong k / wrong prehashed: each refused — in-plan at
    # action time, strict at call time
    for m, k, pre in [(1 << 13, 4, False), (1 << 12, 3, False),
                      (1 << 12, 4, True)]:
        with pytest.raises(SparkRuntimeException, match="do not match"):
            bloom_filter_members(vals, "v", sk, m, k, prehashed=pre).count()
        with pytest.raises(ValueError, match="do not match"):
            bloom_filter_members(
                vals, "v", sk, m, k, prehashed=pre, validate="strict"
            )
    # a merge of sketches built with DIFFERENT parameters is not a
    # valid bloom filter at all — its OR-ed parameter row is
    # self-inconsistent and both modes refuse it
    bad = bloom_merge(sk, bloom_build(vals, "v", 1 << 13, 4))
    with pytest.raises(SparkRuntimeException, match="do not match"):
        bloom_filter_members(vals, "v", bad, 1 << 12, 4).count()
    with pytest.raises(ValueError, match="self-inconsistent"):
        bloom_filter_members(vals, "v", bad, 1 << 12, 4, validate="strict")
    # a sketch stripped of its parameter row: the in-plan guard has no
    # row to fire on (documented pass-through); strict refuses it
    naked = sk.filter("word >= 0")
    assert bloom_filter_members(
        vals, "v", naked, 1 << 12, 4
    ).count() >= 200
    with pytest.raises(ValueError, match="no parameter row"):
        bloom_filter_members(vals, "v", naked, 1 << 12, 4, validate="strict")
    # ... and validate=False skips everything (caller takes the risk)
    out = bloom_filter_members(vals, "v", naked, 1 << 12, 4, validate=False)
    assert out.count() >= 200


def test_hist_weight_col_guard_edges(spark):
    """Round-6 review fixes: a missing weight column is a diagnosable
    ValueError naming the available columns (was a bare KeyError from
    the schema lookup), and DECIMAL(p<=18, 0) — exact integers, whose
    long cast is identical in both engines — is accepted like the
    native integer types."""
    from flink_rtcef_spark.operators.sketch import hist_sketch

    df = spark.createDataFrame([(5.0, 3), (45.0, 6)], "v double, w int")
    with pytest.raises(ValueError, match="not a column.*'v', 'w'"):
        hist_sketch(df, "v", 0.0, 100.0, 10, weight_col="n_tokens_typo")
    dec = df.selectExpr("v", "CAST(w AS DECIMAL(10, 0)) AS w")
    got = sorted(map(tuple,
                     hist_sketch(dec, "v", 0.0, 100.0, 10,
                                 weight_col="w").collect()))
    want = sorted(map(tuple,
                      hist_sketch(df, "v", 0.0, 100.0, 10,
                                  weight_col="w").collect()))
    assert got == want
    # fractional decimals stay refused (they round/truncate differently
    # across engines), as do decimals wider than long
    with pytest.raises(ValueError, match="integer type"):
        hist_sketch(
            df.selectExpr("v", "CAST(w AS DECIMAL(10, 2)) AS w"),
            "v", 0.0, 100.0, 10, weight_col="w",
        )
    with pytest.raises(ValueError, match="integer type"):
        hist_sketch(
            df.selectExpr("v", "CAST(w AS DECIMAL(38, 0)) AS w"),
            "v", 0.0, 100.0, 10, weight_col="w",
        )


def test_bloom_join_strategy_whitelisted(spark):
    """A typo'd join_strategy must fail loudly — DataFrame.hint()
    ignores unknown names with only a warning, which would silently
    hand the strategy back to the optimizer and un-pin the plan test."""
    from flink_rtcef_spark.operators.sketch import (
        bloom_build,
        bloom_filter_members,
    )

    vals = spark.range(10).selectExpr("id AS v")
    sk = bloom_build(vals, "v", 1 << 10, 4)
    with pytest.raises(ValueError, match="join_strategy"):
        bloom_filter_members(vals, "v", sk, 1 << 10, 4,
                             join_strategy="shuffle-hash")


def test_bloom_guard_fires_under_nonbroadcast_join_strategies(spark):
    """The in-plan parameter guard lives on the word=-1 row, which
    never matches a probe's join key — this pins that Catalyst still
    evaluates the guarded projection for never-joined build rows under
    EVERY physical join strategy (round-5 advice: a future optimizer
    change such as runtime join-key filtering could silently skip that
    row and disable validation; this test turns that into a loud suite
    failure)."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from flink_rtcef_spark.operators.sketch import (
        bloom_build,
        bloom_filter_members,
    )

    vals = spark.range(500).selectExpr("id AS v")
    members = vals.filter("v % 3 = 0")
    sk = bloom_build(members, "v", 1 << 12, 4)
    true = {r.v for r in members.collect()}
    for strategy, marker in [
        ("broadcast", "BroadcastHashJoin"),
        ("merge", "SortMergeJoin"),
        ("shuffle_hash", "ShuffledHashJoin"),
    ]:
        ok = bloom_filter_members(
            vals, "v", sk, 1 << 12, 4, join_strategy=strategy
        )
        # the forced strategy is actually in the executed plan (else the
        # test would silently degrade to re-testing broadcast)
        plan = ok._jdf.queryExecution().executedPlan().toString()
        assert marker in plan, (strategy, plan)
        got = {r.v for r in ok.collect()}
        assert true <= got, strategy  # no false negatives on any path
        with pytest.raises(SparkRuntimeException, match="do not match"):
            bloom_filter_members(
                vals, "v", sk, 1 << 13, 4, join_strategy=strategy
            ).count()


def test_bloom_merge_requires_meta_row_per_shard(spark):
    """bloom_merge's mixed-merge guard (round-5 advice): a parameter-
    rowed shard merged with a parameter-less one used to inherit the
    single meta row, so a naked shard built with DIFFERENT parameters
    passed both probe-validation modes — false negatives with no
    signal.  Now the merged meta row's shard count must equal the
    number of merged sketches."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from flink_rtcef_spark.operators.sketch import (
        bloom_build,
        bloom_filter_members,
        bloom_merge,
    )

    vals = spark.range(300).selectExpr("id AS v")
    a = bloom_build(vals.filter("v % 2 = 0"), "v", 1 << 12, 4)
    b = bloom_build(vals.filter("v % 2 = 1"), "v", 1 << 12, 4)
    # the hazard case: one shard stripped of its parameter row — even a
    # same-parameters naked shard is refused (the merge cannot tell)
    naked = b.filter("word >= 0")
    with pytest.raises(SparkRuntimeException, match="parameter"):
        bloom_merge(a, naked).collect()
    # the guard is a filter predicate, so bits-free consumers cannot
    # column-prune it away (r6 advice: the projection-embedded guard
    # only fired when bits was evaluated)
    with pytest.raises(SparkRuntimeException, match="parameter"):
        bloom_merge(a, naked).count()
    with pytest.raises(SparkRuntimeException, match="parameter"):
        bloom_merge(a, naked).select("word").collect()
    # ... and the guard travels through the probe path too
    with pytest.raises(SparkRuntimeException, match="parameter"):
        bloom_filter_members(
            vals, "v", bloom_merge(a, naked), 1 << 12, 4
        ).count()
    # opt-out restores the raw OR
    assert bloom_merge(a, naked, require_meta=False).count() > 0
    # healthy merges keep working, including merge-of-merged (the
    # merged sketch carries exactly one meta row, counting as 1 shard)
    m2 = bloom_merge(a, b)
    m3 = bloom_merge(m2, bloom_build(vals.filter("v % 7 = 0"),
                                     "v", 1 << 12, 4))
    assert {r.v for r in vals.collect()} <= {
        r.v for r in bloom_filter_members(vals, "v", m3, 1 << 12, 4).collect()
    }
    # all-naked merges stay pass-through at merge time (no meta row to
    # count) and are caught by the probe's strict mode as before
    an = bloom_merge(a.filter("word >= 0"), naked)
    an.collect()
    with pytest.raises(ValueError, match="no parameter row"):
        bloom_filter_members(vals, "v", an, 1 << 12, 4, validate="strict")
