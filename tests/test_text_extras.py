"""Boilerplate-line removal and temperature mixing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_rtcef_spark.operators.sampling import temperature_rates, temperature_sample
from flink_rtcef_spark.operators.text import (
    dedup_lines_within_doc,
    remove_boilerplate_lines,
)


def test_dedup_lines_within_doc_keeps_first_in_order(spark):
    doc = "menu\nintro text\nmenu\nbody text\nintro text\nfooter"
    got = dedup_lines_within_doc(
        spark.createDataFrame([(1, doc)], "doc_id long, text string")
    ).first()["text"]
    assert got == "menu\nintro text\nbody text\nfooter"


def test_remove_boilerplate_lines_cuts_frequent_keeps_order(spark):
    banner = "ACCEPT COOKIES TO CONTINUE"
    rows = [
        (i, f"unique opening {i}\n{banner}\n\nunique body {i}\nunique end {i}")
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["text"]
        for r in remove_boilerplate_lines(df, max_df=3).collect()
    }
    for i in range(5):
        # banner (df=5 > 3) dropped; unique lines AND the blank line
        # survive in original order
        assert got[i] == f"unique opening {i}\n\nunique body {i}\nunique end {i}"


def test_remove_boilerplate_respects_max_df(spark):
    shared = "shared by exactly two docs"
    rows = [(1, f"a\n{shared}"), (2, f"b\n{shared}"), (3, "c\nonly here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    texts = {
        r["doc_id"]: r["text"]
        for r in remove_boilerplate_lines(df, max_df=2).collect()
    }
    assert texts[1] == f"a\n{shared}"  # df=2 is within max_df=2


def test_temperature_rates_extremes():
    counts = {"web": 1000, "books": 10}
    # alpha=1: natural proportions -> nothing needs downsampling
    assert temperature_rates(counts, 1.0) == {"web": 1.0, "books": 1.0}
    # alpha=0: uniform mass -> every source contributes c_min expected rows
    r0 = temperature_rates(counts, 0.0)
    assert r0["books"] == pytest.approx(1.0)
    assert r0["web"] * 1000 == pytest.approx(10)
    # target_total caps the expected sampled size
    rt = temperature_rates(counts, 1.0, target_total=101)
    expected = 1000 * rt["web"] + 10 * rt["books"]
    assert expected == pytest.approx(101)
    with pytest.raises(ValueError):
        temperature_rates({}, 1.0)


def test_temperature_sample_balances_sources(spark):
    df = spark.range(1100).select(
        F.col("id"),
        F.when(F.col("id") < 1000, "web").otherwise("books").alias("source"),
    )
    got = (
        temperature_sample(df, "source", "id", alpha=0.0)
        .groupBy("source")
        .count()
        .collect()
    )
    sizes = {r["source"]: r["count"] for r in got}
    assert sizes["books"] == 100  # rate 1.0: everything kept
    assert sizes["web"] == pytest.approx(100, rel=0.35)  # hash-coin at rate 0.1


def test_simhash_candidate_pairs_exact_recall(spark):
    """Pigeonhole banding must recover EXACTLY the brute-force Hamming
    pairs: planted near-dups (small edits) plus unrelated docs."""
    import random

    from flink_rtcef_spark.operators.dedup import (
        simhash64,
        simhash_candidate_pairs,
    )

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(200)]
    rows = []
    for i in range(20):
        base = [rng.choice(vocab) for _ in range(60)]
        rows.append((i * 2, " ".join(base)))
        edited = list(base)
        edited[7] = "edited"  # one-token edit -> tiny Hamming distance
        rows.append((i * 2 + 1, " ".join(edited)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sims = simhash64(df).cache()

    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_candidate_pairs(sims, max_hamming=3).collect()
    }
    a, b = sims.alias("a"), sims.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    brute = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in a.crossJoin(b)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(ham <= 3)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.alias("hamming"),
        )
        .collect()
    }
    sims.unpersist()
    assert got == brute
    assert len(brute) > 0  # the planted edits actually landed within 3 bits


def test_simhash_candidate_pairs_validates_bands():
    from flink_rtcef_spark.operators.dedup import simhash_candidate_pairs

    with pytest.raises(ValueError):
        simhash_candidate_pairs(None, max_hamming=3, bands=3)
    with pytest.raises(ValueError):
        simhash_candidate_pairs(None, max_hamming=0)


def test_degenerate_inputs_pass_through(spark):
    """Empty upstream stages flow through the curation operators
    instead of crashing mid-pipeline."""
    from flink_rtcef_spark.operators.decontam import decontaminate
    from flink_rtcef_spark.operators.dedup import (
        digest_frame,
        incremental_dedup,
        simhash64,
        simhash_candidate_pairs,
    )
    from flink_rtcef_spark.operators.sampling import temperature_sample

    empty = spark.createDataFrame([], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n")], "doc_id long, text string"
    )
    bench_empty = spark.createDataFrame([], "text string")
    assert decontaminate(docs, bench_empty).count() == 1  # nothing to match
    hist_empty = spark.createDataFrame([], "digest string, doc_id long")
    assert incremental_dedup(docs, hist_empty).count() == 1
    assert simhash_candidate_pairs(simhash64(empty)).count() == 0
    assert remove_boilerplate_lines(empty, max_df=2).count() == 0
    src_empty = spark.createDataFrame([], "id long, source string")
    assert temperature_sample(src_empty, "source", "id", alpha=1.0).count() == 0


# ----------------------------------------------------------- upsampling --
def test_epoch_upsample_integer_weights_exact(spark):
    import pyspark.sql.functions as F

    from flink_rtcef_spark.operators.sampling import epoch_upsample

    df = spark.createDataFrame(
        [(i, "hi" if i % 2 else "lo") for i in range(100)],
        "doc_id long, source string",
    )
    up = epoch_upsample(df, {"hi": 3.0, "lo": 1.0}, "source", "doc_id")
    by = {r["source"]: r["count"] for r in up.groupBy("source").count().collect()}
    assert by == {"hi": 150, "lo": 50}
    # epochs are 0..w-1 per doc, exactly once each
    bad = (
        up.groupBy("doc_id")
        .agg(F.countDistinct("epoch").alias("ne"), F.count("*").alias("n"))
        .filter("ne <> n")
        .count()
    )
    assert bad == 0


def test_epoch_upsample_fractional_expectation_and_bounds(spark):
    from flink_rtcef_spark.operators.sampling import epoch_upsample

    df = spark.createDataFrame(
        [(i, "s") for i in range(4000)], "doc_id long, source string"
    )
    up = epoch_upsample(df, {"s": 2.3}, "source", "doc_id")
    n = up.count()
    # every doc 2 or 3 times; expectation 2.3 +- sampling noise
    assert 2 * 4000 <= n <= 3 * 4000
    assert abs(n / 4000 - 2.3) < 0.05
    per = up.groupBy("doc_id").count().select("count").distinct().collect()
    assert {r["count"] for r in per} == {2, 3}


def test_epoch_upsample_downsampling_half_matches_bernoulli(spark):
    from flink_rtcef_spark.operators.sampling import (
        bernoulli_sample,
        epoch_upsample,
    )

    df = spark.createDataFrame(
        [(i, "s") for i in range(2000)], "doc_id long, source string"
    )
    up = epoch_upsample(df, {"s": 0.25}, "source", "doc_id", seed=7)
    bern = bernoulli_sample(df, 0.25, "doc_id", seed=7)
    assert up.drop("epoch").exceptAll(bern).count() == 0
    assert bern.exceptAll(up.drop("epoch")).count() == 0


def test_epoch_upsample_matches_duckdb(spark):
    import duckdb

    from flink_rtcef_spark.operators.sampling import (
        epoch_upsample,
        epoch_upsample_sql,
    )
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "source"
    )
    weights = {"src1": 2.5, "src2": 0.5, "src3": 3.0}
    got = {
        (r["doc_id"], r["epoch"])
        for r in epoch_upsample(
            docs, weights, "source", "doc_id", seed=3
        ).collect()
    }
    sql = epoch_upsample_sql(
        f"SELECT doc_id, source FROM read_parquet('{SF_SMOKE}/documents.parquet')",
        weights,
        "source",
        "doc_id",
        seed=3,
    )
    want = {(r[0], r[2]) for r in duckdb.connect().execute(sql).fetchall()}
    assert got == want and len(got) > 0
    # the weighted branches actually fired: some doc appears 3x
    from collections import Counter

    per_doc = Counter(d for d, _ in got)
    assert max(per_doc.values()) >= 3


def test_epoch_upsample_rejects_negative_weight(spark):
    import pytest as _pytest

    from flink_rtcef_spark.operators.sampling import epoch_upsample

    df = spark.createDataFrame([(1, "s")], "doc_id long, source string")
    with _pytest.raises(ValueError):
        epoch_upsample(df, {"s": -1.0}, "source", "doc_id")


def test_epoch_upsample_null_ids_keep_integer_copies(spark):
    """NULL ids must not vanish: floor(w) copies still emit (the
    fractional coin is shared across NULL-id rows, deterministic)."""
    from flink_rtcef_spark.operators.sampling import epoch_upsample

    df = spark.createDataFrame(
        [(1, "s"), (None, "s"), (None, "t")],
        "doc_id long, source string",
    )
    up = epoch_upsample(df, {"s": 2.0, "t": 1.0}, "source", "doc_id")
    by = {
        (r["doc_id"], r["source"]): r["count"]
        for r in up.groupBy("doc_id", "source").count().collect()
    }
    assert by[(1, "s")] == 2 and by[(None, "s")] == 2 and by[(None, "t")] == 1
