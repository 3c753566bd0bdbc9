"""Pipeline-operator tests: near-dedup recall/precision on constructed
duplicates, ANN recall vs brute force, multimodal plumbing shapes."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_rtcef_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    near_dedup,
    simhash64,
)
from flink_rtcef_spark.operators.multimodal import (
    extract_features,
    fake_decode,
    synthesize_media,
)
from flink_rtcef_spark.operators.similarity import (
    IVFIndex,
    RandomHyperplaneLSH,
    cosine_topk,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def doc_df(spark):
    """60 base docs + near-duplicates of the first 10 (one word changed)
    + exact duplicates of the next 5."""
    import random

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(60):
        words = [rng.choice(vocab) for _ in range(40)]
        rows.append((i, " ".join(words)))
    for j in range(10):  # near-dups: ids 100+j duplicate doc j with 1 change
        words = rows[j][1].split()
        words[20] = "CHANGED"
        rows.append((100 + j, " ".join(words)))
    for j in range(10, 15):  # exact dups
        rows.append((200 + j, rows[j][1]))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup(spark, doc_df):
    out = exact_dedup(doc_df).toPandas()
    # exact dups keep the lower id: 200+j rows get canonical id j
    dups = out[out.n_copies > 1]
    assert set(dups.doc_id) == set(range(10, 15))


def test_near_dedup_finds_planted_pairs(spark, doc_df):
    sigs = minhash_signatures(doc_df, n_hashes=8, shingle_n=3)
    cands = lsh_candidate_pairs(sigs, n_hashes=8, bands=4).toPandas()
    got_pairs = set(zip(cands.id_a, cands.id_b))
    planted = {(j, 100 + j) for j in range(10)}
    # banding with 4 bands of 2 rows: 39/40 shingles shared -> should
    # catch nearly all planted pairs
    assert len(planted & got_pairs) >= 8
    deduped = near_dedup(doc_df, n_hashes=8, bands=4, threshold=0.7).toPandas()
    kept = set(deduped.doc_id)
    # every planted near-dup (id 100+j) should be dropped, originals kept
    assert all(j in kept for j in range(10))
    assert sum(1 for j in range(10) if (100 + j) in kept) <= 2


def test_simhash_hamming_separation(spark, doc_df):
    out = simhash64(doc_df, bits=32).toPandas().set_index("doc_id")["simhash"]

    def ham(a, b):
        return bin(int(a) ^ int(b)).count("1")

    near = [ham(out[j], out[100 + j]) for j in range(10)]
    import random

    rng = random.Random(0)
    far = [
        ham(out[a], out[b])
        for a, b in [(rng.randrange(60), rng.randrange(60)) for _ in range(20)]
        if a != b
    ]
    assert np.mean(near) < np.mean(far) - 2


@pytest.fixture(scope="module")
def planted_embeddings(spark):
    """1000 random 64-d vectors + 10 planted near-neighbors of the
    query (cosine ~0.9) — the regime LSH is designed for."""
    rng = np.random.RandomState(3)
    q = rng.randn(64)
    q /= np.linalg.norm(q)
    rows = []
    for i in range(1000):
        v = rng.randn(64)
        rows.append((i + 1, [float(x) for x in v]))
    for j in range(10):  # planted: q + small noise (cosine ~0.78)
        v = q + 0.1 * rng.randn(64)
        rows.append((2000 + j, [float(x) for x in v]))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    return df, [float(x) for x in q]


def test_ann_lsh_recall(spark, planted_embeddings):
    df, qvec = planted_embeddings
    exact = set(cosine_topk(df, qvec, k=10).toPandas().vec_id)
    assert exact == {2000 + j for j in range(10)}  # planted are the true top-10
    lsh = RandomHyperplaneLSH(dim=64, n_planes=6, n_tables=4, seed=11)
    approx = set(lsh.ann_topk(df, qvec, k=10, n_probe_bits=1).toPandas().vec_id)
    recall = len(exact & approx) / 10
    assert recall >= 0.8
    # scanned fraction must actually shrink vs the full corpus
    n_cand = lsh.candidate_count(df, qvec, n_probe_bits=1)
    assert n_cand < df.count() * 0.7


def test_ann_ivf_recall(spark, planted_embeddings):
    df, qvec = planted_embeddings
    exact = set(cosine_topk(df, qvec, k=10).toPandas().vec_id)
    ivf = IVFIndex(n_cells=8, n_iter=5).fit(df)
    approx = set(ivf.ann_topk(df, qvec, k=10, n_probe=3).toPandas().vec_id)
    # planted cluster lands in one or two cells; probing 3 must find most
    assert len(exact & approx) / 10 >= 0.8
    probed = ivf.assign(df).filter(
        F.col("cell").isin(ivf.query_cells(qvec, 3))
    ).count()
    assert probed < df.count()


def test_multimodal_plumbing(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(30)
    media = synthesize_media(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    feats = extract_features(media).toPandas()
    assert len(feats) == 30
    assert all(len(f) == 16 for f in feats.features)
    # deterministic: rerun gives identical features
    feats2 = extract_features(media).toPandas()
    pd.testing.assert_frame_equal(
        feats.sort_values("media_id").reset_index(drop=True),
        feats2.sort_values("media_id").reset_index(drop=True),
    )


def test_fake_decode_shapes():
    f = fake_decode(b"hello world", "image")
    assert f.shape == (16,)
    assert f[0] == 11  # n_bytes
    assert fake_decode(b"", "audio").shape == (16,)


def test_connected_components_resolves_chains(spark):
    """A~B~C without A~C: one-round min-id dropping is insufficient;
    the closure must land all three in component A (and the separate
    pair D~E in component D)."""
    from flink_rtcef_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (5, 4), (7, 8), (6, 7), (8, 9)],
        "id_a long, id_b long",
    )
    got = {
        r["id"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 6, 8: 6, 9: 6}


def test_sampling_is_partitioning_invariant(spark):
    """The sampler must pick the SAME rows regardless of partitioning —
    the reproducibility property df.sample lacks."""
    from flink_rtcef_spark.operators.sampling import bernoulli_sample, top_k_per_group
    from flink_rtcef_spark.sources.io import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    a = sorted(r["doc_id"] for r in bernoulli_sample(docs, 0.3, "doc_id").collect())
    b = sorted(
        r["doc_id"]
        for r in bernoulli_sample(docs.repartition(17), 0.3, "doc_id").collect()
    )
    assert a == b and 0 < len(a) < docs.count()
    ta = sorted(r["doc_id"] for r in top_k_per_group(docs, "lang", 3, "doc_id").collect())
    tb = sorted(
        r["doc_id"]
        for r in top_k_per_group(docs.repartition(5), "lang", 3, "doc_id").collect()
    )
    assert ta == tb


def test_bernoulli_sampler_is_map_side_only(spark):
    """No exchange in the plan: the coin filter runs inside the scan
    stage (pure map-side, shuffle-free at any scale)."""
    from flink_rtcef_spark.operators.sampling import bernoulli_sample
    from flink_rtcef_spark.sources.io import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    df = bernoulli_sample(docs, 0.25, "doc_id").select("doc_id")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan


def test_pack_sequences_invariants(spark):
    """Exactly-once assignment, budget respected (oversized docs get
    singleton packs), deterministic under repartitioning, and FFD
    utilization is sane."""
    from flink_rtcef_spark.operators.text import pack_sequences, token_counts
    from flink_rtcef_spark.sources.io import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    counted = token_counts(docs).withColumnRenamed("n_bpe_tokens", "n_tokens")
    budget = 512
    packed = pack_sequences(counted, budget=budget, n_buckets=8).toPandas()

    # every doc exactly once
    assert sorted(packed["id"]) == sorted(
        r["doc_id"] for r in counted.select("doc_id").collect()
    )
    # per-pack budget: multi-doc packs never exceed; oversized docs sit alone
    per_pack = packed.groupby("pack_id").agg(
        n=("id", "size"), tokens=("n_tokens", "sum")
    )
    over = per_pack[per_pack["tokens"] > budget]
    assert (over["n"] == 1).all()
    # utilization: packs (excluding oversized singletons) average >60% full
    ok = per_pack[per_pack["tokens"] <= budget]
    assert ok["tokens"].mean() > 0.6 * budget
    # determinism across partitionings
    again = pack_sequences(
        counted.repartition(13), budget=budget, n_buckets=8
    ).toPandas()
    a = packed.sort_values("id").reset_index(drop=True)
    b = again.sort_values("id").reset_index(drop=True)
    assert list(a["pack_id"]) == list(b["pack_id"])


def test_jaccard_max_df_drops_boilerplate_not_dups(spark):
    """A boilerplate shingle shared by all docs must not create pairs
    once capped; true near-dup pairs survive because their scores are
    dominated by their duplicated content."""
    from flink_rtcef_spark.operators.dedup import jaccard_verify

    boiler = "terms of service apply here"
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, f"{base} {boiler}"), (2, f"{base} {boiler}")]  # near-dups
    rows += [(i, f"doc {i} unique words nothing alike number {i} {boiler}") for i in range(3, 9)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = jaccard_verify(docs, None, threshold=0.5, max_df=4).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped}
    assert (1, 2) in got
    # boilerplate-only pairs are gone
    assert all(p == (1, 2) for p in got)


def test_ann_pq_recall_and_compression(spark, planted_embeddings):
    """ADC over m uint8 codes must still rank the planted neighbors
    top; codes are m ints per vector (the ~d*4/m compression that makes
    scan-resident ANN possible at 100 TB)."""
    from flink_rtcef_spark.operators.similarity import ProductQuantizer

    df, qvec = planted_embeddings
    exact = set(cosine_topk(df, qvec, k=10).toPandas().vec_id)
    pq = ProductQuantizer(m=8, k=16, n_iter=8).fit(df)
    encoded = pq.encode(df).cache()
    row = encoded.select("pq_codes").first()
    assert len(row[0]) == 8 and all(0 <= c < 16 for c in row[0])
    approx = set(pq.ann_topk(encoded, qvec, kk=10).toPandas().vec_id)
    assert len(exact & approx) / 10 >= 0.8
    encoded.unpersist()


def test_token_budget_sample_strict_cap(spark):
    """Per-source token totals never exceed the budget; the selection is
    partitioning-invariant; unbudgeted sources are dropped."""
    from flink_rtcef_spark.operators.sampling import token_budget_sample

    rows = [(i, f"s{i % 3}", 100 + (i % 7) * 50) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    budgets = {"s0": 900, "s1": 400}
    out = token_budget_sample(df, "source", budgets, "n_tokens", "doc_id").toPandas()
    totals = out.groupby("source")["n_tokens"].sum().to_dict()
    assert set(totals) <= set(budgets)
    for s, total in totals.items():
        assert total <= budgets[s]
    again = token_budget_sample(
        df.repartition(7), "source", budgets, "n_tokens", "doc_id"
    ).toPandas()
    assert sorted(out["doc_id"]) == sorted(again["doc_id"])


def test_chunk_documents_coverage_and_overlap(spark):
    """Every token position is covered; consecutive chunks overlap by
    chunk-stride tokens; reconstruction at stride offsets matches the
    source tokens."""
    from flink_rtcef_spark.operators.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(110))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = (
        chunk_documents(df, chunk_tokens=40, stride=25)
        .orderBy("chunk_idx")
        .collect()
    )
    toks = text.split()
    assert [r["chunk_idx"] for r in out] == list(range(len(out)))
    for r in out:
        start = r["chunk_idx"] * 25
        expect = toks[start : start + 40]
        assert r["chunk_text"].split() == expect
        assert r["n_chunk_tokens"] == len(expect)
    # full coverage: union of chunk spans is the whole doc
    covered = set()
    for r in out:
        start = r["chunk_idx"] * 25
        covered.update(range(start, start + r["n_chunk_tokens"]))
    assert covered == set(range(110))


def test_near_dedup_transitive_collapses_chains(spark):
    """A chain of near-dups (each adjacent pair >=0.8 Jaccard, ends
    dissimilar enough) keeps exactly one survivor under the transitive
    variant."""
    from flink_rtcef_spark.operators.dedup import near_dedup, near_dedup_transitive

    base = [f"tok{i}" for i in range(40)]
    v1 = " ".join(base)
    v2 = " ".join(base[:37] + ["x1", "x2", "x3"])          # ~0.85 vs v1
    v3 = " ".join(base[:34] + ["x1", "x2", "x3", "y1", "y2", "y3"])  # ~0.85 vs v2
    others = [" ".join(f"w{i}_{j}" for j in range(30)) for i in range(3)]
    docs = spark.createDataFrame(
        [(1, v1), (2, v2), (3, v3)] + [(10 + i, t) for i, t in enumerate(others)],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in near_dedup_transitive(docs, threshold=0.75, bands=8).collect()
    )
    assert kept == [1, 10, 11, 12]


def test_simhash_full_64_bits(spark, doc_df):
    """bits=64 must build without LongType overflow (bit 63 is the sign
    bit: weight -(1<<63)) and agree with a numpy two's-complement
    reference computed from the same portable hash."""
    from flink_rtcef_spark.functions.scalar import portable_hash64

    out = simhash64(doc_df, bits=64).toPandas().set_index("doc_id")["simhash"]
    # numpy reference on one doc
    row = doc_df.filter(F.col("doc_id") == 0).select("text").first()
    toks = [t for t in row[0].lower().strip().split(" ") if t]
    hashes = [
        r[0]
        for r in spark.createDataFrame([(t,) for t in toks], "tok string")
        .select(portable_hash64(F.col("tok")))
        .collect()
    ]
    acc = 0
    for b in range(64):
        votes = sum(1 if (h >> b) & 1 else -1 for h in hashes)
        if votes > 0:
            acc |= 1 << b
    expect = acc - (1 << 64) if acc >= (1 << 63) else acc
    assert int(out[0]) == expect
    with pytest.raises(ValueError):
        simhash64(doc_df, bits=65)


def test_lsh_rejects_indivisible_bands(spark, doc_df):
    sigs = minhash_signatures(doc_df, n_hashes=8)
    with pytest.raises(ValueError, match="divisible"):
        lsh_candidate_pairs(sigs, n_hashes=8, bands=3)


def test_lsh_max_bucket_star_expands_mega_buckets(spark):
    """A bucket of b identical docs quadratically emits b(b-1)/2 pairs;
    with max_bucket it must emit b-1 star pairs to the min id instead,
    preserving connectivity (one component) with linear pair count.
    Buckets under the cap must be untouched (exact equality with the
    unguarded pairs)."""
    from flink_rtcef_spark.operators.dedup import connected_components

    # 30 copies of one text (mega bucket) + 2 copies of another (small)
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(30)]
    rows += [(100, "one two three four five six seven eight"),
             (101, "one two three four five six seven eight")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df, n_hashes=8, shingle_n=3)

    exact = lsh_candidate_pairs(sigs, n_hashes=8, bands=4).toPandas()
    star = lsh_candidate_pairs(
        sigs, n_hashes=8, bands=4, max_bucket=10
    ).toPandas()

    # mega cluster: quadratic 435 pairs exact, 29 star pairs to min id 0
    mega_exact = exact[(exact.id_a < 100) & (exact.id_b < 100)]
    mega_star = star[(star.id_a < 100) & (star.id_b < 100)]
    assert len(mega_exact) == 435
    assert len(mega_star) == 29
    assert set(mega_star.id_a) == {0}
    # small bucket unaffected: identical pair set
    small_exact = set(map(tuple, exact[exact.id_a >= 100].values))
    small_star = set(map(tuple, star[star.id_a >= 100].values))
    assert small_exact == small_star == {(100, 101)}
    # connectivity preserved: all 30 mega docs in one component
    cc = connected_components(
        spark.createDataFrame(
            star[["id_a", "id_b"]], "id_a long, id_b long"
        )
    ).toPandas()
    assert set(cc[cc.component == 0].id) == set(range(30))

    with pytest.raises(ValueError, match="max_bucket"):
        lsh_candidate_pairs(sigs, n_hashes=8, bands=4, max_bucket=1)


def test_jaccard_verify_pairs_first_matches_full_scan(spark, doc_df):
    """The pairs-first plan must produce exactly the full-scan scores
    restricted to the candidate set (identical n_common semantics)."""
    from flink_rtcef_spark.operators.dedup import jaccard_verify

    sigs = minhash_signatures(doc_df, n_hashes=8)
    cands = lsh_candidate_pairs(sigs, n_hashes=8, bands=4)
    via_pairs = jaccard_verify(doc_df, cands, threshold=0.1).toPandas()
    full = jaccard_verify(doc_df, None, threshold=0.1).toPandas()
    cand_set = {(r.id_a, r.id_b) for r in cands.collect()}
    full_restricted = full[
        full.apply(lambda r: (r.id_a, r.id_b) in cand_set, axis=1)
    ]
    a = via_pairs.sort_values(["id_a", "id_b"]).reset_index(drop=True)
    b = full_restricted.sort_values(["id_a", "id_b"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_jaccard_verify_pairs_plan_has_no_shingle_self_join(spark, doc_df):
    """Plan-shape guard: with candidates supplied, the physical plan
    must not contain the shingle-equality self-join (the posting-list
    blowup the LSH tier exists to avoid)."""
    from flink_rtcef_spark.operators.dedup import jaccard_verify

    sigs = minhash_signatures(doc_df, n_hashes=8)
    cands = lsh_candidate_pairs(sigs, n_hashes=8, bands=4)
    plan = jaccard_verify(doc_df, cands, threshold=0.5)._jdf.queryExecution().optimizedPlan().toString()
    import re

    # pairs-first: joins keyed on id_a / (id_b, sh); a sh=sh equi-join
    # with id<id appears only in the full-scan path
    self_join = re.search(r"Join .*\bsh#\d+ = sh#\d+.*<", plan)
    assert self_join is None, f"posting-list self-join found:\n{plan}"


def test_connected_components_deep_chain_logarithmic(spark):
    """A 400-deep path graph: diameter-bound min-label propagation
    would need 400 rounds; the large-star/small-star algorithm must
    close it within the default 25 (O(log n)) — all nodes land in
    component 0."""
    from flink_rtcef_spark.operators.dedup import connected_components

    n = 400
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert len(got) == n + 1
    assert set(got.values()) == {0}


def test_ann_ivfpq_recall_and_pruned_scan(spark, planted_embeddings, tmp_path):
    """The composed index: recall holds through BOTH approximations
    (coarse cells + PQ codes), the probed fraction shrinks, and the
    hive-partitioned code table turns the probe into directory-level
    partition pruning."""
    from flink_rtcef_spark.operators.similarity import IVFPQIndex
    from flink_rtcef_spark.sources.bucketing import (
        scan_is_partition_pruned,
        write_partitioned,
    )

    df, qvec = planted_embeddings
    exact = set(cosine_topk(df, qvec, k=10).toPandas().vec_id)
    idx = IVFPQIndex(n_cells=8, m=8, k=16, n_iter=6).fit(df)
    encoded = idx.encode(df).cache()
    assert set(encoded.columns) == {"vec_id", "cell", "pq_codes"}

    approx = set(idx.ann_topk(encoded, qvec, kk=10, n_probe=4).toPandas().vec_id)
    assert len(exact & approx) / 10 >= 0.8
    probed_cells = idx.ivf.query_cells(qvec, 4)
    probed = encoded.filter(F.col("cell").isin(probed_cells)).count()
    assert probed < df.count()

    out = str(tmp_path / "ivfpq")
    write_partitioned(encoded, out, "cell")
    back = spark.read.parquet(out)
    pruned = back.filter(F.col("cell").isin([int(c) for c in probed_cells]))
    assert scan_is_partition_pruned(pruned)
    approx2 = set(
        idx.pq.ann_topk(pruned, qvec, kk=10).toPandas().vec_id
    )
    assert approx2 == approx  # the pruned read serves identical results
    encoded.unpersist()


def test_pagerank_asof_enrich_plan_shape(spark):
    """r8 verdict #5: the composed chain's per-snapshot lineage cut is
    load-bearing — without it the as-of subtree inlines THREE iterative
    pagerank plans and the audit read 91 Exchanges / 31 BNLJ
    (docs/r8-notes.md §8).  That failure mode was only prevented by
    code structure; gate the physical plan so a regression is loud.
    The expected shape (docs/PLAN_AUDIT.md §composed) is 1 Exchange /
    1 Sort / 1 Window / 0 BNLJ; the bound leaves slack of one Exchange
    for Spark-version plan drift."""
    import re

    from flink_rtcef_spark.queries.pipeline import pagerank_asof_enrich
    from tests.conftest import SF_SMOKE

    df = pagerank_asof_enrich(spark, SF_SMOKE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    n_bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan))
    assert n_bnlj == 0, f"composed plan has {n_bnlj} BNLJ nodes"
    assert 1 <= n_ex <= 2, f"composed plan has {n_ex} Exchanges (want 1)"


def test_pagerank_asof_enrich_snapshot_semantics(spark):
    """The composed curation-chain query (queries/pipeline.py COMPOSED):
    every document joins the LATEST pagerank snapshot at-or-before its
    crawl day (snapshots at days 5/15/25 over GROWING edge subsets —
    a host can be absent from early snapshots, and the day-25 snapshot
    covers every host), docs before the first snapshot keep NULL rank,
    and row count is exactly |docs| (as-of never fans out)."""
    from flink_rtcef_spark.queries.pipeline import pagerank_asof_enrich
    from flink_rtcef_spark.sources.io import load_table
    from tests.conftest import SF_SMOKE

    out = pagerank_asof_enrich(spark, SF_SMOKE).toPandas()
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert len(out) == n_docs

    ranked = out[out["host_rank"].notna()]
    assert len(ranked) > 0.6 * n_docs
    # the matched snapshot day is always the latest one <= crawl_day:
    # the subsets grow (day-5 hosts are a subset of day-15's, etc.),
    # so a non-null match in a bracket must come from that bracket's
    # own snapshot, never an older one
    for lo, hi in ((5, 15), (15, 25), (25, 31)):
        seg = ranked[(ranked["crawl_day"] >= lo) & (ranked["crawl_day"] < hi)]
        assert len(seg) > 0
        assert (seg["snap_day_right"] == lo).all(), (lo, hi)
    # before the first snapshot: always NULL
    early = out[out["crawl_day"] < 5]
    assert early["host_rank"].isna().all()
    # the day-25 snapshot is the FULL graph, so every doc crawled at or
    # after day 25 must be ranked
    late = out[out["crawl_day"] >= 25]
    assert late["host_rank"].notna().all()


def test_pagerank_asof_enrich_threading_invariant(spark):
    """r9 verdict #6: the 3-thread snapshot overlap (guide §2.6) is
    only safe because every chain is deterministic and terminates in an
    eager checkpoint; pin that argument as a test so a future chain
    that gains order-dependent state fails loudly instead of silently.
    Byte-for-byte equality of the sorted output with max_workers=1 vs 3
    (sf0.01, the oracle scale)."""
    import hashlib

    from flink_rtcef_spark.queries.pipeline import pagerank_asof_enrich
    from tests.conftest import SF_ORACLE

    def digest(workers: int) -> str:
        pdf = (
            pagerank_asof_enrich(spark, SF_ORACLE, max_workers=workers)
            .toPandas()
            .sort_values(["doc_id"])
            .reset_index(drop=True)
        )
        return hashlib.md5(
            pdf.to_csv(index=False).encode("utf-8")
        ).hexdigest()

    assert digest(1) == digest(3)


def test_jaccard_hot_shingle_guard(spark):
    """r9 verdict #2: the pairs=None posting-list path must not hold a
    hot shingle's whole posting list in ONE array row.  ``hot_df``
    routes shingles hotter than the bound through a streaming
    sort-merge self-join instead — a purely physical split, so the
    scored pair set must be IDENTICAL for any bound.  Fixture: one
    boilerplate shingle shared by 120 docs (df far above the test
    bound) plus per-doc unique filler."""
    from flink_rtcef_spark.operators.dedup import jaccard_verify

    rows = [
        (i, f"common boiler plate u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f")
        for i in range(120)
    ]
    # a handful of true near-dups: same filler, one token changed
    rows += [
        (1000 + i, f"common boiler plate u{i}a u{i}b u{i}c u{i}d u{i}e zz")
        for i in range(5)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def scored(hot_df: int):
        return sorted(
            jaccard_verify(
                docs, None, threshold=0.2, hot_df=hot_df
            ).collect()
        )

    guarded = scored(8)  # boilerplate shingle (df=125) takes the join
    unguarded = scored(10**9)  # everything through the posting arrays
    assert guarded == unguarded
    assert len(guarded) >= 5  # the near-dup pairs actually scored
