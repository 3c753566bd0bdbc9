"""Physical-plan audits: the scale properties claimed in README must be
visible in the optimized plans — pushdown, column pruning, broadcast
selection, single-shuffle CEP, codegen'd symbolization."""

from __future__ import annotations

import re

import pytest

from flink_rtcef_spark import queries as q
from tests.conftest import SF_ORACLE

q.load_all()


def plan_of(spark, name: str) -> str:
    df = q.QUERIES[name](spark, SF_ORACLE)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_scan_pushdown_and_pruning(spark):
    plan = plan_of(spark, "pricing_summary")
    # filter reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # scan reads only the 7 referenced columns, not the full lineitem
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 7


def test_broadcast_join_selected(spark):
    plan = plan_of(spark, "broadcast_join_enrich")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cep_single_shuffle_and_jvm_symbolization(spark):
    plan = plan_of(spark, "cep_sdfa_detect")
    # exactly one exchange node: the hash partition on the key
    # (formatted plans list each node twice: tree + detail section)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(key" in plan
    # symbolization is a Project expression (CASE WHEN + map lookup),
    # evaluated JVM-side before the Python operator
    assert "CASE WHEN" in plan
    # fused strategy: partition-sorted MapInPandas (one Python call per
    # Arrow batch, not per key)
    assert "MapInPandas" in plan
    assert re.search(r"\(\d+\) Sort", plan)
    # scan pruned to the 4 referenced event columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 4


def test_aggregation_is_partial_then_final(spark):
    # time_bucketing left the oracle registry in r3 (slot given to
    # unigram_perplexity) but its partial-agg plan shape stays asserted
    from flink_rtcef_spark.queries.relational import time_bucketing

    df = time_bucketing(spark, SF_ORACLE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # map-side combine: partial_count/partial_sum before the exchange
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_topk_compiles_to_take_ordered(spark):
    # topk_events left the oracle registry in r3 (slot given to
    # pii_redaction) but the TakeOrdered physical shape stays asserted
    from flink_rtcef_spark.queries.relational import topk_events

    df = topk_events(spark, SF_ORACLE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "TakeOrderedAndProject" in plan


def test_pairs_first_join_for_lsh_verify(spark):
    """With LSH candidates supplied, jaccard_verify must start FROM the
    pair set and hang the two shingle sides onto it — never compute the
    inverted-index self-join and restrict afterwards.  Plan shape: only
    Inner joins (a post-hoc restriction would show as LeftSemi above the
    self-join), and the final pair aggregation keyed on (id_a, id_b)."""
    from flink_rtcef_spark.operators.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from flink_rtcef_spark.sources.io import load_table

    docs = load_table(spark, SF_ORACLE, "documents").limit(50)
    sigs = minhash_signatures(docs, n_hashes=4)
    pairs = lsh_candidate_pairs(sigs, n_hashes=4, bands=2)
    df = jaccard_verify(docs, pairs)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "LeftSemi" not in plan
    # the two shingle sides join onto the candidate set by id (+ shingle)
    assert re.search(r"Left keys \[1\]: \[id_a#\d+", plan)
    assert re.search(r"Left keys \[2\]: \[id_b#\d+L?, sh#\d+", plan)


def test_register_cep_single_shuffle_and_jvm_bits(spark):
    """The NSRA path keeps the same physical shape as the SDFA path:
    one hash exchange on the key, partition-sorted MapInPandas, the
    static-predicate bit vector computed as a JVM Project expression,
    and a scan pruned to key/ts/id/static-atoms/register-attrs."""
    plan = plan_of(spark, "cep_register_gtattr")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(key" in plan
    assert "CASE WHEN" in plan
    assert "MapInPandas" in plan
    assert re.search(r"\(\d+\) Sort", plan)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 5


def _engine_stream(spark, tmp_path, builder: str):
    """The keyed engine path's stream (streaming/inference.py) from
    ``builder`` over an empty file source, event-clock TTL on."""
    from flink_rtcef_spark.operators.cep import BatchCEP
    from flink_rtcef_spark.models.spst import train_spst
    from flink_rtcef_spark.plans.compiler import compile_pattern, compile_patterns
    from flink_rtcef_spark.plans.nsra import compile_register_pattern
    from flink_rtcef_spark.streaming import inference

    pat = ";(IsEventTypePredicate(A),IsEventTypePredicate(B)){partitionBy:k}"
    decls = "~(IsEventTypePredicate(A),IsEventTypePredicate(B))"
    schema = "k string, timestamp long, id long, event_type string, value double"
    src = tmp_path / "src"
    src.mkdir()
    stream = spark.readStream.schema(schema).parquet(str(src))
    opts = dict(ts_col="timestamp", id_col="id", state_ttl_ms=600_000)
    if builder == "detections":
        return inference.streaming_detections(
            stream, compile_pattern(pat, decls), **opts
        )
    if builder == "register":
        cp = compile_register_pattern(
            ';(IsEventTypePredicate(A)["x"],^(IsEventTypePredicate(B),'
            'GTAttr(value,"x"))){partitionBy:k}{window:2}'
        )
        return inference.streaming_register_detections(stream, cp, **opts)
    if builder == "multi":
        compiled = compile_patterns(
            f"{pat}&;(IsEventTypePredicate(B),IsEventTypePredicate(A))"
            "{partitionBy:k}",
            decls,
        )
        return inference.streaming_multi_detections(stream, compiled, **opts)
    compiled = compile_pattern(
        ";(IsEventTypePredicate(A),IsEventTypePredicate(B)){order:1}"
        "{partitionBy:k}",
        decls,
    )
    events = spark.createDataFrame(
        [("u", t, t, "AB"[t % 2], 0.0) for t in range(20)], schema
    )
    cep = BatchCEP(compiled, ts_col="timestamp", id_col="id")
    spst = train_spst(
        cep.symbolized(events), compiled, max_order=1, horizon=5, cutoff=0.0
    )
    return inference.streaming_forecasts(stream, spst, **opts)


@pytest.mark.parametrize(
    "builder", ["detections", "register", "multi", "forecasts"]
)
def test_engine_path_one_stateful_operator_and_jvm_symbolization(
    spark, tmp_path, builder
):
    """Every engine-path builder plans as ONE
    FlatMapGroupsInPandasWithState over ONE hash exchange on the key,
    with no Python eval node below it: symbolization (the symbol or
    bits columns) stays a JVM Project expression."""
    df = _engine_stream(spark, tmp_path, builder)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandasWithState", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(key" in plan
    assert "EvalPython" not in plan
    assert "CASE WHEN" in plan


def test_curation_is_single_pass(spark):
    """The composed curation chain must stay one scan + two exchanges
    (doc aggregation, content-hash window); the groupBy+semi-join
    formulation of canonical-copy selection would scan the quality
    subtree twice."""
    plan = plan_of(spark, "corpus_curation")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2


def test_bm25_minimal_scans_and_broadcast(spark):
    """BM25 must scan the corpus at most twice (stats + persisted tf)
    and join the small sides broadcast, never sort-merge."""
    plan = plan_of(spark, "bm25_topk")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 2
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k is a heap, not a sort


def test_perplexity_fits_model_once(spark):
    """The unigram model subtree must be materialized once, not
    recomputed per consumer — at 100 TB recomputation is an extra
    corpus scan.  r9: the materialization is a lazy localCheckpoint
    (Scan ExistingRDD), not a persist (InMemoryTableScan) — persist's
    CacheManager entry outlived the invocation and plan-dedup silently
    reused it across repeated runs; accept either as evidence."""
    plan = plan_of(spark, "unigram_perplexity")
    assert "InMemoryTableScan" in plan or "Scan ExistingRDD" in plan
    # r10 (r9 ADVICE): the bound is the PROOF — with the model
    # checkpointed the fit subtree leaves the final plan entirely, so
    # only the scoring scan + the id-only (pruned) restore scan remain.
    # <= 2 actually fails if the model regresses to per-consumer
    # recomputation (that shape re-adds the fit scan -> 3 parquet
    # scans); the former <= 3 tolerated exactly the regression this
    # gate exists to catch.
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 2


def test_paragraph_dedup_window_is_rank_limited(spark):
    """The keep-first decision must compile to WindowGroupLimit (rank<=1
    pushed below the shuffle) over the 3-column key frame."""
    plan = plan_of(spark, "dedup_paragraphs")
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan


def test_semantic_dedup_single_shuffle(spark):
    """SemDeDup: map-side centroid assignment (ArrowEvalPython before
    any exchange), one exchange on the cluster key, per-cluster GEMM."""
    plan = plan_of(spark, "semantic_dedup")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "FlatMapGroupsInPandas" in plan


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_hll_registers_plan_partial_agg_single_exchange(spark):
    """The HLL map stage must combine map-side (partial_max) and move
    only register rows through ONE Exchange; the scan prunes to the
    value+group columns."""
    from flink_rtcef_spark.operators.sketch import hll_registers

    df = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    plan = _explain(hll_registers(df, "text", ["lang"]))
    assert "partial_max" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and sorted(c.split(":")[0] for c in m.group(1).split(",")) == [
        "lang", "text",
    ]


def test_cms_build_plan_partial_agg_single_exchange(spark):
    from flink_rtcef_spark.operators.sketch import cms_build

    df = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    plan = _explain(cms_build(df, "text"))
    assert "partial_sum" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_hash_split_plan_is_map_only(spark):
    """Split assignment is a pure Project over the scan: no Exchange,
    no Python, inside WholeStageCodegen."""
    from flink_rtcef_spark.operators.splits import hash_split

    df = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _explain(hash_split(df))
    assert not re.findall(r"\(\d+\) \w*Exchange", plan)
    assert "Python" not in plan
    assert "codegen id" in plan  # rides in a WholeStageCodegen span


def test_kmv_prefilter_cuts_rows_before_exchange(spark):
    """Large domain -> the hash < threshold prefilter must appear in
    the scan-side stage (before the distinct Exchange), so the shuffle
    carries O(k) rows, and the top-k must be TakeOrdered (no global
    sort)."""
    import pyspark.sql.functions as F

    from flink_rtcef_spark.functions.scalar import portable_hash64
    from flink_rtcef_spark.operators.sketch import _kmv_prefiltered

    df = spark.range(200000).select(F.col("id").cast("string").alias("v"))
    hashed = df.select(portable_hash64(F.col("v")).alias("h"))
    plan = _explain(_kmv_prefiltered(hashed, est=200000.0, k=128))
    import re as _re

    m = _re.search(r"Filter \[?.*?\(h#\d+L? < (\d+)\)", plan) or _re.search(
        r"\(conv.*?< (\d+)\)", plan, _re.S
    )
    assert m, plan  # the threshold literal made it into a Filter
    assert int(m.group(1)) < (1 << 60) // 100  # threshold ~ 4k/est, tiny
    assert "TakeOrderedAndProject" in plan


def test_no_nested_loop_joins_sneak_into_registry(spark):
    """Every driver query's physical plan is free of
    BroadcastNestedLoopJoin, except the three known single-row
    constant broadcasts (query vector / corpus stats) where the build
    side is 1 row by construction.  A new name appearing here means an
    all-pairs plan regressed into the registry."""
    allowed = {"cosine_topk", "unigram_perplexity", "bm25_topk"}
    offenders = {}
    for name, fn in q.QUERIES.items():
        df = fn(spark, SF_ORACLE)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        n = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan))
        if n:
            offenders[name] = n
    assert set(offenders) <= allowed, offenders


def test_forecast_confusion_single_python_pass(spark):
    """ForecastCEP.confusion scores inside the forecast kernel: one
    hash shuffle on the key, ONE MapInPandas after it, and no join — a
    regression to forecasts -> evaluate_forecasts (two Python passes of
    the same kernel plus a range self-join) fails here."""
    from tests.test_forecast import _ab_forecaster, _ab_stream

    df = _ab_stream(spark)
    cf = _ab_forecaster(df)._confusion_frame(df)
    plan = cf._sc._jvm.PythonSQLUtils.explainString(
        cf._jdf.queryExecution(), "formatted"
    )
    # formatted plans number nodes bottom-up; the detail section lists
    # each node once as "(n) Name"
    maps = re.findall(r"^\((\d+)\) MapInPandas", plan, re.M)
    assert len(maps) == 1
    key_exchanges = re.findall(
        r"^\((\d+)\) Exchange\n[^\n]*\nArguments: hashpartitioning\(key", plan, re.M
    )
    assert len(key_exchanges) == 1
    assert int(key_exchanges[0]) < int(maps[0])
    assert "Join" not in plan


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_prepare_is_one_key_shuffle(spark, monkeypatch):
    """ModelFactory.prepare materializes ONE hash shuffle on the key
    (symbolize -> repartition -> sortWithinPartitions), once per
    session: the plan it checkpoints is captured at the checkpoint."""
    from tests.test_forecast import _ab_forecaster, _ab_stream
    from flink_rtcef_spark.streaming.factory import ModelFactory

    df = _ab_stream(spark)
    fcep = _ab_forecaster(df)
    factory = ModelFactory(fcep.compiled, key_col="k", ts_col="timestamp", id_col="id")
    plans = []
    cls = type(df)
    checkpoint = cls.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(_formatted(self))
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", recording)
    with factory.prepare(df):
        pass
    [plan] = plans
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert len(re.findall(
        r"^\(\d+\) Exchange\n[^\n]*\nArguments: hashpartitioning\(key", plan, re.M
    )) == 1
    assert "MapInPandas" not in plan


def test_prepared_score_pass_has_no_exchange(spark):
    """Scoring on a prepared training set reuses its key shuffle: ONE
    MapInPandas straight over the materialized frame, no Exchange, and
    on AQE's coalesced partitions (a persist() of the shuffle would
    keep all spark.sql.shuffle.partitions of them)."""
    from tests.test_forecast import _ab_forecaster, _ab_stream
    from flink_rtcef_spark.streaming.factory import ModelFactory

    df = _ab_stream(spark)
    fcep = _ab_forecaster(df)
    factory = ModelFactory(fcep.compiled, key_col="k", ts_col="timestamp", id_col="id")
    with factory.prepare(df) as data:
        plan = _formatted(fcep._partition_counts(data.frame))
        assert data.frame.rdd.getNumPartitions() == 1
    assert len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M)) == 1
    assert "Exchange" not in plan
    assert "Join" not in plan
