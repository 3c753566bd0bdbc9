"""Oracle checks for queries rotated OUT of the 50-slot driver registry
(r3: slots given to unigram_perplexity / bm25_topk / dedup_paragraphs /
semantic_dedup; r4: hist_quantiles_value / decontam_bloom_hits; r7:
the registry was curated back DOWN to exactly 50 after r6 grew it to
54 and the driver silently stopped checking the last 4 insertions).

The driver cap is 50 entries; every retired query keeps the same
Spark-vs-DuckDB hash gate here AT THE DRIVER'S SCALE (sf0.01, not the
suite's usual sf0.001) so deregistration never means unverified, and
``test_registry_holds_driver_cap`` fails the suite if the registry
ever changes from the curated 50.  ``RETIRED`` is the one table of the
retirees: the sf0.001 oracle sweep and the nested-loop-join plan gate
walk it next to the registry."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import duckdb
import pytest

from flink_rtcef_spark import queries as q
from flink_rtcef_spark.queries import cep_queries, pipeline, relational
from flink_rtcef_spark.sources.io import TABLES
from tests.conftest import SF_ORACLE

from tools.check_oracle import compare

q.load_all()

# The driver's CORRECTNESS check covers at most this many registry
# entries (observed r6: registry 54, CORRECTNESS_r06.json rows 50 —
# insertion order, last 4 dropped; r9 and r10 registered 63 and still
# showed 50 rows).
#
# DRIVER_CAP is an OBSERVED constant, not a published one.  If the
# driver ever raises its window, this repo would self-limit needlessly
# — re-measure it by growing a scratch registry past 50 in a sandbox
# (register N>50 trivially distinct @query entries in a throwaway
# branch) and counting the rows in the next round's
# CORRECTNESS_r{N}.json; if more than 50 entries are checked, raise
# this constant and promote retired queries back, and note the new
# observed cap in that round's docs/r{N}-notes.md.
DRIVER_CAP = 50

ROOT = Path(__file__).resolve().parent.parent

#: the driver-checked registry, in insertion order
CURATED = [
    "pricing_summary", "tumbling_window_agg", "confusion_metrics",
    "interval_join_eval", "broadcast_join_enrich", "rollup_revenue",
    "topk_per_group", "ngram_counts", "geofence_within", "bitstring_decode",
    "json_extract_props", "semi_anti_join", "fmm_transition_mle",
    "sessionize", "asof_prior_click", "range_join_purchase_clicks",
    "interval_overlap_orders", "sliding_window_agg",
    "cep_seq_contiguous_sql", "cep_nonoverlap_sql", "cep_register_gtattr",
    "cep_sdfa_detect", "dedup_exact", "langid_heuristic", "text_quality",
    "minhash_signatures", "ngram_jaccard_dedup", "embedding_near_dup",
    "embedding_near_dup_lsh", "token_counts_bpe", "ann_lsh_topk",
    "ann_ivf_topk", "multimodal_features", "cosine_topk",
    "dedup_components", "sample_stratified", "pack_sequences_2k",
    "corpus_curation", "chunk_documents_50_30", "decontam_hits",
    "pii_redaction", "repetition_signals", "unigram_perplexity",
    "bm25_topk", "dedup_paragraphs", "semantic_dedup", "domain_pagerank",
    "hll_distinct_texts", "hist_quantiles_value", "decontam_bloom_hits",
]


def test_registry_holds_driver_cap():
    """The registry is exactly the curated 50, in order: a new @query
    would land beyond the driver cap and silently lose the per-round
    hard correctness signal — retire one into this module instead."""
    assert len(CURATED) == DRIVER_CAP
    assert list(q.QUERIES) == CURATED


def test_registry_order_does_not_depend_on_import_order():
    """A process that imports query modules by name before ``load_all``
    (here in the reverse of the registry's order) still gets the curated
    order, in ``QUERIES`` and in ``ORACLES``."""
    code = (
        "import json\n"
        "from flink_rtcef_spark.queries import pipeline, cep_queries\n"
        "from flink_rtcef_spark import queries as q\n"
        "q.load_all()\n"
        "print(json.dumps([list(q.QUERIES), list(q.ORACLES)]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True
    )
    names, oracles = json.loads(out.stdout.splitlines()[-1])
    assert names == CURATED
    assert oracles == [n for n in CURATED if n in q.ORACLES]


TIME_BUCKETING_SQL = """
    SELECT (epoch_ms(ts) // 86400000) * 86400 AS bucket_id,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1
"""

UNION_ASSEMBLY_SQL = """
    WITH assembled AS (
      SELECT * FROM events WHERE epoch_ms(ts) // 86400000 = 19723
      UNION ALL
      SELECT * FROM events WHERE epoch_ms(ts) // 86400000 = 19724
    )
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM assembled GROUP BY event_type
"""

PIVOT_EVENT_COUNTS_SQL = """
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
    FROM events GROUP BY user_id
"""

LAG_DELTA_SQL = """
    SELECT user_id, event_id,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_events,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cum_value,
           COALESCE(LAG(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id), -1) AS prev_event_id
    FROM events
"""

#: (name, fn, oracle) of every retired query, in retirement order:
#: r3 relational, then pipeline/cep, the composed chain last.
#: ``pagerank_asof_enrich`` (iterative PageRank feeding an as-of join)
#: is not SQL-expressible: it has no oracle here; its plan-shape,
#: snapshot-semantics and threading gates live in
#: tests/test_pipeline_ops.py.
RETIRED = [
    ("time_bucketing", relational.time_bucketing, TIME_BUCKETING_SQL),
    ("union_assembly", relational.union_assembly, UNION_ASSEMBLY_SQL),
    ("pivot_event_counts", relational.pivot_event_counts, PIVOT_EVENT_COUNTS_SQL),
    ("lag_delta_reports", relational.lag_delta_reports, LAG_DELTA_SQL),
    ("sample_topk_group", pipeline.sample_topk_group, pipeline._TOPK_GROUP_SQL),
    (
        "embedding_dup_clusters",
        pipeline.embedding_dup_clusters,
        pipeline._EMB_COMPONENTS_SQL,
    ),
    ("simhash_16", pipeline.simhash_16, pipeline._SIMHASH_SQL),
    ("doc_fingerprint", pipeline.doc_fingerprint, pipeline._DOC_FINGERPRINT_SQL),
    ("cep_presplit_detect", cep_queries.cep_presplit_detect, cep_queries._SEQ_SQL),
    ("lsh_candidate_pairs", pipeline.lsh_candidate_pairs, pipeline._lsh_oracle()),
    ("ann_pq_topk", pipeline.ann_pq_topk, pipeline._pq_oracle_sql()),
    (
        "sample_token_budget",
        pipeline.sample_token_budget,
        pipeline._TOKEN_BUDGET_SQL,
    ),
    ("pagerank_asof_enrich", pipeline.pagerank_asof_enrich, None),
]
_GATES = {name: (fn, sql) for name, fn, sql in RETIRED}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    return con


def _check(spark, duck, name):
    fn, sql = _GATES[name]
    sdf = fn(spark, SF_ORACLE).toPandas()
    ddf = duck.execute(sql).df()
    problems = compare(name, sdf, ddf)
    assert not problems, problems


def test_time_bucketing_oracle(spark, duck):
    _check(spark, duck, "time_bucketing")


def test_union_assembly_oracle(spark, duck):
    _check(spark, duck, "union_assembly")


def test_sample_topk_group_oracle(spark, duck):
    _check(spark, duck, "sample_topk_group")


def test_embedding_dup_clusters_oracle(spark, duck):
    _check(spark, duck, "embedding_dup_clusters")


def test_pivot_event_counts_oracle(spark, duck):
    _check(spark, duck, "pivot_event_counts")


def test_lag_delta_reports_oracle(spark, duck):
    _check(spark, duck, "lag_delta_reports")


# ---- rotated out in r4 (slots given to hist_quantiles_value /
# ---- decontam_bloom_hits) ----


def test_simhash_16_oracle(spark, duck):
    _check(spark, duck, "simhash_16")


def test_doc_fingerprint_oracle(spark, duck):
    _check(spark, duck, "doc_fingerprint")


# ---- rotated out in r7 (curating the registry back to the 50-row
# ---- driver cap so domain_pagerank / hll_distinct_texts /
# ---- hist_quantiles_value / decontam_bloom_hits re-enter the
# ---- driver-checked set) ----


def test_cep_presplit_detect_oracle(spark, duck):
    _check(spark, duck, "cep_presplit_detect")


def test_lsh_candidate_pairs_oracle(spark, duck):
    _check(spark, duck, "lsh_candidate_pairs")


def test_ann_pq_topk_oracle(spark, duck):
    _check(spark, duck, "ann_pq_topk")


def test_sample_token_budget_oracle(spark, duck):
    _check(spark, duck, "sample_token_budget")
