"""CEP-surface queries.

``seq_contiguous_sql`` is the SQL-expressible special case of the SRE
sequence operator (SURVEY.md §2.B B1, strict contiguity): a chain of
lead() windows per partition key.  Once the real SDFA operator lands
(operators/cep.py) a second query runs the SAME pattern through the
compiled automaton with the SAME oracle — cross-validating the custom
operator against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from flink_rtcef_spark.queries import query
from flink_rtcef_spark.sources.io import load_table

# Pattern: ;(view, click, purchase) {partitionBy: user_id} — strict
# contiguity, detection at the final event (the Brest port-entry shape,
# data/pattern.sre:1, transplanted onto the events fixture).
_SEQ_SQL = """
    WITH seq AS (
      SELECT user_id, event_id, event_type, ts,
             LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next1,
             LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next2,
             LEAD(event_id, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS final_event_id
      FROM events
    )
    SELECT user_id, final_event_id AS detection_event_id
    FROM seq
    WHERE event_type = 'view' AND next1 = 'click' AND next2 = 'purchase'
"""


@query("cep_seq_contiguous_sql", oracle=_SEQ_SQL)
def cep_seq_contiguous_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("next1"),
        F.lead("event_type", 2).over(w).alias("next2"),
        F.lead("event_id", 2).over(w).alias("detection_event_id"),
    )
    return seq.filter(
        (F.col("event_type") == "view")
        & (F.col("next1") == "click")
        & (F.col("next2") == "purchase")
    ).select("user_id", "detection_event_id")


# The same pattern through the REAL engine path: SRE text -> compiler
# (parse, minterms, SNFA, SDFA) -> JVM-side symbolization Column ->
# mapInPandas SDFA run.  Same oracle as above — DuckDB cross-validates
# the custom operator end-to-end.
_SEQ_PATTERN = (
    ";(IsEventTypePredicate(view),IsEventTypePredicate(click),"
    "IsEventTypePredicate(purchase)){partitionBy:user_id}"
)
# event types are mutually exclusive on this fixture: declare it so the
# alphabet stays at 4 minterms instead of 2^3
_SEQ_DECLS = "~(IsEventTypePredicate(view),IsEventTypePredicate(click),IsEventTypePredicate(purchase))"


# NONOVERLAP count policy through the real operator: pattern
# ;(click,click) — after a full match the pair is consumed
# (SDFAUtils.getNonoverlap).  Oracle: within each maximal run of
# consecutive clicks per user, detections land at even positions.
_NONOVERLAP_SQL = """
    WITH marked AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN event_type = 'click'
                   AND LAG(event_type) OVER w = 'click' THEN 0 ELSE 1 END AS run_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
      SELECT user_id, event_id, event_type,
             SUM(run_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM marked
    ),
    positions AS (
      SELECT user_id, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id, run_id ORDER BY rn) AS pos_in_run
      FROM runs WHERE event_type = 'click'
    )
    SELECT user_id, event_id AS detection_event_id
    FROM positions WHERE pos_in_run % 2 = 0
"""


@query("cep_nonoverlap_sql", oracle=_NONOVERLAP_SQL)
def cep_nonoverlap_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_rtcef_spark.operators.cep import BatchCEP
    from flink_rtcef_spark.plans.compiler import NONOVERLAP, compile_pattern

    compiled = compile_pattern(
        ";(IsEventTypePredicate(click),IsEventTypePredicate(click)){partitionBy:user_id}",
        "~(IsEventTypePredicate(click),IsEventTypePredicate(view),"
        "IsEventTypePredicate(purchase),IsEventTypePredicate(error))",
        policy=NONOVERLAP,
    )
    ev = load_table(spark, sf_dir, "events")
    det = BatchCEP(compiled, ts_col="ts", id_col="event_id").detections(ev)
    return det.select(F.col("key").alias("user_id"), "detection_event_id")


# SREMO (register variables, B14) through the NSRA path: the first
# event is stored in register x and the adjacent click must exceed its
# value (EQAttr-family semantics, docs/lang.md:95-136).  The adjacent-
# pair special case is SQL-expressible via lag() — DuckDB cross-
# validates the nondeterministic configuration-set runtime.
_REGISTER_SQL = """
    WITH seq AS (
      SELECT user_id, event_id, event_type, value,
             LAG(event_type) OVER w AS prev_type,
             LAG(value) OVER w AS prev_value
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id AS detection_event_id
    FROM seq
    WHERE prev_type = 'view' AND event_type = 'click' AND value > prev_value
"""


@query("cep_register_gtattr", oracle=_REGISTER_SQL)
def cep_register_gtattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_rtcef_spark.operators.cep_register import RegisterCEP
    from flink_rtcef_spark.plans.nsra import compile_register_pattern

    cp = compile_register_pattern(
        ';(IsEventTypePredicate(view)["x"],^(IsEventTypePredicate(click),'
        'GTAttr(value,"x"))){partitionBy:user_id}{window:2}'
    )
    ev = load_table(spark, sf_dir, "events")
    det = RegisterCEP(cp, ts_col="ts", id_col="event_id").detections(ev)
    return det.select(F.col("key").alias("user_id"), "detection_event_id")


@query("cep_sdfa_detect", oracle=_SEQ_SQL)
def cep_sdfa_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_rtcef_spark.operators.cep import BatchCEP
    from flink_rtcef_spark.plans.compiler import compile_pattern

    compiled = compile_pattern(_SEQ_PATTERN, _SEQ_DECLS)
    ev = load_table(spark, sf_dir, "events")
    cep = BatchCEP(compiled, ts_col="ts", id_col="event_id")
    det = cep.detections(ev)
    return det.select(
        F.col("key").alias("user_id"),
        F.col("detection_event_id"),
    )


# The hot-key scale path: the SAME pattern and oracle, but each key's
# timeline sharded into week ranges with a full-shard warm-up replay
# (operators/cep_presplit.py) — one hot key spreads over many tasks
# instead of serializing inside its group.  Keys owning a shard without
# an exactness certificate are routed back through the unsharded kernel,
# so the result is exact by construction and DuckDB cross-validates the
# whole composition.
# (Registry slot retired in r7: the driver checks at most 50 entries —
# see queries/pipeline.py lsh_candidate_pairs for the r7 curation.
# The presplit path produces the SAME detections as cep_sdfa_detect by
# construction (certified shard routing); it keeps the identical
# DuckDB hash gate at the driver's sf0.01 scale in
# tests/test_retired_queries.py plus the presplit==plain pytest
# parity in tests/test_cep_presplit.py.)
def cep_presplit_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_rtcef_spark.operators.cep_presplit import (
        presplit_detections_certified,
    )
    from flink_rtcef_spark.plans.compiler import compile_pattern

    compiled = compile_pattern(_SEQ_PATTERN, _SEQ_DECLS)
    ev = load_table(spark, sf_dir, "events")
    week_ms = 7 * 24 * 3600 * 1000
    det = presplit_detections_certified(
        ev, compiled, shard_span=week_ms, warmup=week_ms,
        ts_col="ts", id_col="event_id", require="state",
    )
    return det.select(
        F.col("key").alias("user_id"),
        F.col("detection_event_id"),
    )
