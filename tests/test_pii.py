"""PII scan/redaction and Gopher repetition signals (operators/pii.py,
operators/text.repetition_signals) — crafted rows with known answers."""

from __future__ import annotations

from flink_rtcef_spark.operators.pii import pii_scan
from flink_rtcef_spark.operators.text import (
    dup_line_signals,
    repetition_signals,
)

DOCS = [
    (1, "reach me at jane.doe+spam@mail.example.org or 555-123-4567 today"),
    (2, "server 192.168.1.250 and 10.0.0.1 rebooted"),
    (3, "ssn is 123-45-6789 repeat 123-45-6789"),
    (4, "no personal data here at all"),
    (5, "dotted phone 555.123.4567 mixed 555-123.4567"),
]


def _scan(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    return {r["doc_id"]: r for r in pii_scan(df).collect()}


def test_pii_counts(spark):
    rows = _scan(spark)
    assert (rows[1]["n_email"], rows[1]["n_phone"]) == (1, 1)
    assert rows[2]["n_ipv4"] == 2
    assert rows[3]["n_ssn"] == 2
    assert rows[4]["n_pii"] == 0
    # both separators and the mixed form match the phone pattern
    assert rows[5]["n_phone"] == 2
    assert rows[5]["n_pii"] == 2


def test_pii_redaction_text(spark):
    rows = _scan(spark)
    assert rows[1]["redacted"] == "reach me at [EMAIL] or [PHONE] today"
    assert rows[2]["redacted"] == "server [IP] and [IP] rebooted"
    assert rows[3]["redacted"] == "ssn is [SSN] repeat [SSN]"
    assert rows[4]["redacted"] == DOCS[3][1]


def test_repetition_signals_known_values(spark):
    # doc 1: "a b a b a b" -> top 2-gram "a b" x3, len 3, text len 11
    #        3-grams: "a b a" x2, "b a b" x2 -> dup = (1*5 + 1*5)/11
    # doc 2: all-distinct tokens -> top 2-gram count 1, dup 0
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "q w e r t y")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert rows[1]["top_2gram"] == "a b"
    assert abs(rows[1]["top_2gram_char_frac"] - 3 * 3 / 11) < 1e-6
    assert abs(rows[1]["dup_3gram_char_frac"] - 10 / 11) < 1e-6
    assert abs(rows[2]["top_2gram_char_frac"] - 3 / 11) < 1e-6
    assert rows[2]["dup_3gram_char_frac"] == 0.0


def test_repetition_signals_short_doc(spark):
    # fewer tokens than n: empty gram arrays -> zero fractions, not a crash
    df = spark.createDataFrame([(1, "one"), (2, "")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    for r in rows.values():
        assert r["top_2gram"] == ""
        assert r["top_2gram_char_frac"] == 0.0
        assert r["dup_3gram_char_frac"] == 0.0


def test_repetition_tiebreak_deterministic(spark):
    # two grams with equal count and length: the lexicographically
    # larger one wins (the documented (c, glen, gram) desc order)
    df = spark.createDataFrame([(1, "x y x y z w z w")], "doc_id long, text string")
    row = repetition_signals(df).collect()[0]
    assert row["top_2gram"] == "z w"


def test_dup_line_signals(spark):
    text = "menu\nbody text here\nmenu\nfooter"
    df = spark.createDataFrame([(1, text), (2, "a\nb")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in dup_line_signals(df).collect()}
    # 4 lines, 3 distinct -> dup_line_frac 1/4; dup chars = len("menu")=4
    # of total 4+14+4+6=28
    assert abs(rows[1]["dup_line_frac"] - 0.25) < 1e-6
    assert abs(rows[1]["dup_line_char_frac"] - 4 / 28) < 1e-6
    assert rows[2]["dup_line_frac"] == 0.0


def test_pii_scan_plan_is_map_only(spark):
    # the whole scan must stay a single projection: no Exchange in the plan
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    plan = pii_scan(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
