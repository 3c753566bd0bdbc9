"""PII detection and redaction over document text.

Beyond-reference training-data-pipeline operator (no counterpart in
rayan-insa/flink-RTCEF): before text reaches a training corpus the
pipeline must find and scrub personally identifiable strings.  All
matching runs JVM-side through ``regexp_count`` / ``regexp_replace``
(whole-stage codegen, no Python in the hot path) so a 100 TB scan is a
single map-only stage: no shuffle, no state, trivially parallel, and
the regex filters ride inside the same WholeStageCodegen span as the
parquet scan.

The patterns deliberately use only the regex subset on which Java's
engine (Spark) and RE2 (DuckDB/most scanners) agree — ``\\d``, ``\\b``,
character classes, bounded repetition — so the DuckDB oracle can verify
the operator cell-for-cell.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Pattern table: (kind, regex, replacement).  Redaction applies in this
# order; the order is part of the contract (an email is scrubbed before
# the ip pass so `user@10.0.0.1`-style strings redact deterministically).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
    ("ipv4", r"\b\d{1,3}(\.\d{1,3}){3}\b", "[IP]"),
]


def pii_count_columns(text_col: str = "text") -> list[Column]:
    """One ``n_<kind>`` int column per pattern, counted independently on
    the raw text (counts do not observe each other's redactions)."""
    return [
        F.regexp_count(F.col(text_col), F.lit(pat)).cast("int").alias(f"n_{kind}")
        for kind, pat, _ in PII_PATTERNS
    ]


def redacted_column(text_col: str = "text") -> Column:
    """Text with every pattern replaced, applied in PII_PATTERNS order."""
    out: Column = F.col(text_col)
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_scan(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document PII counts + redacted text + total.

    Map-only: the output schema is (id, n_email, n_ssn, n_phone,
    n_ipv4, n_pii, redacted) and the plan is a single projection over
    the scan — safe at any scale.
    """
    counts = pii_count_columns(text_col)
    total = None
    for c in counts:
        total = c if total is None else total + c
    return df.select(
        id_col,
        *counts,
        total.cast("int").alias("n_pii"),
        redacted_column(text_col).alias("redacted"),
    )
