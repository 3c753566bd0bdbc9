"""Single-pass multi-pattern CEP.

The reference feeds every event to ALL loaded FSMs
(ERFEngine.scala:204); a naive Spark mapping runs one operator per
pattern = N scans + N shuffles of the same stream.  This operator runs
all patterns in ONE pass: each pattern contributes its own (small int)
symbol column, the stream shuffles once on the shared partition key,
and the per-key walk advances all N automata together, emitting
detections tagged with pattern_id.

Constraint: patterns must share the partition key (the reference's
engine has the same constraint per job — keyBy happens once).
"""

from __future__ import annotations

import pickle

from flink_rtcef_spark.operators.cep import (
    _DET_FIELDS,
    KernelOperator,
    _KernelSpec,
    _out_schema,
    _SdfaSpec,
)
from flink_rtcef_spark.plans.compiler import CompiledPattern

MULTI_OUTPUT_SCHEMA = (
    "pattern_id int, key string, detection_event_id long, detection_ts long, "
    "counter long, min_counter long, n_matched int"
)


class _MultiSpec(_KernelSpec):
    """Every pattern of a set over one key walk: each pattern
    contributes its own JVM symbol column, and one ``_SdfaSpec`` per
    pattern advances over it; the carry vector (one quintuple per
    pattern) is pickled into one binary state column.  Output rows are
    (pattern_id, *detection)."""

    out = _out_schema(
        [("pattern_id", "int"), *_DET_FIELDS], [("carries", "binary")],
        MULTI_OUTPUT_SCHEMA,
    )

    def __init__(self, compiled_list):
        if not compiled_list:
            raise ValueError("need at least one pattern")
        self.patterns = tuple(compiled_list)
        self.specs = [_SdfaSpec(c) for c in compiled_list]
        keys = {c.partition_by for c in compiled_list if c.partition_by}
        # patterns that disagree on partitionBy need an explicit key_col
        self.key = keys.pop() if len(keys) == 1 else None
        self.event_cols = [
            "key", "ts", "event_id", *(f"symbol{p}" for p in range(len(self.specs)))
        ]

    def columns(self) -> list:
        return [
            s.compiled.symbol_column().alias(f"symbol{p}")
            for p, s in enumerate(self.specs)
        ]

    @staticmethod
    def load(blob):
        return pickle.loads(blob)

    def step(self, cols, seg, carry):
        carry = carry or [None] * len(self.specs)
        out = []
        for p, spec in enumerate(self.specs):
            rows, carry[p] = spec.step(
                {**cols, "symbol": cols[f"symbol{p}"]}, seg, carry[p]
            )
            out.extend((p, *r) for r in rows)
        return out, carry

    @staticmethod
    def dump(carry):
        return (pickle.dumps(carry),)


class MultiPatternCEP(KernelOperator):
    """``detections`` gives (pattern_id, key, detection_event_id,
    detection_ts, counter, min_counter, n_matched) — all patterns, one
    scan, one shuffle."""

    def __init__(
        self,
        compiled: list[CompiledPattern],
        key_col: str | None = None,
        ts_col: str = "timestamp",
        id_col: str = "id",
    ):
        super().__init__(_MultiSpec(compiled), key_col, ts_col, id_col)
        self.compiled = compiled
