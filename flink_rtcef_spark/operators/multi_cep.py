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

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_rtcef_spark.plans.compiler import CompiledPattern, transition_tables
from flink_rtcef_spark.operators.cep import (
    _run_sdfa_segment,
    key_segments,
    key_sorted,
    ts_millis,
)


class MultiPatternCEP:
    def __init__(
        self,
        compiled: list[CompiledPattern],
        key_col: str | None = None,
        ts_col: str = "timestamp",
        id_col: str = "id",
    ):
        if not compiled:
            raise ValueError("need at least one pattern")
        keys = {c.partition_by for c in compiled if c.partition_by}
        if key_col is None:
            if len(keys) != 1:
                raise ValueError(
                    f"patterns disagree on partitionBy ({keys}); pass key_col"
                )
            key_col = keys.pop()
        self.compiled = compiled
        self.key_col = key_col
        self.ts_col = ts_col
        self.id_col = id_col

    def symbolized(self, df: DataFrame) -> DataFrame:
        ts_ms = ts_millis(df, self.ts_col)
        cols = [
            F.col(self.key_col).alias("key"),
            ts_ms.alias("ts"),
            F.col(self.id_col).alias("event_id"),
        ]
        cols += [
            c.symbol_column().alias(f"symbol{p}") for p, c in enumerate(self.compiled)
        ]
        return df.select(*cols)

    def detections(self, df: DataFrame) -> DataFrame:
        """(pattern_id, key, detection_event_id, detection_ts, counter,
        min_counter, n_matched) — all patterns, one scan, one shuffle."""
        sym_df = self.symbolized(df)
        tables = [transition_tables(c.sdfa) for c in self.compiled]
        windows = [(c.window, c.window_type) for c in self.compiled]
        resets = [c.reset_symbols() for c in self.compiled]
        n_pat = len(self.compiled)
        key_type = dict(df.dtypes)[self.key_col]
        schema = (
            f"pattern_id int, key {key_type}, detection_event_id long, "
            "detection_ts long, counter long, min_counter long, n_matched int"
        )
        columns = [
            "pattern_id",
            "key",
            "detection_event_id",
            "detection_ts",
            "counter",
            "min_counter",
            "n_matched",
        ]

        names = ("ts", "event_id", *(f"symbol{p}" for p in range(n_pat)))

        def step(key, cols, seg, init):
            tss, ids = cols[0][seg], cols[1][seg]
            out, carries = [], []
            for p, (syms, carry) in enumerate(zip(cols[2:], init)):
                delta, take, finals = tables[p]
                window, wtype = windows[p]
                rows, carry = _run_sdfa_segment(
                    syms[seg], tss, ids, delta, take, finals, window, wtype,
                    resets[p], carry,
                )
                out.extend((p, key, *r) for r in rows)
                carries.append(carry)
            return out, carries

        def run_partition(batches):
            for segs in key_segments(batches, names, [None] * n_pat, step):
                yield pd.DataFrame(
                    [r for _, _, rows in segs for r in rows], columns=columns
                )

        return key_sorted(sym_df).mapInPandas(run_partition, schema=schema)
