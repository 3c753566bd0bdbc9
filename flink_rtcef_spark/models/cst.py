"""Counter Suffix Tree: n-gram context counts.

Matches model/vmm/pst/CounterSuffixTree.scala semantics:
- words are MOST-RECENT-FIRST symbol tuples (w[0] is the newest);
- inserting the per-position word of the last (maxOrder+1) symbols
  increments every prefix node on its path, so the count of node w
  equals the number of stream positions whose last |w| symbols reversed
  equal w (CSTLearner.scala:34-84 feeding updateWithNewWord:187-210);
- P(word) = count(word) / (n - |word| + 1)                      (:213)
- P(sigma | ctx) = count(sigma::ctx) / count(ctx)               (:223)
- dist(ctx) = counts of sigma::ctx normalized by their sum      (:242)

The distributed builder computes exactly those counts with lag windows
+ explode + groupBy — a plain shuffle-once aggregation that scales to
arbitrary streams; its driver twin (``cst_counts_pandas``) counts a
collected key-sorted frame with numpy.  The tree itself is assembled
driver-side from the count table (bounded by observed contexts, not by
alphabet^order).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


@dataclass
class CounterSuffixTree:
    counter: int = 0
    children: dict[int, "CounterSuffixTree"] = field(default_factory=dict)

    # ----------------------------------------------------------- building
    def update_with_word(self, word: tuple[int, ...]) -> None:
        node = self
        node.counter += 1
        for sym in word:
            child = node.children.get(sym)
            if child is None:
                child = CounterSuffixTree()
                node.children[sym] = child
            child.counter += 1
            node = child

    @classmethod
    def from_sequence(cls, seq: list[int], max_order: int) -> "CounterSuffixTree":
        """Driver-side reference implementation (tests/golden streams):
        one word per position, most-recent-first, length <= maxOrder+1."""
        cst = cls()
        for t in range(len(seq)):
            lo = max(0, t - max_order)
            word = tuple(reversed(seq[lo : t + 1]))
            cst.update_with_word(word)
        return cst

    @classmethod
    def from_counts(cls, counts: dict[tuple[int, ...], int], total: int) -> "CounterSuffixTree":
        """Assemble from a distributed count table {word -> count}; the
        root counter is the total number of positions."""
        cst = cls(counter=total)
        for word, cnt in counts.items():
            node = cst
            for sym in word:
                node = node.children.setdefault(sym, CounterSuffixTree())
            node.counter += cnt
        # children were created with 0; fill intermediate nodes that the
        # count table already covers (every prefix is present in counts,
        # so only nodes never seen keep 0)
        return cst

    # ------------------------------------------------------------ queries
    def node(self, word: tuple[int, ...]) -> "CounterSuffixTree | None":
        n = self
        for sym in word:
            n = n.children.get(sym)
            if n is None:
                return None
        return n

    def count(self, word: tuple[int, ...]) -> int:
        n = self.node(word)
        return 0 if n is None else n.counter

    def prob(self, word: tuple[int, ...]) -> float:
        denom = self.counter - len(word) + 1
        return self.count(word) / denom if denom > 0 else 0.0

    def cond_prob(self, sigma: int, context: tuple[int, ...]) -> float:
        ctx = self.count(context)
        if ctx == 0:
            return 0.0
        return self.count((sigma, *context)) / ctx

    def symbol_distribution(
        self, context: tuple[int, ...], symbols: list[int]
    ) -> dict[int, float]:
        counts = {s: self.count((s, *context)) for s in symbols}
        total = sum(counts.values())
        if total == 0:
            return {s: 0.0 for s in symbols}
        return {s: c / total for s, c in counts.items()}

    def symbols(self) -> list[int]:
        return sorted(self.children.keys())


def cst_counts_spark(
    sym_df: DataFrame,
    max_order: int,
    key_col: str = "key",
    ts_col: str = "ts",
    id_col: str = "event_id",
    sym_col: str = "symbol",
    total: int | None = None,
) -> tuple[dict[tuple[int, ...], int], int]:
    """Distributed context counting (E2+E3): per-key ordered lag columns
    give each position its word of the last k symbols (k=1..maxOrder+1,
    most-recent-first); one explode + groupBy counts every context.
    ``total`` is ``sym_df``'s row count when the caller already has it
    (otherwise one more job counts it).

    Scale shape: one shuffle for the per-key window sort, one for the
    count aggregation; output size is bounded by distinct observed
    contexts.  Words never cross key boundaries (per-partition buffers,
    BufferBank semantics)."""
    w = W.partitionBy(key_col).orderBy(ts_col, id_col)
    lags = [F.col(sym_col).cast("int").alias("s0")] + [
        F.lag(F.col(sym_col).cast("int"), i).over(w).alias(f"s{i}")
        for i in range(1, max_order + 1)
    ]
    df = sym_df.select(*lags)
    # word of length k = [s0, s1, .., s_{k-1}] when s_{k-1} is not null
    words = [
        F.when(
            F.col(f"s{k - 1}").isNotNull(),
            F.concat_ws("|", *[F.col(f"s{i}") for i in range(k)]),
        )
        for k in range(1, max_order + 2)
    ]
    exploded = df.select(F.explode(F.array(*words)).alias("word")).filter(
        F.col("word").isNotNull()
    )
    counts_pdf: pd.DataFrame = (
        exploded.groupBy("word").agg(F.count(F.lit(1)).alias("cnt")).toPandas()
    )
    if total is None:
        total = sym_df.count()
    counts = {
        tuple(int(x) for x in word.split("|")): int(cnt)
        for word, cnt in zip(counts_pdf["word"], counts_pdf["cnt"])
    }
    return counts, total


def key_starts(keys: np.ndarray) -> np.ndarray:
    """True where a key segment of a key-sorted column starts.  NULL keys
    compare equal, so the NULL-key rows are one segment, as they are one
    group of Spark's ``partitionBy``/``groupBy``."""
    null = pd.isna(keys)
    starts = np.ones(len(keys), dtype=bool)
    starts[1:] = (keys[1:] != keys[:-1]) & ~(null[1:] & null[:-1])
    return starts


def cst_counts_pandas(
    sorted_pdf: pd.DataFrame, max_order: int
) -> tuple[dict[tuple[int, ...], int], int]:
    """The driver twin of ``cst_counts_spark``, for a (key, ts, event_id,
    symbol) frame already in ``key_sorted`` order: the same
    ``{word: count}`` table and total, with no Spark job.

    Each position's word of length k is its own symbol and the k-1
    before it in its key segment, most-recent-first; a position with
    fewer than k-1 predecessors has no word of that length, as the
    Spark builder's NULL lag drops it.  A word is counted as one int64
    code, its symbols as digits in base ``max(symbol) + 1`` (a 1-D
    ``np.unique``, about 20 times faster than a row-wise one), unless
    the longest word's code would overflow."""
    syms = sorted_pdf["symbol"].to_numpy(dtype=np.int64)
    n = len(syms)
    starts = np.flatnonzero(key_starts(sorted_pdf["key"].to_numpy()))
    pos = np.arange(n) - np.repeat(starts, np.diff(np.append(starts, n)))
    base = int(syms.max()) + 1 if n else 1
    coded = base ** (max_order + 1) < 2**63
    counts: dict[tuple[int, ...], int] = {}
    for k in range(1, max_order + 2):
        at = np.flatnonzero(pos >= k - 1)
        if len(at) == 0:
            break
        digits = [syms[at - i] for i in range(k)]
        if coded:
            code = np.zeros(len(at), dtype=np.int64)
            for d in digits:
                code = code * base + d
            code, cnts = np.unique(code, return_counts=True)
            words = np.stack(
                [code // base ** (k - 1 - i) % base for i in range(k)], axis=1
            )
        else:
            words, cnts = np.unique(
                np.stack(digits, axis=1), axis=0, return_counts=True
            )
        counts.update(
            (tuple(int(x) for x in w), int(c)) for w, c in zip(words, cnts)
        )
    return counts, n


def cst_from_spark(
    sym_df: DataFrame, max_order: int, **cols
) -> CounterSuffixTree:
    """`CounterSuffixTree` from `cst_counts_spark`; pass `total=` when
    the row count is known, to skip its count job."""
    counts, total = cst_counts_spark(sym_df, max_order, **cols)
    return CounterSuffixTree.from_counts(counts, total)
