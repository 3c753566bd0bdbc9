"""HMM forecaster (E10): an HMM over the pattern automaton's behavior.

Reference: estimator/HMMEstimator/{IsoHMM,FSMStateEstimator}.scala and
model/forecaster/HMMInterface.scala — the *observed* variable is the
SDFA state visited, the *hidden* variable is the minterm symbol that
fired; training is supervised frequency MLE over aligned
(state, symbol) sequences (smile's HMM(observations, labels)
constructor), and the waiting-time distribution cannot be precomputed
per state (combinatorial in buffer contents) so it is estimated ONLINE
by unrolling the learned chain from the filtered belief
(HMMInterface.scala:41-62).

Spark shape: training is one distributed counting pass — lag-window
pairs + groupBy counts for the hidden-transition matrix, plus a
(symbol, state) groupBy for the emission matrix — the same
"training = aggregation" layout as the CST (models/cst.py).  The
resulting matrices are tiny (|symbols|², |symbols|×|states|) and
broadcast.  The online part is numpy: forward filtering over the
last-l observed states, then an exact first-passage unroll to the
horizon.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from flink_rtcef_spark.models.wt import WtDistribution


@dataclass
class IsoHMM:
    """pi: initial hidden distribution; A[h1,h2]: hidden transition;
    B[h,s]: P(observed state s | hidden symbol h).  Laplace-smoothed
    MLE counts."""

    pi: np.ndarray
    A: np.ndarray
    B: np.ndarray
    n_symbols: int
    n_states: int

    def filter(self, states: list[int]) -> np.ndarray:
        """Forward-filtered belief over the hidden symbol after the
        observed state sequence (the last-l buffer)."""
        alpha = self.pi * self.B[:, states[0]]
        for s in states[1:]:
            alpha = (self.A.T @ alpha) * self.B[:, s]
        z = alpha.sum()
        return alpha / z if z > 0 else np.full(self.n_symbols, 1.0 / self.n_symbols)

    def waiting_time(
        self, states: list[int], finals: set[int], horizon: int
    ) -> WtDistribution:
        """Exact first-passage distribution of the next final-state
        visit under the learned chain: propagate the joint
        (no-final-yet, hidden) mass with the censored emission
        1 - P(final | hidden); the leaked mass at step t is wt[t]."""
        final_mask = np.zeros(self.n_states, dtype=bool)
        for f in finals:
            final_mask[f] = True
        p_final = self.B[:, final_mask].sum(axis=1)  # P(emit a final | hidden)
        u = self.filter(states)  # P(hidden | buffer), no-final mass = 1
        wt: dict[int, float] = {}
        for t in range(1, horizon + 1):
            v = self.A.T @ u  # hidden belief one step ahead (joint with survival)
            wt[t] = float(v @ p_final)
            u = v * (1.0 - p_final)  # censor: survive this step
        return WtDistribution(wt)


def learn_hmm(
    run_df: DataFrame,
    n_symbols: int,
    n_states: int,
    key_col: str = "key",
    ts_col: str = "ts",
    state_col: str = "state",
    symbol_col: str = "symbol",
    smoothing: float = 1e-3,
) -> IsoHMM:
    """Supervised MLE from a per-key run trace (the sequence of
    (visited state, fired symbol) the CEP run produces — the
    finals-based collection of FSMStateEstimator.scala:62-100 reduced
    to its counting core).  One shuffle for the lag pairs, two small
    aggregations; only the count tables reach the driver."""
    w = W.partitionBy(key_col).orderBy(ts_col)
    pairs = run_df.select(
        F.col(symbol_col).alias("h"),
        F.lag(symbol_col).over(w).alias("h_prev"),
        F.col(state_col).alias("s"),
    )
    trans = (
        pairs.filter(F.col("h_prev").isNotNull())
        .groupBy("h_prev", "h")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    emit = pairs.groupBy("h", "s").agg(F.count(F.lit(1)).alias("n")).collect()
    init = pairs.groupBy("h").agg(F.count(F.lit(1)).alias("n")).collect()

    A = np.full((n_symbols, n_symbols), smoothing)
    for r in trans:
        A[int(r["h_prev"]), int(r["h"])] += r["n"]
    A /= A.sum(axis=1, keepdims=True)
    B = np.full((n_symbols, n_states), smoothing)
    for r in emit:
        B[int(r["h"]), int(r["s"])] += r["n"]
    B /= B.sum(axis=1, keepdims=True)
    pi = np.full(n_symbols, smoothing)
    for r in init:
        pi[int(r["h"])] += r["n"]
    pi /= pi.sum()
    return IsoHMM(pi=pi, A=A, B=B, n_symbols=n_symbols, n_states=n_states)


def run_trace(detections_input: DataFrame, compiled, key_col: str, ts_col: str, id_col: str) -> DataFrame:
    """(key, ts, state, symbol) trace of the deterministic run over a
    batch — the training input for learn_hmm.  Symbolization is the
    JVM Column; the states are the SDFA kernel's own
    (operators/cep.sdfa_states) on the CEP operator's key shuffle, so a
    RESET event shows state 0, as the run holds it."""
    import pandas as pd

    from flink_rtcef_spark.operators.cep import BatchCEP, sdfa_states

    cep = BatchCEP(compiled, key_col=key_col, ts_col=ts_col, id_col=id_col)

    def trace_partition(batches):
        for keys, cols, states, _ in sdfa_states(batches, compiled):
            yield pd.DataFrame(
                {"key": keys, "ts": cols["ts"], "state": states, "symbol": cols["symbol"]}
            )

    key_type = dict(detections_input.dtypes)[key_col]
    return cep.key_sorted(detections_input).mapInPandas(
        trace_partition,
        schema=f"key {key_type}, ts long, state int, symbol int",
    )
