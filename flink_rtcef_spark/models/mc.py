"""Full-order Markov chain (FMM) over the disambiguated SDFA.

Parity: the reference's ``mle`` CLI task estimates the transition
matrix of the pattern Markov chain by running the FSM over a training
stream and counting state transitions (ui/WayebCLI.scala:103-131 ->
BeepBeep.runMatrixEstimation); ``forecasting --modelType fmm`` then
derives waiting-time distributions from that matrix
(model/forecaster/WtForecasterBuilder semantics).

Spark shape: the SDFA kernel's state walk (operators/cep.py
``sdfa_states``) runs on the CEP operator's key shuffle, one
mapInPandas pass emitting per-partition dense transition counts; only
the n_states x n_states count table crosses to the driver (a
control-plane aggregate, not data).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_rtcef_spark.models.wt import Forecast, WtDistribution
from flink_rtcef_spark.operators.cep import key_sorted, sdfa_states
from flink_rtcef_spark.plans.compiler import CompiledPattern


@dataclass
class MarkovChain:
    """Row-stochastic transition matrix over SDFA states (state 0 is
    the start state — determinize/disambiguate both pin start=0)."""

    counts: np.ndarray  # int64 [n, n]
    matrix: np.ndarray  # float64 [n, n], zero rows stay zero

    @property
    def n_states(self) -> int:
        return int(self.counts.shape[0])


def transition_counts(sym_df: DataFrame, compiled: CompiledPattern) -> DataFrame:
    """(from_state, to_state, cnt): SDFA state-transition counts over
    the symbolized stream, per-key ordered.  One shuffle; counts are
    combined map-side into one dense table per partition before the
    final (tiny) groupBy."""
    n = compiled.sdfa.n_states

    def run_partition(batches):
        counts = np.zeros((n, n), dtype=np.int64)
        for _, _, states, prev in sdfa_states(batches, compiled):
            # a RESET event (prev -1) clears the run without a transition
            moved = prev >= 0
            np.add.at(counts, (prev[moved], states[moved]), 1)
        frm, to = np.nonzero(counts)
        yield pd.DataFrame(
            {"from_state": frm, "to_state": to, "cnt": counts[frm, to]}
        )

    return (
        key_sorted(sym_df)
        .mapInPandas(run_partition, schema="from_state int, to_state int, cnt long")
        .groupBy("from_state", "to_state")
        .agg(F.sum("cnt").alias("cnt"))
    )


def estimate_mc(sym_df: DataFrame, compiled: CompiledPattern) -> MarkovChain:
    n = compiled.sdfa.n_states
    counts = np.zeros((n, n), dtype=np.int64)
    for row in transition_counts(sym_df, compiled).collect():
        counts[row["from_state"], row["to_state"]] = row["cnt"]
    totals = counts.sum(axis=1, keepdims=True)
    matrix = np.divide(
        counts, totals, out=np.zeros_like(counts, dtype=np.float64), where=totals > 0
    )
    return MarkovChain(counts=counts, matrix=matrix)


@dataclass
class FMM:
    """Full-order Markov forecasting model: duck-types the SPST surface
    ForecastCEP consumes (delta/take/finals/started/forecast_table), so
    ``ForecastCEP(fmm, ...)`` runs unchanged.  States are the
    disambiguated SDFA states themselves — the FMM's Markov states
    (docs/overview.md FMM variant; MarkovChainFactory semantics)."""

    compiled: CompiledPattern
    mc: MarkovChain
    wt: dict[int, WtDistribution] = field(default_factory=dict)

    def __post_init__(self) -> None:
        sdfa = self.compiled.sdfa
        self.delta = sdfa.delta
        self.take = sdfa.take
        self.finals = np.array(
            [s in sdfa.finals for s in range(sdfa.n_states)], dtype=bool
        )
        # no context buffer to fill: every state forecasts immediately
        self.started = np.ones(sdfa.n_states, dtype=bool)

    def compute_wt_dists(self, horizon: int, cutoff: float = 0.0) -> None:
        """wt_s(t) = P(first entry into a final state after exactly t
        steps | current state s): phase-type recursion on the MC —
        R = one-step mass into finals, Q = one-step mass within
        non-finals; wt(:, t) = Q^(t-1) R."""
        m = self.mc.matrix
        r = m[:, self.finals].sum(axis=1)
        q = m.copy()
        q[:, self.finals] = 0.0
        v = np.eye(self.mc.n_states)
        table = np.zeros((self.mc.n_states, horizon + 1))
        for t in range(1, horizon + 1):
            table[:, t] = v @ r
            v = v @ q
        self.wt = {
            s: WtDistribution(
                {t: float(table[s, t]) for t in range(1, horizon + 1)}
            )
            for s in range(self.mc.n_states)
            if table[s].sum() > cutoff
        }

    def forecast_table(
        self, method: str, confidence_threshold: float, spread: int
    ) -> np.ndarray:
        """Same construction as SPST.forecast_table
        (WtForecasterBuilder.buildForecastsTable:69-100)."""
        table = np.full((self.compiled.sdfa.n_states, 4), -1.0)
        for v, dist in self.wt.items():
            fc: Forecast = dist.forecast(method, confidence_threshold, spread)
            if fc.valid:
                table[v] = (fc.start, fc.end, fc.prob, 1.0 if fc.positive else 0.0)
        return table
