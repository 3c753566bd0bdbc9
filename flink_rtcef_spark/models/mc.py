"""Full-order Markov chain (FMM) over the disambiguated SDFA.

Parity: the reference's ``mle`` CLI task estimates the transition
matrix of the pattern Markov chain by running the FSM over a training
stream and counting state transitions (ui/WayebCLI.scala:103-131 ->
BeepBeep.runMatrixEstimation); ``forecasting --modelType fmm`` then
derives waiting-time distributions from that matrix
(model/forecaster/WtForecasterBuilder semantics).

Spark shape: the state walk runs on the CEP operator's key shuffle
and key walk (operators/cep.py ``key_sorted`` + ``key_segments``, one
mapInPandas pass), emitting per-partition dense
transition counts; only the n_states x n_states count table crosses
to the driver (a control-plane aggregate, not data).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_rtcef_spark.models.wt import Forecast, WtDistribution
from flink_rtcef_spark.operators.cep import key_segments, key_sorted
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
    delta = compiled.sdfa.delta
    n = compiled.sdfa.n_states
    resets = compiled.reset_symbols()

    def run_partition(batches):
        counts = np.zeros((n, n), dtype=np.int64)

        def step(key, cols, seg, state):
            for sym in cols[0][seg]:
                if sym in resets:
                    # ResetEvent clears FSM state without a transition
                    # (Run.scala:309-323), as the CEP run loop does — the
                    # estimated chain must match the run semantics
                    state = 0
                    continue
                nxt = int(delta[state, sym])
                counts[state, nxt] += 1
                state = nxt
            return None, state

        for _ in key_segments(batches, ("symbol",), 0, step):
            pass
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
