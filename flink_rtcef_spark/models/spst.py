"""SPST: the symbolic prediction-suffix-tree automaton — SDFA states
crossed with VMM context, plus waiting-time distributions per state.

The reference's SPSTInterface (fsm/SPSTInterface.scala:79-128) keeps a
virtual state = (PST node label, SDFA state) and consults a cyclic
buffer of the last maxOrder+1 symbols at runtime (getNextState:205-225).
Here the runtime is precompiled: virtual states are the REACHABLE
(sdfa_state, buffer<=maxOrder) pairs, expanded BFS driver-side into
dense numpy tables, so the executor-side operator stays an int-array
loop with zero Python object work.  The buffer-based state is finer
than the reference's label-based one but induces exactly the buffer
semantics its runtime implements.

Waiting-time distributions follow computeWtDistsOpt
(SPSTInterface.scala:396-427 + computeWtDistForHorizonOpt:446-489):
incremental expansion over (context label, SDFA state) pairs, summing
probability mass that first reaches a final state at each t; paths are
dropped at finals and below the cutoff threshold (the approximation).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from pyspark.sql import DataFrame

from flink_rtcef_spark.models.cst import CounterSuffixTree, cst_from_spark
from flink_rtcef_spark.models.pst import PredictionSuffixTree, learn_pst
from flink_rtcef_spark.models.wt import Forecast, WtDistribution
from flink_rtcef_spark.plans.compiler import CompiledPattern


@dataclass
class SPST:
    compiled: CompiledPattern
    pst: PredictionSuffixTree
    max_order: int
    # virtual-state tables (BFS-expanded)
    delta: np.ndarray = field(default=None)  # int32 [n_virtual, n_symbols]
    take: np.ndarray = field(default=None)  # bool
    finals: np.ndarray = field(default=None)  # bool [n_virtual]
    started: np.ndarray = field(default=None)  # bool [n_virtual]: buffer full
    v_sdfa: np.ndarray = field(default=None)  # int32: sdfa state of v
    v_buffer: list = field(default_factory=list)  # tuple per v
    wt: dict[int, WtDistribution] = field(default_factory=dict)

    @property
    def n_virtual(self) -> int:
        return len(self.v_buffer)

    # ------------------------------------------------------------ building
    def _expand(self) -> None:
        sdfa = self.compiled.sdfa
        n_sym = sdfa.n_symbols
        m = self.max_order
        index: dict[tuple[int, tuple[int, ...]], int] = {(sdfa.start, ()): 0}
        order: list[tuple[int, tuple[int, ...]]] = [(sdfa.start, ())]
        rows, trows = [], []
        i = 0
        while i < len(order):
            state, buf = order[i]
            row, trow = [], []
            for sym in range(n_sym):
                nstate = int(sdfa.delta[state, sym])
                nbuf = ((sym, *buf))[:m] if m > 0 else ()
                key = (nstate, nbuf)
                if key not in index:
                    index[key] = len(order)
                    order.append(key)
                row.append(index[key])
                trow.append(bool(sdfa.take[state, sym]))
            rows.append(row)
            trows.append(trow)
            i += 1
            if len(order) > 2_000_000:
                raise MemoryError(
                    "virtual state space too large; reduce order or alphabet"
                )
        self.delta = np.array(rows, dtype=np.int32)
        self.take = np.array(trows, dtype=bool)
        self.finals = np.array([s in sdfa.finals for s, _ in order], dtype=bool)
        self.started = np.array([len(b) >= m for _, b in order], dtype=bool)
        self.v_sdfa = np.array([s for s, _ in order], dtype=np.int32)
        self.v_buffer = [b for _, b in order]

    def remaining_percentage(self) -> dict[int, float]:
        """Per-state expected remaining steps to completion, normalized
        by the maximum over states (estimateRemainingPercentage
        semantics): 0.0 = about to complete, 1.0 = farthest state.
        Requires wt distributions."""
        expectations = {}
        for v, dist in self.wt.items():
            if not dist.is_empty():
                expectations[v] = dist.conditional_expectation(1, dist.horizon)
        if not expectations:
            return {}
        mx = max(expectations.values())
        return {v: (e / mx if mx > 0 else 0.0) for v, e in expectations.items()}

    def filter_by_distance(self, lo: float, hi: float) -> None:
        """Distance-band state filter (computeWtDistsOpt(distance),
        SPSTInterface.scala:412-416): keep forecasts only for states
        whose remaining percentage lies within [lo, hi] — the
        reference's optimization to forecast only near-completion
        states.  Band (-1, *) disables (reference default)."""
        if lo == -1 or lo >= 1.0:
            return
        pct = self.remaining_percentage()
        self.wt = {
            v: d for v, d in self.wt.items() if lo <= pct.get(v, 1.0) <= hi
        }

    def compute_wt_dists(
        self, horizon: int, cutoff: float = 1e-3, only_started: bool = True
    ) -> None:
        """Per-virtual-state waiting-time distribution, keyed by the
        (PST label, SDFA state) pair so distinct buffers sharing a
        context node share the computation."""
        sdfa = self.compiled.sdfa
        n_sym = sdfa.n_symbols
        cache: dict[tuple[tuple[int, ...], int], WtDistribution] = {}

        def wt_for(label: tuple[int, ...], sdfa_state: int) -> WtDistribution:
            key = (label, sdfa_state)
            if key in cache:
                return cache[key]
            frontier: list[tuple[tuple[int, ...], int, float]] = [(label, sdfa_state, 1.0)]
            wt: dict[int, float] = {}
            for t in range(1, horizon + 1):
                nxt: list[tuple[tuple[int, ...], int, float]] = []
                final_mass = 0.0
                for lab, st, p in frontier:
                    node = self.pst.walk(lab)
                    for sym in range(n_sym):
                        psym = node.dist.get(sym, 0.0)
                        if psym <= 0.0:
                            continue
                        np_ = p * psym
                        nst = int(sdfa.delta[st, sym])
                        if nst in sdfa.finals:
                            final_mass += np_
                        elif np_ > cutoff:
                            nlab = self.pst.walk((sym, *lab)).label
                            nxt.append((nlab, nst, np_))
                wt[t] = final_mass
                frontier = nxt
                if not frontier:
                    for t2 in range(t + 1, horizon + 1):
                        wt[t2] = 0.0
                    break
            dist = WtDistribution(wt)
            cache[key] = dist
            return dist

        for v in range(self.n_virtual):
            if only_started and not self.started[v]:
                continue
            label = self.pst.walk(self.v_buffer[v]).label
            self.wt[v] = wt_for(label, int(self.v_sdfa[v]))

    def forecast_table(
        self, method: str, confidence_threshold: float, spread: int
    ) -> np.ndarray:
        """Precompute per-virtual-state forecasts
        (WtForecasterBuilder.buildForecastsTable:69-100): float array
        [n_virtual, 4] of (start, end, prob, positive); start=-1 marks
        no-forecast states."""
        table = np.full((self.n_virtual, 4), -1.0)
        for v, dist in self.wt.items():
            fc: Forecast = dist.forecast(method, confidence_threshold, spread)
            if fc.valid:
                table[v] = (fc.start, fc.end, fc.prob, 1.0 if fc.positive else 0.0)
        return table


def spst_from_cst(
    cst: CounterSuffixTree,
    compiled: CompiledPattern,
    max_order: int,
    pmin: float = 0.001,
    alpha: float = 0.0,
    gamma_min: float = 0.001,
    r: float = 1.05,
    horizon: int = 0,
    cutoff: float = 1e-3,
    distance: tuple[float, float] = (-1.0, -1.0),
) -> SPST:
    """The driver half of the train path: PST learn -> virtual-state
    expansion -> wt distributions.  Reads ``cst`` without changing it,
    so one CST serves every (pMin, gamma) of an optimisation session."""
    symbols = list(range(len(compiled.minterms)))
    pst = learn_pst(
        cst, symbols, max_order, pmin, alpha, gamma_min, r, variant=True, with_missing=True
    )
    spst = SPST(compiled=compiled, pst=pst, max_order=max_order)
    spst._expand()
    if horizon > 0:
        spst.compute_wt_dists(horizon, cutoff)
        spst.filter_by_distance(*distance)
    return spst


def train_spst(
    sym_df: DataFrame,
    compiled: CompiledPattern,
    max_order: int,
    pmin: float = 0.001,
    alpha: float = 0.0,
    gamma_min: float = 0.001,
    r: float = 1.05,
    horizon: int = 0,
    cutoff: float = 1e-3,
    distance: tuple[float, float] = (-1.0, -1.0),
    **cst_cols,
) -> SPST:
    """The G7 in-memory train path as Spark-first stages
    (WayebAdapter.trainInMemory:39-79 parity): distributed context
    counting (``cst_from_spark``), then ``spst_from_cst``.  ``sym_df``
    is the symbolized stream (output of BatchCEP.symbolized)."""
    return spst_from_cst(
        cst_from_spark(sym_df, max_order, **cst_cols), compiled, max_order,
        pmin, alpha, gamma_min, r, horizon, cutoff, distance,
    )
