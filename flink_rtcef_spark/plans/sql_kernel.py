"""JVM-only SDFA advancement: the run loop as a Catalyst ``aggregate`` fold.

The engine's per-event run advancement (operators/cep.py
``_run_sdfa_segment`` — the reference's RunPool step,
WayebEngine.java:225-316) is an O(1)-state fold: each event updates the
quintuple (state, counter, min_counter, min_ts, n_matched) and possibly
emits a detection.  Any such fold is expressible as Spark SQL
``aggregate(events_array, init, (acc, x) -> step)`` with the transition
tables injected as literal nested arrays — which keeps the whole
kernel inside whole-stage codegen: no Python boundary, no Arrow
round trip, and the plan is partial-aggregation-friendly upstream.

Cost model: ``collect_list`` holds ONE key's events of a microbatch
in a single array — the same per-group memory contract as
``applyInPandas``.  The fold itself is sequential per key (runs are
inherently sequential); parallelism comes from keys, exactly like the
loop kernels.

Semantics are bit-identical to ``_run_sdfa_segment`` including window
rewinds, RESET symbols, and match accounting — pinned by
tests/test_sql_kernel.py against the loop kernel on randomized inputs.

Measured negative result (r4): for BATCH detection the fused Arrow
kernel stays faster — sf0.1 0.772 s vs 0.804 s, x10 (1M events)
1.145 s vs 1.454 s, identical outputs (warm medians of 3, local[32]).
Catalyst evaluates higher-order-function lambdas interpreted (no
codegen for ``aggregate``), so the per-event fold pays interpreter
dispatch that the vectorized numpy kernel amortizes.  ``cep_sdfa_detect``
therefore keeps the Arrow kernel, and this module is only the engine
of the streaming fast path's distributed SDFA route
(streaming/fastpath.py ``_SqlFold``), where "no Python workers in the
microbatch plan" buys predictable per-batch latency.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column
from pyspark.sql import functions as F

from flink_rtcef_spark.plans.compiler import CompiledPattern, transition_tables

DET_STRUCT = (
    "struct<event_id:bigint,ts:bigint,counter:bigint,"
    "min_counter:bigint,n_matched:int>"
)
# lt carries the max event ts seen (the state row's last_ts, for TTL)
ACC_STRUCT = (
    "struct<s:int,c:bigint,mc:bigint,mts:bigint,nm:int,lt:bigint,"
    f"dets:array<{DET_STRUCT}>>"
)


def _int_array_lit(arr: np.ndarray) -> str:
    if arr.ndim == 1:
        return "array(" + ",".join(str(int(v)) for v in arr) + ")"
    return "array(" + ",".join(_int_array_lit(row) for row in arr) + ")"


def _bool_array_lit(arr: np.ndarray) -> str:
    if arr.ndim == 1:
        return "array(" + ",".join("true" if v else "false" for v in arr) + ")"
    return "array(" + ",".join(_bool_array_lit(row) for row in arr) + ")"


def fold_step_sql(compiled: CompiledPattern) -> str:
    """The ``(a, x) -> step`` lambda body as SQL.  ``a`` is ACC_STRUCT,
    ``x`` is struct<ts:bigint, event_id:bigint, symbol:int, is_state
    boolean, st int, sc/smc/smts bigint, snm int, slts bigint>: a
    state pseudo-row (``is_state``) sorts first in its key's array and
    REPLACES the accumulator with its carried fields, which is how the
    streaming fast path resumes runs with ONE shuffle (no state join).
    Sub-expressions are repeated textually; whole-stage codegen's
    subexpression elimination collapses them."""
    delta, take, finals = transition_tables(compiled.sdfa)
    window = compiled.window
    window_type = compiled.window_type
    resets = sorted(compiled.reset_symbols())

    D = _int_array_lit(delta)
    T = _bool_array_lit(take)
    FN = _bool_array_lit(finals)

    c1 = "(a.c + 1L)"
    is_reset = (
        f"(x.symbol IN ({','.join(str(int(r)) for r in resets)}))"
        if resets
        else "false"
    )
    if window > 0:
        span = (
            f"({c1} - a.mc)" if window_type == "count" else "(x.ts - a.mts)"
        )
        w_reset = f"(NOT {is_reset} AND a.mc != -1L AND {span} >= {int(window)}L)"
        s0 = f"IF({w_reset}, 0, a.s)"
        mc0 = f"IF({w_reset}, -1L, a.mc)"
        mts0 = f"IF({w_reset}, -1L, a.mts)"
        nm0 = f"IF({w_reset}, 0, a.nm)"
    else:
        s0, mc0, mts0, nm0 = "a.s", "a.mc", "a.mts", "a.nm"

    nxt = f"element_at(element_at({D}, {s0} + 1), x.symbol + 1)"
    tk = f"element_at(element_at({T}, {s0} + 1), x.symbol + 1)"
    mc1 = f"IF({tk} AND {mc0} = -1L, {c1}, {mc0})"
    mts1 = f"IF({tk} AND {mc0} = -1L, x.ts, {mts0})"
    nm1 = f"({nm0} + IF({tk}, 1, 0))"
    fin = f"element_at({FN}, {nxt} + 1)"

    det = (
        f"named_struct('event_id', x.event_id, 'ts', x.ts, 'counter', {c1}, "
        f"'min_counter', {mc1}, 'n_matched', {nm1})"
    )
    step = (
        "named_struct("
        f"'s', IF({is_reset}, 0, {nxt}), "
        f"'c', {c1}, "
        f"'mc', IF({is_reset} OR {fin}, -1L, {mc1}), "
        f"'mts', IF({is_reset} OR {fin}, -1L, {mts1}), "
        f"'nm', IF({is_reset} OR {fin}, 0, {nm1}), "
        "'lt', greatest(a.lt, x.ts), "
        f"'dets', IF(NOT {is_reset} AND {fin}, array_append(a.dets, {det}), a.dets)"
        ")"
    )
    load = (
        "named_struct('s', x.st, 'c', x.sc, 'mc', x.smc, 'mts', x.smts, "
        "'nm', x.snm, 'lt', x.slts, 'dets', a.dets)"
    )
    return f"IF(x.is_state, {load}, {step})"


def fold_column(compiled: CompiledPattern) -> Column:
    """``aggregate(evs, init, step)`` as a Column: the fold of each
    key's ``evs`` array from the fresh-run accumulator, or from its
    leading state pseudo-row (see fold_step_sql) when it has one."""
    init = (
        "named_struct('s', 0, 'c', 0L, 'mc', -1L, 'mts', -1L, 'nm', 0, "
        f"'lt', -1L, 'dets', CAST(array() AS array<{DET_STRUCT}>))"
    )
    return F.expr(
        f"aggregate(evs, CAST({init} AS {ACC_STRUCT}), "
        f"(a, x) -> {fold_step_sql(compiled)})"
    )
