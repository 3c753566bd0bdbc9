"""HMM forecaster (E10): distributed supervised MLE + online
first-passage waiting-time unrolling."""

from __future__ import annotations

import random

import numpy as np
import pytest

from flink_rtcef_spark.models.hmm import IsoHMM, learn_hmm, run_trace


def _random_rows(rng, n_keys=4, n=200, n_symbols=3, n_states=4):
    rows = []
    for k in range(n_keys):
        for t in range(n):
            rows.append(
                (
                    f"k{k}",
                    t,
                    int(rng.integers(0, n_states)),
                    int(rng.integers(0, n_symbols)),
                )
            )
    return rows


def test_learn_hmm_matches_local_counts(spark):
    rng = np.random.default_rng(3)
    rows = _random_rows(rng)
    df = spark.createDataFrame(rows, "key string, ts long, state int, symbol int")
    model = learn_hmm(df, n_symbols=3, n_states=4, smoothing=0.5)

    A = np.full((3, 3), 0.5)
    B = np.full((3, 4), 0.5)
    by_key: dict[str, list] = {}
    for k, t, s, h in rows:
        by_key.setdefault(k, []).append((t, s, h))
    for seq in by_key.values():
        seq.sort()
        for (_, _, h1), (_, _, h2) in zip(seq, seq[1:]):
            A[h1, h2] += 1
        for _, s, h in seq:
            B[h, s] += 1
    A /= A.sum(axis=1, keepdims=True)
    B /= B.sum(axis=1, keepdims=True)
    np.testing.assert_allclose(model.A, A, atol=1e-12)
    np.testing.assert_allclose(model.B, B, atol=1e-12)


def test_waiting_time_matches_monte_carlo():
    """The closed-form censored unroll must equal simulation of the
    learned chain (first step whose emitted state is final)."""
    rng = np.random.default_rng(11)
    A = rng.dirichlet(np.ones(3), size=3)
    B = rng.dirichlet(np.ones(4), size=3)
    pi = rng.dirichlet(np.ones(3))
    m = IsoHMM(pi=pi, A=A, B=B, n_symbols=3, n_states=4)
    buffer_states = [1, 2, 0]
    finals = {3}
    horizon = 6
    wt = m.waiting_time(buffer_states, finals, horizon).wt

    belief = m.filter(buffer_states)
    n_sim = 200_000
    hits = np.zeros(horizon + 1)
    h = rng.choice(3, size=n_sim, p=belief)
    alive = np.ones(n_sim, dtype=bool)
    for t in range(1, horizon + 1):
        # advance hidden, then emit
        nxt = np.empty_like(h)
        for hh in range(3):
            idx = np.where(alive & (h == hh))[0]
            nxt[idx] = rng.choice(3, size=len(idx), p=A[hh])
        h = np.where(alive, nxt, h)
        emit = np.empty(n_sim, dtype=np.int64)
        for hh in range(3):
            idx = np.where(alive & (h == hh))[0]
            emit[idx] = rng.choice(4, size=len(idx), p=B[hh])
        fired = alive & np.isin(emit, list(finals))
        hits[t] = fired.sum()
        alive &= ~fired
    mc = hits[1:] / n_sim
    got = np.array([wt[t] for t in range(1, horizon + 1)])
    np.testing.assert_allclose(got, mc, atol=5e-3)
    assert 0.999 >= sum(wt.values()) > 0.2


def test_run_trace_replays_sdfa(spark):
    from flink_rtcef_spark.plans.compiler import compile_pattern, transition_tables

    compiled = compile_pattern(
        ";(IsEventTypePredicate(view),IsEventTypePredicate(click))"
        "{partitionBy:user_id}",
        "~(IsEventTypePredicate(view),IsEventTypePredicate(click))",
    )
    df = spark.createDataFrame(
        [(1, i, t, i) for i, t in enumerate(["view", "click", "view", "view", "click", "other"])],
        "user_id long, ts long, event_type string, event_id long",
    )
    trace = (
        run_trace(df, compiled, key_col="user_id", ts_col="ts", id_col="event_id")
        .orderBy("ts")
        .collect()
    )
    delta, _, _ = transition_tables(compiled.sdfa)
    st = 0
    for r in trace:
        st = int(delta[st, r["symbol"]])
        assert r["state"] == st


def test_hmm_end_to_end_forecast(spark):
    """Train on the run trace of the events fixture, then produce a
    valid forecast interval from the online wt estimate."""
    from flink_rtcef_spark.plans.compiler import compile_pattern
    from flink_rtcef_spark.sources.io import load_table

    compiled = compile_pattern(
        ";(IsEventTypePredicate(view),IsEventTypePredicate(click),"
        "IsEventTypePredicate(purchase)){partitionBy:user_id}",
        "~(IsEventTypePredicate(view),IsEventTypePredicate(click),"
        "IsEventTypePredicate(purchase))",
    )
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    trace = run_trace(ev, compiled, key_col="user_id", ts_col="ts", id_col="event_id")
    n_symbols = len(compiled.minterms)
    n_states = compiled.sdfa.n_states
    model = learn_hmm(trace, n_symbols=n_symbols, n_states=n_states)
    wt = model.waiting_time([0, 1], compiled.sdfa.finals, horizon=20)
    assert not wt.is_empty() and sum(wt.wt.values()) <= 1.0 + 1e-9
    fc = wt.forecast("classify_nextk", confidence_threshold=0.0, spread=5)
    assert fc.valid


RESET_DECLS = (
    "+(IsEventTypePredicate(RESET))\n"
    "~(IsEventTypePredicate(A),IsEventTypePredicate(B),IsEventTypePredicate(RESET))"
)


@pytest.mark.parametrize("selection", ["#", "@"])
def test_run_trace_clears_state_on_reset(spark, selection):
    """A RESET event clears the run without a transition
    (Run.scala:309-323), so the trace learn_hmm trains on shows state 0
    there, as the deterministic run holds it.  Under skip-till
    selection RESET's own transition leaves state 0, so a trace that
    took ``delta[state, RESET]`` would show a partial match instead.
    Every state must equal an event-by-event ``_run_sdfa_segment``
    replay of the key."""
    from flink_rtcef_spark.operators.cep import _run_sdfa_segment
    from flink_rtcef_spark.plans.compiler import compile_pattern, transition_tables

    compiled = compile_pattern(
        f"{selection}(;(IsEventTypePredicate(A),IsEventTypePredicate(B)))"
        "{partitionBy:k}",
        RESET_DECLS,
    )
    resets = compiled.reset_symbols()
    delta, take, finals = transition_tables(compiled.sdfa)
    assert delta[:, list(resets)].any()
    rng = random.Random(17)
    rows = [
        (k, t, i * 100 + t, rng.choice(["A", "A", "B", "RESET"]))
        for i, k in enumerate(("k1", "k2"))
        for t in range(60)
    ]
    df = spark.createDataFrame(rows, "k string, ts long, id long, event_type string")
    trace = run_trace(df, compiled, "k", "ts", "id").toPandas()
    on_reset = trace["symbol"].isin(resets)
    assert on_reset.any()
    assert (trace["state"][on_reset] == 0).all()
    for _, seg in trace.sort_values(["key", "ts"]).groupby("key"):
        syms, tss = seg["symbol"].to_numpy(), seg["ts"].to_numpy()
        carry, replay = None, []
        for i in range(len(seg)):
            _, carry = _run_sdfa_segment(
                syms[i:i + 1], tss[i:i + 1], tss[i:i + 1], delta, take, finals,
                0, "count", resets, carry,
            )
            replay.append(carry[0])
        assert seg["state"].tolist() == replay
