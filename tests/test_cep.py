"""CEP operator tests: the Spark mapInPandas path and the run-loop
semantics (window, count policy, match bookkeeping)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from flink_rtcef_spark.operators.cep import BatchCEP, _run_sdfa_segment
from flink_rtcef_spark.plans.compiler import (
    NONOVERLAP,
    compile_pattern,
    transition_tables,
)

SEQ_AB = ";(IsEventTypePredicate(A),IsEventTypePredicate(B)){partitionBy:k}"
DECLS_AB = "~(IsEventTypePredicate(A),IsEventTypePredicate(B))"


def _sym_of(compiled, t: str) -> int:
    key = f"IsEventTypePredicate({t})"
    known = {a.key() for a in compiled.atoms}
    for i, mt in enumerate(compiled.minterms):
        d = mt.as_dict()
        if key in known:
            if d.get(key) and sum(d.values()) == 1:
                return i
        elif sum(d.values()) == 0:  # unknown type -> all-false minterm
            return i
    raise AssertionError


def _run(compiled, types: list[str], ts=None):
    delta, take, finals = transition_tables(compiled.sdfa)
    syms = np.array([_sym_of(compiled, t) for t in types])
    n = len(types)
    ts = np.array(ts if ts is not None else range(1, n + 1))
    ids = np.arange(n)
    return _run_sdfa_segment(
        syms, ts, ids, delta, take, finals, compiled.window, compiled.window_type,
        frozenset(),
    )[0]


def test_detection_positions_and_match_bounds():
    compiled = compile_pattern(SEQ_AB, DECLS_AB)
    # types:   A  C  A  B  B
    # matches:          ^ A(3),B(4) contiguous -> detect at event idx 3
    out = _run(compiled, ["A", "C", "A", "B", "B"])
    assert len(out) == 1
    event_id, ts, counter, min_counter, n_matched = out[0]
    assert event_id == 3  # 0-based id of the B
    assert counter == 4  # 1-based counter
    # deterministic-run semantics (Run.processEventDet): the merged
    # subset run accumulates TAKE events from ALL candidate starts since
    # the last clear — the stray A at counter 1 is in the match too.
    assert min_counter == 1
    assert n_matched == 3


def test_overlap_policy_keeps_state():
    compiled = compile_pattern(";(IsEventTypePredicate(A),IsEventTypePredicate(A)){partitionBy:k}")
    out = _run(compiled, ["A", "A", "A"])
    assert [r[2] for r in out] == [2, 3]  # detections at counters 2 and 3


def test_nonoverlap_policy_consumes_match():
    compiled = compile_pattern(
        ";(IsEventTypePredicate(A),IsEventTypePredicate(A)){partitionBy:k}",
        policy=NONOVERLAP,
    )
    out = _run(compiled, ["A", "A", "A", "A"])
    assert [r[2] for r in out] == [2, 4]


def test_count_window_kills_long_spans():
    # A then B with skip-till-any, window 3 (count): A..B span must be < 3
    pat = "#(;(IsEventTypePredicate(A),IsEventTypePredicate(B))){partitionBy:k}{window:3}"
    compiled = compile_pattern(pat, DECLS_AB)
    # A C C C B : span from A(1) to B(5) = 4 >= 3 -> killed, no match
    assert _run(compiled, ["A", "C", "C", "C", "B"]) == []
    # A C B : span 3-1=2 < 3 -> match
    assert len(_run(compiled, ["A", "C", "B"])) == 1


def test_time_window():
    pat = (
        "#(;(IsEventTypePredicate(A),IsEventTypePredicate(B)))"
        "{partitionBy:k}{window:100}{windowType:time}"
    )
    compiled = compile_pattern(pat, DECLS_AB)
    # ts span 10..200 >= 100 -> killed
    assert _run(compiled, ["A", "C", "B"], ts=[10, 50, 200]) == []
    # ts span 10..90 < 100 -> match
    assert len(_run(compiled, ["A", "C", "B"], ts=[10, 50, 90])) == 1


def test_spark_operator_maritime_pattern(spark):
    """Port-entry shape on a synthetic trajectory: two fixes outside the
    5 km circle then one inside -> one detection per vessel doing so."""
    pat = (
        ";(OutsideCircle(-4.4753,48.38273,5.0),OutsideCircle(-4.4753,48.38273,5.0),"
        "WithinCircle(-4.4753,48.38273,5.0)){partitionBy:mmsi}"
    )
    compiled = compile_pattern(pat)
    rows = []
    # vessel 1 approaches and enters; vessel 2 stays outside
    track1 = [(-4.9, 48.38), (-4.8, 48.38), (-4.48, 48.383)]
    track2 = [(-4.9, 48.38), (-4.85, 48.38), (-4.8, 48.38)]
    for i, (lon, lat) in enumerate(track1):
        rows.append(("v1", i + 1, i, lon, lat))
    for i, (lon, lat) in enumerate(track2):
        rows.append(("v2", i + 1, 100 + i, lon, lat))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["mmsi", "timestamp", "id", "lon", "lat"])
    )
    cep = BatchCEP(compiled, ts_col="timestamp", id_col="id")
    out = cep.detections(df).toPandas().sort_values("key")
    assert list(out["key"]) == ["v1"]
    assert list(out["detection_event_id"]) == [2]
    assert list(out["n_matched"]) == [3]


@pytest.mark.parametrize("seed", range(5))
def test_run_loop_equals_suffix_oracle_random(seed):
    """Random streams through the run loop vs the brute-force suffix
    oracle (windowless, overlap policy)."""
    import random

    from flink_rtcef_spark.plans.automata import build_nfa, formula_alphabet
    from flink_rtcef_spark.plans.rewrite import apply_selection
    from flink_rtcef_spark.plans.sre_parser import parse_pattern

    rng = random.Random(seed)
    pat_text = rng.choice(
        [
            ";(IsEventTypePredicate(A),IsEventTypePredicate(B)){partitionBy:k}",
            ";(IsEventTypePredicate(A),*(IsEventTypePredicate(B)),IsEventTypePredicate(C)){partitionBy:k}",
            "+(;(IsEventTypePredicate(A),IsEventTypePredicate(B)),;(IsEventTypePredicate(C),IsEventTypePredicate(C))){partitionBy:k}",
        ]
    )
    compiled = compile_pattern(pat_text, "~(IsEventTypePredicate(A),IsEventTypePredicate(B),IsEventTypePredicate(C))")
    types = [rng.choice("ABC") for _ in range(60)]
    out = _run(compiled, types)
    detected_at = {r[2] for r in out}  # counters (1-based)
    formula = apply_selection(parse_pattern(pat_text).formula)
    atoms, minterms = formula_alphabet(formula, compiled.declarations)
    plain = build_nfa(formula, minterms, streaming=False)
    word = [_sym_of(compiled, t) for t in types]
    for t in range(len(word)):
        oracle = any(plain.accepts(word[s : t + 1]) for s in range(t + 2))
        assert ((t + 1) in detected_at) == oracle, (pat_text, t)


def test_vectorized_batch_equals_loop():
    """The prefix-composition fast path must be bit-identical to the
    per-segment loop across random automata, multi-key batches, RESET
    symbols, and arbitrary Arrow-batch splits (carry)."""
    import numpy as np

    from flink_rtcef_spark.operators.cep import (
        _run_sdfa_batch_vectorized,
        _run_sdfa_segment,
    )

    rng = np.random.default_rng(13)
    for trial in range(40):
        n_states = int(rng.integers(2, 9))
        n_syms = int(rng.integers(2, 6))
        delta = rng.integers(0, n_states, size=(n_states, n_syms)).astype(np.int32)
        take = rng.random((n_states, n_syms)) < 0.5
        finals = np.zeros(n_states, dtype=bool)
        finals[rng.integers(1, n_states)] = True
        resets = frozenset([0]) if trial % 3 == 0 else frozenset()

        n = int(rng.integers(1, 120))
        keys = np.sort(rng.integers(0, 4, size=n))
        syms = rng.integers(0, n_syms, size=n)
        tss = np.arange(n, dtype=np.int64)
        ids = np.arange(n, dtype=np.int64)

        # reference: loop per key segment
        expected = []
        start = 0
        while start < n:
            end = start
            k = keys[start]
            while end < n and keys[end] == k:
                end += 1
            rows, _ = _run_sdfa_segment(
                syms[start:end], tss[start:end], ids[start:end],
                delta, take, finals, 0, "count", resets,
            )
            expected.extend((k, *r) for r in rows)
            start = end

        # vectorized, split into random batch chunks with carry
        cuts = sorted(
            set([0, n] + list(rng.integers(0, n + 1, size=int(rng.integers(0, 4)))))
        )
        got = []
        open_key, carry = None, None
        for lo, hi in zip(cuts, cuts[1:]):
            rows, carry = _run_sdfa_batch_vectorized(
                keys[lo:hi], syms[lo:hi], tss[lo:hi], ids[lo:hi],
                delta, take, finals, resets,
                carry=carry if keys[lo] == open_key else None,
            )
            open_key = keys[hi - 1]
            got.extend(rows)
        assert [tuple(int(x) for x in r) for r in got] == [
            tuple(int(x) for x in r) for r in expected
        ], f"trial {trial}"
