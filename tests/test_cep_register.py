"""SREMO register patterns (B14): NSRA runtime vs an independent
derivational matcher, plus the Spark operator vs DuckDB.

The brute-force matcher interprets the (rewritten) formula directly —
recursive descent over the AST with explicit valuations — sharing no
code with the NSRA build/config-set loop it validates (same
two-independent-implementations strategy as test_automata.py).
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from flink_rtcef_spark.plans.nsra import (
    compile_register_pattern,
    is_register_ref,
)
from flink_rtcef_spark.plans.rewrite import apply_selection
from flink_rtcef_spark.plans.sre_ast import (
    And,
    Choice,
    Empty,
    Iter,
    Not,
    Or,
    Predicate,
    Sent,
    Seq,
    TrueSentence,
)
from flink_rtcef_spark.plans.sre_parser import parse_pattern
from flink_rtcef_spark.operators.cep_register import _run_nsra_segment


# ------------------------------------------------ independent brute matcher
def _eval_sent(s, ev, val):
    if isinstance(s, TrueSentence):
        return True
    if isinstance(s, Predicate):
        if any(is_register_ref(a) for a in s.args):
            attr, reg = str(s.args[0]), s.args[1].strip('"')
            if reg not in val:
                return False
            stored = val[reg][attr]
            cur = ev[attr]
            if s.name == "EQAttr":
                return float(cur) == float(stored)
            if s.name == "EQAttrStr":
                return str(cur) == str(stored)
            if s.name == "GTAttr":
                return float(cur) > float(stored)
            if s.name == "LTAttr":
                return float(cur) < float(stored)
            raise KeyError(s.name)
        if s.name in ("IsEventTypePredicate", "IsEventType"):
            return ev["event_type"] == str(s.args[0])
        if s.name == "GT":
            return float(ev[str(s.args[0])]) > float(s.args[1])
        if s.name == "LT":
            return float(ev[str(s.args[0])]) < float(s.args[1])
        if s.name == "EQ":
            return float(ev[str(s.args[0])]) == float(s.args[1])
        raise KeyError(s.name)
    if isinstance(s, Not):
        return not _eval_sent(s.child, ev, val)
    if isinstance(s, And):
        return all(_eval_sent(c, ev, val) for c in s.children)
    if isinstance(s, Or):
        return any(_eval_sent(c, ev, val) for c in s.children)
    raise TypeError(type(s))


def _vkey(val):
    return tuple(sorted((r, tuple(sorted(e.items()))) for r, e in val.items()))


def _match_set(f, events, pos, val, matched=()):
    """All (end, valuation, matched-ids) triples derivable by matching
    f at pos.  ``matched`` accumulates the ids of TAKE (marked-sentence)
    events — the reference Match's events list."""
    if isinstance(f, Sent):
        if pos < len(events) and _eval_sent(f.sentence, events[pos], val):
            regs = {a.register for a in f.sentence.atoms() if a.register}
            nv = dict(val)
            for r in regs:
                nv[r] = events[pos]
            nm = matched + (events[pos]["_id"],) if f.marked else matched
            return {(pos + 1, _vkey(nv), nm): nv}
        return {}
    if isinstance(f, Empty):
        return {(pos, _vkey(val), matched): val}
    if isinstance(f, Seq):
        frontier = {(pos, _vkey(val), matched): val}
        for c in f.children:
            nxt = {}
            for (p, _, m), v in frontier.items():
                nxt.update(_match_set(c, events, p, v, m))
            frontier = nxt
        return frontier
    if isinstance(f, Choice):
        out = {}
        for c in f.children:
            out.update(_match_set(c, events, pos, val, matched))
        return out
    if isinstance(f, Iter):
        out = {(pos, _vkey(val), matched): val}
        frontier = dict(out)
        while frontier:
            nxt = {}
            for (p, _, m), v in frontier.items():
                for k, nv in _match_set(f.child, events, p, v, m).items():
                    if k not in out:
                        out[k] = nv
                        nxt[k] = nv
            frontier = nxt
        return out
    raise TypeError(type(f))


def _brute_detections(formula, events, window):
    """Detection at i iff some substring events[j..i] of length <= window
    is fully consumed by the formula (strict derivational semantics)."""
    hits = []
    for i in range(len(events)):
        found = None
        for j in range(max(0, i - window + 1), i + 1):
            sub = events[j : i + 1]
            ends = _match_set(formula, sub, 0, {})
            if any(p == len(sub) for (p, _, _) in ends):
                found = j
                break  # earliest start
        if found is not None:
            hits.append((i, found))
    return hits


def _brute_matches(formula, events, window):
    """Full enumeration: event index -> set of matched-id tuples for
    every match ending there (length <= window)."""
    out: dict[int, set] = {}
    for i in range(len(events)):
        for j in range(max(0, i - window + 1), i + 1):
            sub = events[j : i + 1]
            for (p, _, m) in _match_set(formula, sub, 0, {}):
                if p == len(sub):
                    out.setdefault(i, set()).add(m)
    return out


def _gen_events(rng, n):
    return [
        {
            "_id": i,
            "event_type": rng.choice(["A", "B"]),
            "value": float(rng.randint(0, 3)),
        }
        for i in range(n)
    ]


PATTERNS = [
    # adjacent pair with register equality
    ';(IsEventTypePredicate(A)["x"],^(IsEventTypePredicate(B),EQAttr(value,"x")))'
    "{partitionBy:k}{window:2}",
    # skip-till-any with a strict increase over the stored event
    '#(;(IsEventTypePredicate(A)["x"],^(IsEventTypePredicate(B),GTAttr(value,"x"))))'
    "{partitionBy:k}{window:4}",
    # Kleene body referencing the register
    ';(IsEventTypePredicate(A)["x"],*(^(IsEventTypePredicate(A),EQAttr(value,"x"))),'
    "IsEventTypePredicate(B)){partitionBy:k}{window:4}",
    # two registers
    ';(IsEventTypePredicate(A)["x"],IsEventTypePredicate(B)["y"],'
    '^(IsEventTypePredicate(B),GTAttr(value,"x"),LTAttr(value,"y")))'
    "{partitionBy:k}{window:3}",
]


@pytest.mark.parametrize("pattern_text", PATTERNS)
def test_nsra_matches_brute_force(pattern_text):
    cp = compile_register_pattern(pattern_text)
    formula = apply_selection(parse_pattern(pattern_text).formula)
    rng = random.Random(7)
    for trial in range(30):
        events = _gen_events(rng, rng.randint(5, 40))
        expected = _brute_detections(formula, events, cp.window)
        # static bits: evaluate static atoms directly
        bits = np.array(
            [
                sum(
                    (1 << i)
                    for i, a in enumerate(cp.static_atoms)
                    if _eval_sent(a, ev, {})
                )
                for ev in events
            ],
            dtype=np.int64,
        )
        ts = np.arange(len(events), dtype=np.int64)
        ids = np.arange(len(events), dtype=np.int64)
        attrs = {
            a: np.array([ev[a] for ev in events]) for a in cp.register_attrs
        }
        rows, _ = _run_nsra_segment(
            bits, ts, ids, attrs, cp.table, frozenset(cp.nsra.finals),
            cp.start_states, cp.window, cp.window_type,
        )
        got = [(int(r[0]), int(r[3]) - 1) for r in rows]  # (index, start idx)
        assert [g[0] for g in got] == [e[0] for e in expected], (
            f"trial {trial}: detection indices diverge\n{events}"
        )
        # earliest-start parity (min_counter is 1-based)
        assert got == expected, f"trial {trial}: match starts diverge\n{events}"


def test_cross_batch_carry_equals_single_pass():
    cp = compile_register_pattern(PATTERNS[1])
    rng = random.Random(11)
    events = _gen_events(rng, 60)
    bits = np.array(
        [
            sum((1 << i) for i, a in enumerate(cp.static_atoms) if _eval_sent(a, ev, {}))
            for ev in events
        ],
        dtype=np.int64,
    )
    ts = np.arange(60, dtype=np.int64)
    ids = np.arange(60, dtype=np.int64)
    attrs = {a: np.array([ev[a] for ev in events]) for a in cp.register_attrs}
    args = (cp.table, frozenset(cp.nsra.finals), cp.start_states, cp.window, cp.window_type)
    whole, _ = _run_nsra_segment(bits, ts, ids, attrs, *args)
    split = []
    carry = None
    for lo, hi in [(0, 17), (17, 18), (18, 60)]:
        seg_attrs = {a: arr[lo:hi] for a, arr in attrs.items()}
        rows, carry = _run_nsra_segment(
            bits[lo:hi], ts[lo:hi], ids[lo:hi], seg_attrs, *args, init=carry
        )
        split.extend(rows)
    assert split == whole


ENUM_PATTERNS = PATTERNS + [
    # register-free skip-till-any: the NSFA match-enumeration path (F2)
    "#(;(IsEventTypePredicate(A),IsEventTypePredicate(B))){partitionBy:k}{window:4}",
    # register-free with Kleene
    ";(IsEventTypePredicate(A),*(IsEventTypePredicate(A)),IsEventTypePredicate(B))"
    "{partitionBy:k}{window:3}",
]


@pytest.mark.parametrize("pattern_text", ENUM_PATTERNS)
def test_match_enumeration_matches_brute_force(pattern_text):
    cp = compile_register_pattern(pattern_text, require_registers=False)
    formula = apply_selection(parse_pattern(pattern_text).formula)
    rng = random.Random(23)
    for trial in range(20):
        events = _gen_events(rng, rng.randint(5, 30))
        expected = _brute_matches(formula, events, cp.window)
        bits = np.array(
            [
                sum(
                    (1 << i)
                    for i, a in enumerate(cp.static_atoms)
                    if _eval_sent(a, ev, {})
                )
                for ev in events
            ],
            dtype=np.int64,
        )
        ts = np.arange(len(events), dtype=np.int64)
        ids = np.arange(len(events), dtype=np.int64)
        attrs = {a: np.array([ev[a] for ev in events]) for a in cp.register_attrs}
        rows, _ = _run_nsra_segment(
            bits, ts, ids, attrs, cp.table, frozenset(cp.nsra.finals),
            cp.start_states, cp.window, cp.window_type,
            enumerate_matches=True,
        )
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(int(r[0]), set()).add(tuple(r[5]))
        assert got == expected, f"trial {trial}\n{events}"


def test_match_enumeration_spark(spark):
    import duckdb

    from flink_rtcef_spark.operators.cep_register import RegisterCEP
    from flink_rtcef_spark.sources.io import load_table

    sf_dir = "/root/testdata/sf0.001"
    cp = compile_register_pattern(
        ";(IsEventTypePredicate(view),IsEventTypePredicate(click),"
        "IsEventTypePredicate(purchase)){partitionBy:user_id}{window:3}",
        require_registers=False,
    )
    ev = load_table(spark, sf_dir, "events")
    got = RegisterCEP(cp, ts_col="ts", id_col="event_id").matches(ev).collect()
    # each match lists exactly its three TAKE events, ending at the
    # detection event
    for r in got:
        assert len(r["matched_event_ids"]) == 3
        assert r["matched_event_ids"][-1] == r["detection_event_id"]
        assert r["n_matched"] == 3
    # detection set equals the deterministic SQL formulation
    want = duckdb.sql(
        f"""
        WITH seq AS (
          SELECT user_id, event_id, event_type,
                 LEAD(event_type, 1) OVER w AS n1, LEAD(event_type, 2) OVER w AS n2,
                 LEAD(event_id, 2) OVER w AS final_id
          FROM '{sf_dir}/events.parquet'
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, final_id FROM seq
        WHERE event_type='view' AND n1='click' AND n2='purchase'
        ORDER BY user_id, final_id
        """
    ).fetchall()
    assert sorted((r["key"], r["detection_event_id"]) for r in got) == [
        (u, e) for u, e in want
    ]


def test_compile_rejects_windowless_and_registerless():
    with pytest.raises(ValueError, match="window"):
        compile_register_pattern(
            ';(IsEventTypePredicate(A)["x"],EQAttr(value,"x")){partitionBy:k}'
        )
    with pytest.raises(ValueError, match="register"):
        compile_register_pattern(
            ";(IsEventTypePredicate(A),IsEventTypePredicate(B)){partitionBy:k}{window:2}"
        )


def test_streaming_register_equals_batch(spark, tmp_path):
    """Chunked file-stream replay of a register pattern: the pickled
    configuration-set state must survive microbatch boundaries and
    reproduce the batch operator exactly."""
    import pandas as pd

    from flink_rtcef_spark.operators.cep_register import RegisterCEP
    from flink_rtcef_spark.streaming.fastpath_register import start_fastpath_register

    rng = random.Random(5)
    rows = []
    for k in ("a", "b", "c"):
        for i, ev in enumerate(_gen_events(rng, 120)):
            rows.append(
                {
                    "k": k,
                    "timestamp": i,
                    "id": len(rows),
                    "event_type": ev["event_type"],
                    "value": ev["value"],
                }
            )
    pdf = pd.DataFrame(rows)
    cp = compile_register_pattern(PATTERNS[1])  # skip-till-any + GTAttr

    src = tmp_path / "src"
    src.mkdir()
    chunks = np.array_split(pdf.sort_values("timestamp"), 5)
    for c, chunk in enumerate(chunks):
        spark.createDataFrame(chunk).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"c{c}")
        )
    schema = "k string, timestamp long, id long, event_type string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "c*"))
    )
    collected = []
    q = start_fastpath_register(
        stream, cp,
        state_dir=str(tmp_path / "state"), checkpoint_dir=str(tmp_path / "ckpt"),
        sink=lambda df, batch_id: collected.append(df.toPandas()),
        ts_col="timestamp", id_col="id",
    )
    assert q.awaitTermination(600), "stream did not drain"
    got = pd.concat(collected, ignore_index=True)

    batch = RegisterCEP(cp, ts_col="timestamp", id_col="id").detections(
        spark.createDataFrame(pdf)
    ).toPandas()

    gs = got.sort_values(["key", "detection_event_id"]).reset_index(drop=True)
    es = batch.sort_values(["key", "detection_event_id"]).reset_index(drop=True)
    assert len(gs) == len(es) and len(gs) > 0
    assert list(gs["key"]) == list(es["key"].astype(str))
    assert list(gs["detection_event_id"]) == list(es["detection_event_id"])
    assert list(gs["min_counter"]) == list(es["min_counter"])


def test_register_cep_spark_vs_duckdb(spark):
    import duckdb

    from flink_rtcef_spark.operators.cep_register import RegisterCEP
    from flink_rtcef_spark.sources.io import load_table

    sf_dir = "/root/testdata/sf0.001"
    cp = compile_register_pattern(
        ';(IsEventTypePredicate(view)["x"],^(IsEventTypePredicate(click),'
        'GTAttr(value,"x"))){partitionBy:user_id}{window:2}'
    )
    ev = load_table(spark, sf_dir, "events")
    det = RegisterCEP(cp, ts_col="ts", id_col="event_id").detections(ev)
    got = sorted(
        (r["key"], r["detection_event_id"]) for r in det.collect()
    )
    want = duckdb.sql(
        f"""
        WITH seq AS (
          SELECT user_id, event_id, event_type, value,
                 LAG(event_type) OVER w AS prev_type,
                 LAG(value) OVER w AS prev_value
          FROM '{sf_dir}/events.parquet'
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, event_id FROM seq
        WHERE prev_type = 'view' AND event_type = 'click' AND value > prev_value
        ORDER BY user_id, event_id
        """
    ).fetchall()
    assert got == [(u, e) for u, e in want]


def test_streaming_register_checkpoint_restart(spark, tmp_path):
    """Kill the query after half the input, restart from the
    checkpoint: the pickled configuration-set state must recover and
    the union of both runs' outputs must equal the batch result (A20
    for the register path)."""
    import pandas as pd

    from flink_rtcef_spark.operators.cep_register import RegisterCEP
    from flink_rtcef_spark.streaming.fastpath_register import start_fastpath_register

    rng = random.Random(29)
    rows = []
    for k in ("a", "b"):
        for i, ev in enumerate(_gen_events(rng, 80)):
            rows.append(
                {"k": k, "timestamp": i, "id": len(rows),
                 "event_type": ev["event_type"], "value": ev["value"]}
            )
    pdf = pd.DataFrame(rows)
    cp = compile_register_pattern(PATTERNS[0])  # adjacent pair + EQAttr
    src = tmp_path / "src"
    src.mkdir()
    chunks = np.array_split(pdf.sort_values("timestamp"), 4)
    schema = "k string, timestamp long, id long, event_type string, value double"
    ckpt, state = str(tmp_path / "ckpt"), str(tmp_path / "state")
    collected = []

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "c*"))
        )
        q = start_fastpath_register(
            stream, cp, state_dir=state, checkpoint_dir=ckpt,
            sink=lambda df, batch_id: collected.append(df.toPandas()),
            ts_col="timestamp", id_col="id",
        )
        assert q.awaitTermination(600), "stream did not drain"

    for c, chunk in enumerate(chunks[:2]):
        spark.createDataFrame(chunk).coalesce(1).write.mode("overwrite").parquet(str(src / f"c{c}"))
    run_once()
    for c, chunk in enumerate(chunks[2:], start=2):
        spark.createDataFrame(chunk).coalesce(1).write.mode("overwrite").parquet(str(src / f"c{c}"))
    run_once()

    got = pd.concat(collected, ignore_index=True)
    batch = RegisterCEP(cp, ts_col="timestamp", id_col="id").detections(
        spark.createDataFrame(pdf)
    ).toPandas()
    gs = got.sort_values(["key", "detection_event_id"]).reset_index(drop=True)
    es = batch.sort_values(["key", "detection_event_id"]).reset_index(drop=True)
    assert len(gs) == len(es) and len(gs) > 0
    assert list(gs["detection_event_id"]) == list(es["detection_event_id"])
    assert list(gs["counter"]) == list(es["counter"])
