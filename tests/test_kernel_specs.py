"""The kernel-spec contract, driver-only (no Spark): every spec that
the batch operators (operators/cep.run_spec) and the streaming fast
path run alike must give the same rows however a key's events are cut.

- Arrow batches: ``spec_partition`` over the events cut into batches at
  any points, each key's carry handed across them, gives the rows of
  the uncut events; the SDFA's vectorized scan gives the loop's rows
  under the same cuts.
- microbatches: the fast path's partition runner over the events cut
  into microbatches, each key's carry handed on as its state row
  (``dump`` then ``load``), gives the same rows and the same final
  carries.

RESET is declared in every SDFA alphabet and ids start at 2**60, so a
float64 pass anywhere rounds them."""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from flink_rtcef_spark.models.cst import CounterSuffixTree, cst_counts_pandas
from flink_rtcef_spark.models.spst import spst_from_cst
from flink_rtcef_spark.operators.cep import _SdfaSpec, spec_partition
from flink_rtcef_spark.operators.cep_register import _RegisterSpec
from flink_rtcef_spark.operators.forecast import _ForecastSpec
from flink_rtcef_spark.operators.multi_cep import _MultiSpec
from flink_rtcef_spark.plans.compiler import compile_pattern, compile_patterns
from flink_rtcef_spark.plans.nsra import compile_register_pattern
from flink_rtcef_spark.streaming.fastpath import _make_partition_runner, _wide_frame
from tests.test_cep import _sym_of
from tests.test_cep_register import _eval_sent

A, B, C = (f"IsEventTypePredicate({t})" for t in "ABC")
DECLS = (
    "+(IsEventTypePredicate(RESET))\n"
    f"~({A},{B},{C},IsEventTypePredicate(RESET))"
)
SEQ = f";({A},{B}){{partitionBy:k}}"
BIG = 2**60


@functools.lru_cache(maxsize=None)
def _spec(name):
    if name == "sdfa":
        return _SdfaSpec(compile_pattern(SEQ, DECLS))
    if name == "windowed":
        return _SdfaSpec(compile_pattern(SEQ + "{window:3}", DECLS))
    if name == "time_windowed":
        return _SdfaSpec(
            compile_pattern(SEQ + "{windowType:time}{window:4}", DECLS)
        )
    if name == "kleene":
        return _SdfaSpec(compile_pattern(f";({A},*({B}),{C}){{partitionBy:k}}", DECLS))
    if name == "multi":
        return _MultiSpec(
            compile_patterns(f"{SEQ}&;({C},{C}){{partitionBy:k}}{{window:5}}", DECLS)
        )
    if name == "register":
        return _RegisterSpec(compile_register_pattern(
            f'#(;({A}["x"],^({B},GTAttr(value,"x")))){{partitionBy:k}}{{window:4}}'
        ))
    # forecast: an order-1 SPST counted on a fixed sequence, no Spark
    compiled = compile_pattern(SEQ + "{order:1}", DECLS)
    seq = "AABABCABBAARESETAB" * 4
    types = [t for t in seq.replace("RESET", "R")]
    syms = [_sym_of(compiled, "RESET" if t == "R" else t) for t in types]
    train = pd.DataFrame({"key": "k", "symbol": np.array(syms, dtype=np.int64)})
    cst = CounterSuffixTree.from_counts(*cst_counts_pandas(train, 1))
    spst = spst_from_cst(
        cst, compiled, 1, pmin=0.0001, gamma_min=0.0001, horizon=5, cutoff=0.0
    )
    return _ForecastSpec(spst, confidence_threshold=0.4, spread=3)


def _events(spec, events) -> pd.DataFrame:
    """``spec.event_cols`` of ``events`` (key, event type, value), key-
    sorted with ts = position, computed on the driver."""
    events = sorted(events, key=lambda e: e[0])
    cols = {
        "key": [e[0] for e in events],
        "ts": np.arange(1, len(events) + 1, dtype=np.int64),
        "event_id": np.arange(BIG, BIG + len(events), dtype=np.int64),
    }
    if isinstance(spec, _RegisterSpec):
        evs = [{"event_type": t, "value": float(v)} for _, t, v in events]
        cols["bits"] = np.array([
            sum(1 << i for i, a in enumerate(spec.compiled.static_atoms)
                if _eval_sent(a, e, {}))
            for e in evs
        ], dtype=np.int64)
        cols["value"] = np.array([e["value"] for e in evs])
    else:
        for name, p in zip(spec.event_cols[3:], spec.patterns):
            cols[name] = np.array(
                [_sym_of(p, t) for _, t, _ in events], dtype=np.int32
            )
    return pd.DataFrame(cols)


def _rows(frames) -> list:
    """The rows of ``frames`` as tuples of Python values, in a fixed
    order: a columnar kernel emits a segment's detections before its
    forecasts, so a cut reorders rows without changing them."""
    return sorted(
        (
            tuple(x.item() if isinstance(x, np.generic) else x for x in r)
            for f in frames for r in f.itertuples(index=False)
        ),
        key=repr,
    )


def _batch_rows(spec, pdf, cuts) -> list:
    run = spec_partition(spec)
    return _rows(run([pdf.iloc[lo:hi] for lo, hi in zip(cuts, cuts[1:])]))


def _stream(spec, pdf, cuts):
    """The fast path's driver-route walk over the microbatches ``cuts``
    makes of ``pdf``: its rows, and each key's final carry."""
    run = _make_partition_runner(spec)
    carried = spec.out.carried
    outs, st = [], None
    for lo, hi in zip(cuts, cuts[1:]):
        [out] = run([_wide_frame(spec, pdf.iloc[lo:hi], st)])
        outs.append(out[out["kind"] == 0][["key", *spec.out.row]])
        st = out[out["kind"] == 1][["key", *carried]]
    carries = {
        r["key"]: spec.load(*(r[c] for c in carried[:-1]))
        for r in st.to_dict("records")
    }
    return _rows(outs), carries


SPECS = ["sdfa", "windowed", "time_windowed", "kleene", "multi", "register", "forecast"]
EVENTS = st.lists(
    st.tuples(
        st.sampled_from(["k1", "k2", "k3"]),
        st.sampled_from(["A", "A", "B", "B", "C", "RESET"]),
        st.integers(0, 3),
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=300, deadline=None)
@given(
    name=st.sampled_from(SPECS),
    events=EVENTS,
    cuts=st.lists(st.integers(0, 30), max_size=4),
)
def test_cut_events_give_the_uncut_rows(name, events, cuts):
    spec = _spec(name)
    pdf = _events(spec, events)
    n = len(pdf)
    cuts = sorted({0, n, *(c for c in cuts if c < n)})
    whole = _batch_rows(spec, pdf, [0, n])
    assert _batch_rows(spec, pdf, cuts) == whole
    rows, carries = _stream(spec, pdf, cuts)
    assert rows == whole
    assert carries == _stream(spec, pdf, [0, n])[1]


@settings(max_examples=100, deadline=None)
@given(
    name=st.sampled_from(["sdfa", "kleene"]),
    events=EVENTS,
    cuts=st.lists(st.integers(0, 30), max_size=4),
)
def test_vectorized_scan_equals_the_loop(name, events, cuts):
    spec = _spec(name)
    assert spec.vectorized
    pdf = _events(spec, events)
    cuts = sorted({0, len(pdf), *(c for c in cuts if c < len(pdf))})
    loop = _SdfaSpec(spec.compiled)
    loop.vectorized = False
    assert _batch_rows(spec, pdf, cuts) == _batch_rows(loop, pdf, cuts)
