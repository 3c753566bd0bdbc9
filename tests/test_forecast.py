"""Waiting-time distribution + forecast stack tests.

Golden model: a deterministic 2-symbol stream where the pattern ;(A,B)
over an i.i.d.-ish source has hand-computable waiting times, plus
randomized FULLSCAN==SMARTSCAN equivalence (the reference tests
smart-scan against exhaustive computation the same way)."""

from __future__ import annotations

import random

import pandas as pd
import pytest

from flink_rtcef_spark.models.cst import CounterSuffixTree
from flink_rtcef_spark.models.pst import learn_pst
from flink_rtcef_spark.models.spst import SPST, train_spst
from flink_rtcef_spark.models.wt import WtDistribution
from flink_rtcef_spark.operators.cep import BatchCEP
from flink_rtcef_spark.operators.forecast import ForecastCEP, evaluate_forecasts
from flink_rtcef_spark.plans.compiler import compile_pattern

PAT_AB = ";(IsEventTypePredicate(A),IsEventTypePredicate(B)){order:1}{partitionBy:k}"
DECLS_AB = "~(IsEventTypePredicate(A),IsEventTypePredicate(B))"


def rand_dist(rng, h=10):
    raw = [rng.random() for _ in range(h)]
    s = sum(raw) * 1.25  # leave mass beyond the horizon
    return WtDistribution({i + 1: v / s for i, v in enumerate(raw)})


@pytest.mark.parametrize("seed", range(10))
def test_fullscan_equals_smartscan(seed):
    rng = random.Random(seed)
    wt = rand_dist(rng)
    for thr in (0.2, 0.4, 0.6):
        full = wt._fullscan(thr, 10)
        smart = wt._smartscan(thr, 10)
        assert full.valid == smart.valid
        if full.valid:
            assert (full.start, full.end) == (smart.start, smart.end)
            assert full.prob == pytest.approx(smart.prob)


def test_classify_nextk_semantics():
    wt = WtDistribution({1: 0.3, 2: 0.2, 3: 0.1, 4: 0.4})
    fc = wt.forecast("classify_nextk", confidence_threshold=0.45, spread=2)
    assert (fc.start, fc.end) == (1, 2)
    assert fc.prob == pytest.approx(0.5)
    assert fc.positive
    fc2 = wt.forecast("classify_nextk", confidence_threshold=0.6, spread=2)
    assert not fc2.positive


def test_argmax_spread_constraint():
    wt = WtDistribution({1: 0.05, 2: 0.6, 3: 0.05, 4: 0.3})
    fc = wt.forecast("argmax", confidence_threshold=0.5, spread=5)
    assert (fc.start, fc.end) == (2, 2)
    assert fc.middle == 2.0
    # tight threshold forces growth beyond allowed spread
    fc2 = wt.forecast("argmax", confidence_threshold=0.99, spread=1)
    assert not fc2.valid


def _geometric_spst(p_b: float, horizon: int) -> SPST:
    """SPST for ;(A,B) over an i.i.d. source P(B)=p_b: from the start
    state the waiting time of the full match is P(first AB-completion at
    t).  Build from an explicit CST of a long synthetic stream."""
    rng = random.Random(42)
    seq = [1 if rng.random() < p_b else 0 for _ in range(20000)]
    compiled = compile_pattern(PAT_AB, DECLS_AB)
    # map stream symbols to minterm ids: find minterm for A-only, B-only
    a_sym = b_sym = None
    for i, mt in enumerate(compiled.minterms):
        d = mt.as_dict()
        if d["IsEventTypePredicate(A)"] and not d["IsEventTypePredicate(B)"]:
            a_sym = i
        if d["IsEventTypePredicate(B)"] and not d["IsEventTypePredicate(A)"]:
            b_sym = i
    mapped = [a_sym if s == 0 else b_sym for s in seq]
    cst = CounterSuffixTree.from_sequence(mapped, max_order=1)
    symbols = list(range(len(compiled.minterms)))
    pst = learn_pst(cst, symbols, 1, 0.0001, 0.0, 0.0001, 1.05, with_missing=True)
    spst = SPST(compiled=compiled, pst=pst, max_order=1)
    spst._expand()
    spst.compute_wt_dists(horizon, cutoff=0.0, only_started=False)
    return spst


def test_wt_distribution_matches_markov_truth():
    """For i.i.d. symbols with P(B)=0.3, from the fresh-start state the
    first completion of A;B at time t has probability that satisfies
    q(t) = P(first AB at t).  Check t=2,3 by hand: q(2)=P(A)P(B)=0.21,
    q(3)=P(A at 2)P(B at 3) given no completion at 2... compute via
    explicit 3-step enumeration."""
    p_b = 0.3
    p_a = 0.7
    spst = _geometric_spst(p_b, horizon=3)
    wt = spst.wt[0]  # start virtual state
    # enumerate words of length 3 over {A,B} and find first completion
    probs = {1: 0.0, 2: 0.0, 3: 0.0}
    for w in range(8):
        word = [(w >> i) & 1 for i in range(3)]  # 1 = B
        p = 1.0
        for s in word:
            p *= p_b if s else p_a
        # first index t (1-based) with word[t-1]==B and word[t-2]==A
        first = 0
        for t in range(2, 4):
            if word[t - 1] == 1 and word[t - 2] == 0:
                first = t
                break
        if first:
            probs[first] += p
    assert wt.wt[1] == pytest.approx(0.0, abs=1e-9)
    assert wt.wt[2] == pytest.approx(probs[2], abs=0.02)
    assert wt.wt[3] == pytest.approx(probs[3], abs=0.02)


def test_distance_band_filters_far_states():
    """computeWtDistsOpt(distance) parity: the band keeps only states
    whose expected remaining steps (normalized) fall inside [lo, hi]."""
    spst = _geometric_spst(0.3, horizon=6)
    n_all = len(spst.wt)
    pct = spst.remaining_percentage()
    assert pct and all(0.0 <= v <= 1.0 for v in pct.values())
    # keep only near-completion states: band up to the median percentage
    cut = sorted(pct.values())[len(pct) // 2]
    spst.filter_by_distance(0.0, cut)
    assert 0 < len(spst.wt) <= n_all
    assert all(pct[v] <= cut for v in spst.wt)
    # the state just after seeing A is closer to completion than start
    assert min(pct.values()) < max(pct.values())
    # the reference default (-1) disables filtering
    spst2 = _geometric_spst(0.3, horizon=6)
    spst2.filter_by_distance(-1.0, -1.0)
    assert len(spst2.wt) == n_all


def test_forecast_operator_end_to_end(spark):
    """Train on a synthetic keyed stream, forecast with classify_nextk,
    evaluate: the pipeline runs distributed and yields sane outputs."""
    rng = random.Random(3)
    rows = []
    for key in ("k1", "k2"):
        for t in range(400):
            et = "B" if rng.random() < 0.3 else "A"
            rows.append((key, t + 1, t, et))
    pdf = pd.DataFrame(rows, columns=["k", "timestamp", "id", "event_type"])
    df = spark.createDataFrame(pdf)
    compiled = compile_pattern(PAT_AB, DECLS_AB)
    cep = BatchCEP(compiled, ts_col="timestamp", id_col="id")
    spst = train_spst(
        cep.symbolized(df),
        compiled,
        max_order=1,
        pmin=0.0001,
        gamma_min=0.0001,
        horizon=5,
        cutoff=0.0,
    )
    fcep = ForecastCEP(
        spst,
        key_col="k",
        ts_col="timestamp",
        id_col="id",
        method="classify_nextk",
        confidence_threshold=0.4,
        spread=3,
    )
    results = fcep.forecasts(df)
    pdf_out = results.toPandas()
    dets = pdf_out[pdf_out.is_detection]
    fcs = pdf_out[~pdf_out.is_detection]
    assert len(dets) > 50  # ~0.21 * 400 * 2 detections expected
    assert len(fcs) > 100
    assert (fcs.start_ctr > fcs.counter).all()
    # evaluation produces per-key metrics with plausible MCC
    ev = evaluate_forecasts(results).toPandas()
    assert set(ev["key"]) == {"k1", "k2"}
    assert ((ev.tp + ev.tn + ev.fp + ev.fn) > 0).all()
    assert (ev.mcc.abs() <= 1.0).all()


def test_reference_report_trajectory_semantics(spark):
    """Hand-built stream pinning the reference reporting chain:
    collector re-evaluation (positive counts FP until its detection
    arrives, then flips to TP across report boundaries), per-key
    cadence (first report at first_ts + distance), silent-window
    suppression, and the log parser's skip-first."""
    import pandas as pd

    from flink_rtcef_spark.operators.forecast import reference_report_trajectory

    # key A: events every 40 s from t=0; a positive forecast emitted at
    # counter 2 with interval [5, 8]; detection at counter 7 (t=240).
    events = [("A", 40 * i, i) for i in range(30)]
    ev_df = spark.createDataFrame(
        pd.DataFrame(events, columns=["key", "ts", "event_id"])
    )
    res = pd.DataFrame(
        [
            # key, ts, event_id, counter, prob, start, end, pos, is_det
            ("A", 80, 2, 3, 0.9, 5, 8, True, False),
            ("A", 240, 6, 7, 1.0, 0, 0, False, True),
            ("A", 320, 8, 9, 0.9, 11, 12, True, False),
        ],
        columns=[
            "key", "ts", "event_id", "counter", "prob",
            "start_ctr", "end_ctr", "positive", "is_detection",
        ],
    )
    res_df = spark.createDataFrame(res)

    # distance 100 s: key A's reports fire at ts>=100 (t=120, ctr 4),
    # ts>=220 (t=240, ctr 7), t=360 (ctr 10), ...  Report 1 sees the
    # first forecast as FP (detection not arrived yet).  Report 2 sees
    # it flipped to TP — but its batch delta is tp=+1, fp=-1, summing
    # to 0, so the reference SUPPRESSES that window (the same quirk as
    # MetricsAggregator.java:63: a pure flip looks silent).  Report 3
    # adds the second forecast as a fresh FP, so its window emits and
    # exposes the flipped cumulative state (tp=1, fp=1).
    traj = reference_report_trajectory(
        res_df, ev_df, reporting_distance=100, skip_first=False
    )
    assert list(traj.tp) == [0, 1]
    assert list(traj.fp) == [1, 1]
    # skip_first drops the first row
    traj2 = reference_report_trajectory(
        res_df, ev_df, reporting_distance=100, skip_first=True
    )
    assert len(traj2) == 1 and traj2.tp.iloc[0] == 1 and traj2.fp.iloc[0] == 1


# ---------------------------------------------------------------------------
# ForecastCEP.confusion == column sums of evaluate_forecasts(forecasts(df))

CONFUSION = ["tp", "tn", "fp", "fn"]


@pytest.fixture
def small_arrow_batches(spark):
    """7-row Arrow batches, so keys straddle batch boundaries and the
    kernel's cross-batch carry is exercised."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    yield
    spark.conf.set(key, prev)


def _assert_confusion_is_reference(fcep, df) -> pd.DataFrame:
    ref = evaluate_forecasts(fcep.forecasts(df)).toPandas()
    assert fcep.confusion(df) == {c: int(ref[c].sum()) for c in CONFUSION}
    return ref


def _ab_stream(spark):
    """Two ordinary keys, a NULL key and a key that only ever sees A
    (forecasts, never a detection); ids unique across keys."""
    rng = random.Random(3)
    rows = []
    for key in ("k1", "k2", None, "onlyA"):
        for t in range(60):
            et = "B" if key != "onlyA" and rng.random() < 0.3 else "A"
            rows.append((key, t + 1, len(rows), et))
    pdf = pd.DataFrame(rows, columns=["k", "timestamp", "id", "event_type"])
    return spark.createDataFrame(pdf, "k string, timestamp long, id long, event_type string")


def _ab_forecaster(df, pattern=PAT_AB):
    compiled = compile_pattern(pattern, DECLS_AB)
    cep = BatchCEP(compiled, key_col="k", ts_col="timestamp", id_col="id")
    spst = train_spst(
        cep.symbolized(df), compiled, max_order=1,
        pmin=0.0001, gamma_min=0.0001, horizon=5, cutoff=0.0,
    )
    return ForecastCEP(
        spst, key_col="k", ts_col="timestamp", id_col="id",
        method="classify_nextk", confidence_threshold=0.4, spread=3,
    )


@pytest.mark.parametrize("arrow_batch", ["default", "7 rows"])
def test_confusion_equals_reference_with_null_and_detectionless_keys(
    spark, request, arrow_batch
):
    if arrow_batch == "7 rows":
        request.getfixturevalue("small_arrow_batches")
    df = _ab_stream(spark)
    fcep = _ab_forecaster(df)
    out = fcep.forecasts(df).toPandas()
    null_rows = out[out.key.isna()]
    only_a = out[out.key == "onlyA"]
    # the cases are really there: the NULL key has detections inside
    # its forecasts' reach, the A-only key forecasts but never detects
    assert null_rows.is_detection.any() and (~null_rows.is_detection).any()
    assert len(only_a) > 0 and not only_a.is_detection.any()
    ref = _assert_confusion_is_reference(fcep, df)
    null_ref = ref[ref.key.isna()].iloc[0]
    assert null_ref.tp == 0 and null_ref.fn == 0  # a NULL key never hits
    assert int(ref.tp.sum()) > 0


def test_confusion_equals_reference_windowed_pattern(spark, small_arrow_batches):
    df = _ab_stream(spark)
    windowed = PAT_AB + "{window:4}"
    fcep = _ab_forecaster(df, windowed)
    assert fcep.compiled.window > 0
    _assert_confusion_is_reference(fcep, df)


def test_confusion_equals_reference_finance_order3(spark, small_arrow_batches):
    from tests.test_finance_trajectory import DECLS, PATTERN, synth_finance

    df = spark.createDataFrame(synth_finance(n_cards=12, n_events=200, seed=5))
    compiled = compile_pattern(PATTERN, DECLS)
    cep = BatchCEP(compiled, key_col="pan", ts_col="timestamp", id_col="id")
    spst = train_spst(
        cep.symbolized(df), compiled, max_order=3,
        pmin=1e-4, gamma_min=0.001, r=1.05, horizon=10,
    )
    fcep = ForecastCEP(
        spst, key_col="pan", ts_col="timestamp", id_col="id",
        method="classify_nextk", confidence_threshold=0.3, spread=5,
    )
    ref = _assert_confusion_is_reference(fcep, df)
    assert (ref[CONFUSION].sum() > 0).all()


def test_confusion_of_empty_input_is_zero(spark):
    df = _ab_stream(spark)
    fcep = _ab_forecaster(df)
    empty = df.limit(0)
    assert fcep.confusion(empty) == dict.fromkeys(CONFUSION, 0)
    _assert_confusion_is_reference(fcep, empty)
