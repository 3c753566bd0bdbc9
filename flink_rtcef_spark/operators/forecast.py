"""Forecast-emitting CEP operator: recognition + forecasting in one
per-key pass (the reference's ForecasterRun / WayebEngine inference
path, WayebEngine.java:442-466 + ForecasterRun.scala:57-102).

Output rows carry counter-relative forecast intervals
(RelativeForecast.scala:102-113): start_ctr/end_ctr are absolute
per-key event counters, so evaluation is a pure interval join against
detections (SURVEY.md §2.F F6) — ``evaluate_forecasts`` as a join,
``ForecastCEP.confusion`` as per-key binary searches inside the same
pass that produced the forecasts.

Scale shape: identical to BatchCEP — ``run_spec`` of the forecast
kernel spec (``_ForecastSpec``, which the streaming fast path runs
too), one shuffle of (key, ts, id, symbol); the SPST tables and the
per-state forecast table broadcast inside the serialized closure (a
few numpy arrays)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_rtcef_spark.functions.metrics import mcc
from flink_rtcef_spark.models.spst import SPST
from flink_rtcef_spark.operators.cep import BatchCEP, _KernelSpec, _out_schema, key_segments

FORECAST_OUTPUT_SCHEMA = (
    "key string, ts long, event_id long, counter long, is_detection boolean, "
    "prob double, start_ctr long, end_ctr long, positive boolean"
)


def swap_mapping(old: SPST, new: SPST) -> np.ndarray:
    """Virtual-state migration table for a synchronized model swap
    (WayebEngine.java:246-292 + Run.snapshotState/restore:576-614): the
    run's observable state is (sdfa_state, symbol buffer); both models
    compile from the same pattern, so each old virtual state maps to
    the new model's state for the same pair (buffer truncated to the
    new max order).  Unreachable pairs fall back to the new start."""
    index_new = {
        (int(new.v_sdfa[v]), new.v_buffer[v]): v for v in range(new.n_virtual)
    }
    mapping = np.zeros(old.n_virtual, dtype=np.int32)
    for v in range(old.n_virtual):
        key = (int(old.v_sdfa[v]), old.v_buffer[v][: new.max_order])
        mapping[v] = index_new.get(key, 0)
    return mapping


def _forecast_run(syms, tss, init, main, swap=None):
    """THE forecast run kernel — of the forecast spec
    (``_ForecastSpec``, batch ForecastCEP.forecasts and streaming) and
    of the scorer (ForecastCEP.confusion).

    One key segment; ``init`` = (state, counter0, swapped) carried
    across Arrow batches / microbatches.  ``main`` = (delta, finals,
    started, ftable, resets); ``swap`` = None or (migrate, sync_time,
    delta2, finals2, started2, ftable2) for the synchronized per-event
    model swap (G4).  Sequential pass computes only the state
    trajectory; emission is vectorized.  Returns per-event arrays
    (counters, det_mask, fc_mask, fstart, fend, fprob, fpos) and the
    carry."""
    delta, finals, started, ftable, resets = main
    if swap is not None:
        migrate, sync_time, delta2, finals2, started2, ftable2 = swap
    n = len(syms)
    states = np.zeros(n, dtype=np.int64)
    state, counter0, swapped = init
    d = delta2 if swapped and swap is not None else delta
    swap_at = 0 if swapped else n
    for i in range(n):
        if not swapped and swap is not None and sync_time is not None and tss[i] >= sync_time:
            # synchronized swap: migrate run state into the new
            # model at this key's first event past syncTime
            state = int(migrate[state])
            d = delta2
            swapped = True
            swap_at = i
        if syms[i] in resets:  # ResetEvent clears run + buffer
            state = 0
        else:
            state = int(d[state, syms[i]])
        states[i] = state
    counters = np.arange(counter0 + 1, counter0 + n + 1)
    pre = slice(0, swap_at)
    post = slice(swap_at, n)
    det_mask = np.zeros(n, dtype=bool)
    det_mask[pre] = finals[states[pre]]
    fc_mask = np.zeros(n, dtype=bool)
    fstart = np.zeros(n)
    fend = np.zeros(n)
    fprob = np.zeros(n)
    fpos = np.zeros(n)
    for sl, fin, strt, ftab in (
        (pre, finals, started, ftable),
        (post, finals2, started2, ftable2) if swap is not None else (post, finals, started, ftable),
    ):
        if sl.stop - (sl.start or 0) <= 0:
            continue
        st = states[sl]
        det_mask[sl] = fin[st]
        rowvals = ftab[st]
        fc_mask[sl] = strt[st] & (rowvals[:, 0] >= 0)
        fstart[sl], fend[sl], fprob[sl], fpos[sl] = (
            rowvals[:, 0], rowvals[:, 1], rowvals[:, 2], rowvals[:, 3]
        )
    carry = (state, int(counters[-1]) if n else counter0, swapped)
    return (counters, det_mask, fc_mask, fstart, fend, fprob, fpos), carry


def _forecast_rows(tss, ids, runs) -> dict:
    """The columns after ``key`` of one segment's output rows (the
    schema of ForecastCEP.forecasts), as arrays: its detections (prob, start_ctr and end_ctr -1,
    positive False), then its forecasts.  ``runs`` are
    ``_forecast_run``'s per-event arrays."""
    counters, det_mask, fc_mask, fstart, fend, fprob, fpos = runs
    di, fi = np.flatnonzero(det_mask), np.flatnonzero(fc_mask)
    idx = np.concatenate([di, fi])
    det = np.arange(len(idx)) < len(di)
    ctr = counters[idx]
    return {
        "ts": tss[idx].astype("int64"),
        "event_id": ids[idx].astype("int64"),
        "counter": ctr,
        "is_detection": det,
        "prob": np.where(det, -1.0, fprob[idx]),
        "start_ctr": np.where(det, -1, ctr + fstart[idx].astype("int64")),
        "end_ctr": np.where(det, -1, ctr + fend[idx].astype("int64")),
        "positive": ~det & (fpos[idx] >= 1.0),
    }


def _forecast_tables(spst: SPST, method: str, confidence_threshold: float, spread: int) -> tuple:
    """``_forecast_run``'s (delta, finals, started, ftable, resets)."""
    return (
        spst.delta,
        spst.finals,
        spst.started,
        spst.forecast_table(method, confidence_threshold, spread),
        spst.compiled.reset_symbols(),
    )


class _ForecastSpec(_KernelSpec):
    """Recognition + forecasting: per-key virtual state + counter,
    detections and forecasts from ``_forecast_run`` — the reference's
    online inference path (WayebEngine.processElement:225-316).  Its
    rows are columnar (``_forecast_rows``).  Forecast state is run
    state, so it expires with the run (ERFEngine.scala:213-216).

    With ``new_model`` a key's run migrates into it at its first event
    with ts >= ``sync_time`` (G4, batch only: the state row carries no
    swap flag, and ``load`` resumes a run as swapped)."""

    # counter ends the row fields so the state row shares its column
    out = _out_schema(
        [
            ("ts", "long"), ("event_id", "long"), ("is_detection", "boolean"),
            ("prob", "double"), ("start_ctr", "long"), ("end_ctr", "long"),
            ("positive", "boolean"), ("counter", "long"),
        ],
        [("counter", "long"), ("state", "int")],
        FORECAST_OUTPUT_SCHEMA,
    )
    event_cols = ["key", "ts", "event_id", "symbol"]

    def __init__(
        self, spst, method="classify_nextk", confidence_threshold=0.5, spread=5,
        new_model: SPST | None = None, sync_time: int | None = None,
    ):
        self.compiled = spst.compiled
        self.patterns = (spst.compiled,)
        self.key = spst.compiled.partition_by
        self.main = _forecast_tables(spst, method, confidence_threshold, spread)
        self.swap = None
        if new_model is not None:
            delta2, finals2, started2, ftable2, _ = _forecast_tables(
                new_model, method, confidence_threshold, spread
            )
            self.swap = (
                swap_mapping(spst, new_model), sync_time, delta2, finals2,
                started2, ftable2,
            )

    def columns(self) -> list:
        return [self.compiled.symbol_column().alias("symbol")]

    @staticmethod
    def load(counter, state):
        return int(state), int(counter), True

    def step(self, cols, seg, carry):
        tss = cols["ts"][seg]
        runs, (st, counter, swapped) = _forecast_run(
            cols["symbol"][seg], tss, carry or (0, 0, self.swap is None),
            self.main, self.swap,
        )
        return (
            _forecast_rows(tss, cols["event_id"][seg], runs),
            (int(st), int(counter), swapped),
        )

    @staticmethod
    def dump(carry):
        st, counter, _ = carry
        return counter, st


CONFUSION_COLUMNS = ["tp", "tn", "fp", "fn"]


def _score_inputs(syms, tss, init, main):
    """One key segment through ``_forecast_run``, reduced to what
    scoring needs: (detection counters, forecast start_ctr, end_ctr,
    positive) — the same values ``_ForecastSpec.step`` emits as rows —
    plus the carry."""
    (counters, det_mask, fc_mask, fstart, fend, _, fpos), carry = _forecast_run(
        syms, tss, init, main
    )
    fc = counters[fc_mask]
    return (
        counters[det_mask],
        fc + fstart[fc_mask].astype("int64"),
        fc + fend[fc_mask].astype("int64"),
        fpos[fc_mask] >= 1.0,
    ), carry


def _score_key(key, pieces) -> np.ndarray:
    """(tp, tn, fp, fn) of one closed key from its ``_score_inputs``
    pieces: a forecast hits iff one of the key's detection counters
    lies in [start_ctr, end_ctr] (counters ascend, so two binary
    searches per forecast).  A NULL key never hits, as ``key = d_key``
    never holds for it in ``evaluate_forecasts``' join."""
    det, start, end, pos = (np.concatenate(col) for col in zip(*pieces))
    if pd.isna(key):
        hit = np.zeros(len(start), dtype=bool)
    else:
        hit = np.searchsorted(det, start, "left") < np.searchsorted(det, end, "right")
    return np.array(
        [(pos & hit).sum(), (~pos & ~hit).sum(), (pos & ~hit).sum(), (~pos & hit).sum()],
        dtype=np.int64,
    )


def _score_batches(batches, main_tables) -> np.ndarray:
    """The scorer of both routes: (tp, tn, fp, fn) of the forecasts of
    one SPST (``main_tables``, ``_forecast_run``'s) over key-sorted
    pandas batches — the Arrow batches of one partition of a
    ``key_sorted`` frame, or the driver's one collected frame.  Each key
    is scored against its own detection counters when its run closes."""

    def step(cols, seg, init):
        return _score_inputs(cols["symbol"][seg], cols["ts"][seg], init, main_tables)

    counts = np.zeros(len(CONFUSION_COLUMNS), dtype=np.int64)
    key, pieces = None, []
    for segs in key_segments(batches, ("symbol", "ts"), (0, 0, True), step):
        for k, continues, piece in segs:
            if pieces and not continues:
                counts += _score_key(key, pieces)
                pieces = []
            key = k
            pieces.append(piece)
    if pieces:
        counts += _score_key(key, pieces)
    return counts


class ForecastCEP(BatchCEP):
    """Recognition + forecasting over a keyed stream with one SPST:
    ``forecasts`` emits the rows, ``confusion`` scores them in one
    shuffle and one Python pass (``confusion_key_sorted`` with none on a
    ``key_sorted`` frame)."""

    def __init__(
        self,
        spst: SPST,
        key_col: str | None = None,
        ts_col: str = "timestamp",
        id_col: str = "id",
        method: str = "classify_nextk",
        confidence_threshold: float = 0.5,
        spread: int = 5,
    ):
        super().__init__(spst.compiled, key_col=key_col, ts_col=ts_col, id_col=id_col)
        self.spst = spst
        self.method = method
        self.confidence_threshold = confidence_threshold
        self.spread = spread

    def _spec(self, new_model: SPST | None = None, sync_time: int | None = None):
        return _ForecastSpec(
            self.spst, self.method, self.confidence_threshold, self.spread,
            new_model, sync_time,
        )

    def forecasts(
        self,
        df: DataFrame,
        new_model: SPST | None = None,
        sync_time: int | None = None,
    ) -> DataFrame:
        """One row per (event, emitted forecast): key, ts, event_id,
        counter, prob, start_ctr, end_ctr, positive — plus detections
        flagged with is_detection (side-output duality, A13: one result
        set with a kind column, split by filter).

        With (new_model, sync_time): per-key synchronized model swap at
        event-time sync_time (G4) — each key's run migrates its state
        into the new model at the first event with ts >= sync_time,
        exactly the reference's per-event swap granularity."""
        return self._run(self._spec(new_model, sync_time), df)

    def confusion(self, df: DataFrame) -> dict[str, int]:
        """Global confusion counts {"tp", "tn", "fp", "fn"} of this
        model's forecasts on ``df``: the column sums of
        ``evaluate_forecasts(self.forecasts(df))`` (its reference), in
        one shuffle and one Python pass instead of two passes and a
        range self-join."""
        return self.confusion_key_sorted(self.key_sorted(df))

    def confusion_key_sorted(self, sorted_df: DataFrame | pd.DataFrame) -> dict[str, int]:
        """``confusion`` of a frame already in ``key_sorted`` shape (or a
        materialization of one): one Python pass and no Exchange, the
        per-partition count rows summed on the driver.  A pandas frame
        (``key_sorted_pandas`` of a collected ``symbolized`` table) is
        scored on the driver by the same kernel, with no Spark job."""
        if isinstance(sorted_df, pd.DataFrame):
            counts = _score_batches([sorted_df], self._spec().main)
            return dict(zip(CONFUSION_COLUMNS, (int(c) for c in counts)))
        rows = self._partition_counts(sorted_df).collect()
        return {c: sum(int(r[c]) for r in rows) for c in CONFUSION_COLUMNS}

    def _confusion_frame(self, df: DataFrame) -> DataFrame:
        """``confusion``'s plan (exposed for the plan audit)."""
        return self._partition_counts(self.key_sorted(df))

    def _partition_counts(self, sorted_df: DataFrame) -> DataFrame:
        """One (tp, tn, fp, fn) row per partition of ``sorted_df``."""
        main_tables = self._spec().main

        def score_partition(batches):
            counts = _score_batches(batches, main_tables)
            yield pd.DataFrame([counts], columns=CONFUSION_COLUMNS)

        return sorted_df.mapInPandas(
            score_partition, schema="tp long, tn long, fp long, fn long"
        )


def evaluate_forecasts_windowed(
    results: DataFrame, window_seconds: int = 3600, ts_unit: str = "millis"
) -> DataFrame:
    """Per-reporting-window confusion counts + batch MCC + cumulative
    runtime MCC — the reference's LOCAL/GLOBAL report trajectory
    (WayebEngine.checkAndReportStats:370-430 + MetricsAggregator):
    batch = this window's counts, runtime = cumulative counts so far.
    Output: (window_start, tp, tn, fp, fn, batch_mcc, runtime_mcc)."""
    from pyspark.sql import Window as W

    from flink_rtcef_spark.functions.metrics import mcc_expr

    divisor = 1000 * window_seconds if ts_unit == "millis" else window_seconds
    forecasts = results.filter(~F.col("is_detection")).select(
        "key",
        "counter",
        "start_ctr",
        "end_ctr",
        "positive",
        ((F.col("ts") / divisor).cast("long") * window_seconds).alias("window_start"),
    )
    detections = results.filter(F.col("is_detection")).select(
        F.col("key").alias("d_key"), F.col("counter").alias("det_ctr")
    )
    joined = forecasts.join(
        detections,
        (forecasts.key == detections.d_key)
        & (detections.det_ctr >= forecasts.start_ctr)
        & (detections.det_ctr <= forecasts.end_ctr),
        "left",
    )
    per_forecast = joined.groupBy(
        "window_start", "key", "counter", "start_ctr", "positive"
    ).agg((F.count("det_ctr") > 0).alias("hit"))
    pos, hit = F.col("positive"), F.col("hit")
    per_window = per_forecast.groupBy("window_start").agg(
        F.sum((pos & hit).cast("long")).alias("tp"),
        F.sum(((~pos) & (~hit)).cast("long")).alias("tn"),
        F.sum((pos & (~hit)).cast("long")).alias("fp"),
        F.sum(((~pos) & hit).cast("long")).alias("fn"),
    )
    cum = W.orderBy("window_start").rowsBetween(W.unboundedPreceding, W.currentRow)
    ctp, ctn, cfp, cfn = (F.sum(c).over(cum) for c in ("tp", "tn", "fp", "fn"))
    return per_window.select(
        "window_start",
        "tp",
        "tn",
        "fp",
        "fn",
        F.round(mcc_expr(F.col("tp"), F.col("tn"), F.col("fp"), F.col("fn")), 6).alias(
            "batch_mcc"
        ),
        F.round(mcc_expr(ctp, ctn, cfp, cfn), 6).alias("runtime_mcc"),
    ).orderBy("window_start")


def evaluate_forecasts(results: DataFrame) -> DataFrame:
    """Classification evaluation (F6/F7,
    ClassificationForecastCollector.scala:76-145): a positive forecast
    is TP iff a detection for the same key lands inside
    [start_ctr, end_ctr]; negatives invert.  Returns per-key confusion
    counts + precision/recall/f1/MCC."""
    from flink_rtcef_spark.functions.metrics import metrics_columns

    forecasts = results.filter(~F.col("is_detection")).select(
        "key", "counter", "start_ctr", "end_ctr", "positive"
    )
    detections = results.filter(F.col("is_detection")).select(
        F.col("key").alias("d_key"), F.col("counter").alias("det_ctr")
    )
    joined = forecasts.join(
        detections,
        (forecasts.key == detections.d_key)
        & (detections.det_ctr >= forecasts.start_ctr)
        & (detections.det_ctr <= forecasts.end_ctr),
        "left",
    )
    per_forecast = joined.groupBy("key", "counter", "start_ctr", "positive").agg(
        (F.count("det_ctr") > 0).alias("hit")
    )
    pos, hit = F.col("positive"), F.col("hit")
    conf = per_forecast.groupBy("key").agg(
        F.sum((pos & hit).cast("long")).alias("tp"),
        F.sum(((~pos) & (~hit)).cast("long")).alias("tn"),
        F.sum((pos & (~hit)).cast("long")).alias("fp"),
        F.sum(((~pos) & hit).cast("long")).alias("fn"),
    )
    return conf.select("key", "tp", "tn", "fp", "fn", *metrics_columns())


def reference_report_trajectory(
    results: DataFrame,
    events: DataFrame,
    key_col: str = "key",
    ts_col: str = "ts",
    id_col: str = "event_id",
    reporting_distance: int = 3600,
    skip_first: bool = True,
) -> pd.DataFrame:
    """Replicate the reference's full reporting chain, exactly:

    1. per-key LOCAL reports (WayebEngine.java:370-430): every event
       calls checkAndReportStats; the first event arms
       nextReportTime = ts + reportingDistance, and each event with
       ts >= nextReportTime emits a report carrying the key's
       CUMULATIVE confusion counts at that instant (re-evaluated over
       everything collected so far, ClassificationForecastCollector
       .scala:76-150: a positive forecast counts FP until a detection
       lands in its interval, then flips to TP; negatives TN -> FN)
       plus the delta since the key's previous report, then re-arms
       nextReportTime = ts + reportingDistance.
    2. GLOBAL aggregation (InferenceJob.java:259-263 +
       MetricsAggregator.java:28-88): epoch-aligned tumbling
       event-time windows of reportingDistance seconds over the report
       stream; a cross-window ship-history map keeps each key's latest
       runtime counts; global runtime = sum over history, batch = sum
       of in-window deltas; windows with batch tp+fp+fn == 0 are
       suppressed ("silent"); report timestamp = max local-report ts
       in the window.
    3. the committed baseline_metrics.csv drops the first global
       report (log_parser.py:30-51, skip_first).

    The per-forecast flip trick makes step 1 a pure cumulative-sum
    window: each forecast contributes (FP|TN) at its emission counter
    and, iff a detection ever lands in its interval, (+TP -FP | +FN
    -TN) at that detection's counter — so "re-evaluate everything at
    time T" collapses to a running sum over contribution events.

    Steps 1 is distributed (one shuffle on key); step 2 is the
    reference's own single global operator — a driver-side loop over
    the (tiny) report stream.  Returns a pandas DataFrame
    (timestamp, runtime_mcc, batch_mcc, tp, tn, fp, fn, batch_tp,
    batch_fp, batch_fn, n_local_reports)."""
    from pyspark.sql import Window as W

    forecasts = results.filter(~F.col("is_detection")).select(
        "key", "counter", "start_ctr", "end_ctr", "positive"
    )
    detections = results.filter(F.col("is_detection")).select(
        F.col("key").alias("d_key"), F.col("counter").alias("det_ctr")
    )
    flips = (
        forecasts.join(
            detections,
            (forecasts.key == detections.d_key)
            & (detections.det_ctr >= forecasts.start_ctr)
            & (detections.det_ctr <= forecasts.end_ctr),
            "inner",
        )
        .groupBy("key", "counter", "positive")
        .agg(F.min("det_ctr").alias("flip_ctr"))
    )
    pos = F.col("positive").cast("long")
    neg = (~F.col("positive")).cast("long")
    zero = F.lit(0).cast("long")
    emission = forecasts.select(
        "key",
        F.col("counter").alias("ctr"),
        zero.alias("dtp"),
        neg.alias("dtn"),
        pos.alias("dfp"),
        zero.alias("dfn"),
    )
    flip = flips.select(
        "key",
        F.col("flip_ctr").alias("ctr"),
        pos.alias("dtp"),
        (-neg).alias("dtn"),
        (-pos).alias("dfp"),
        neg.alias("dfn"),
    )
    contributions = emission.unionByName(flip).withColumn("is_report", F.lit(0))

    # per-key report instants: a sequential arm/fire recurrence -> one
    # applyInPandas over the key's event times (the reference's keyed
    # ValueState loop, WayebEngine.java:370-377)
    ev = events.select(
        F.col(key_col).alias("key"), F.col(ts_col).alias("ts"), F.col(id_col).alias("id")
    ).withColumn(
        "ctr", F.row_number().over(W.partitionBy("key").orderBy("ts", "id"))
    )
    dist = reporting_distance

    def _report_points(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ctr")
        ts = pdf["ts"].to_numpy()
        ctr = pdf["ctr"].to_numpy()
        out_ts, out_ctr = [], []
        next_t = ts[0] + dist if len(ts) else 0
        for i in range(len(ts)):
            if ts[i] >= next_t:
                out_ts.append(int(ts[i]))
                out_ctr.append(int(ctr[i]))
                next_t = ts[i] + dist
        return pd.DataFrame(
            {"key": pdf["key"].iloc[0], "report_ts": out_ts, "ctr": out_ctr}
        )

    reports = ev.groupBy("key").applyInPandas(
        _report_points, "key string, report_ts long, ctr long"
    )

    # running per-key cumulative counts sampled at the report instants:
    # union contributions + reports, cumulative-sum per key in (ctr,
    # is_report) order (report fires AFTER the event is processed,
    # WayebEngine.java:315)
    merged = contributions.select(
        "key", "ctr", F.lit(None).cast("long").alias("report_ts"),
        "dtp", "dtn", "dfp", "dfn", "is_report",
    ).unionByName(
        reports.select(
            "key", "ctr", "report_ts",
            zero.alias("dtp"), zero.alias("dtn"),
            zero.alias("dfp"), zero.alias("dfn"),
            F.lit(1).alias("is_report"),
        )
    )
    cum = (
        W.partitionBy("key")
        .orderBy("ctr", "is_report", "report_ts")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    sampled = (
        merged.select(
            "key", "ctr", "report_ts",
            F.sum("dtp").over(cum).alias("tp"),
            F.sum("dtn").over(cum).alias("tn"),
            F.sum("dfp").over(cum).alias("fp"),
            F.sum("dfn").over(cum).alias("fn"),
            "is_report",
        )
        .filter("is_report = 1")
        .drop("is_report")
    )
    lagw = W.partitionBy("key").orderBy("report_ts", "ctr")
    local_reports = sampled.select(
        "key", "report_ts", "tp", "tn", "fp", "fn",
        (F.col("tp") - F.coalesce(F.lag("tp").over(lagw), F.lit(0))).alias("btp"),
        (F.col("tn") - F.coalesce(F.lag("tn").over(lagw), F.lit(0))).alias("btn"),
        (F.col("fp") - F.coalesce(F.lag("fp").over(lagw), F.lit(0))).alias("bfp"),
        (F.col("fn") - F.coalesce(F.lag("fn").over(lagw), F.lit(0))).alias("bfn"),
    ).toPandas()

    # --- global MetricsAggregator (driver-side, like the reference's
    # single ProcessAllWindowFunction with its in-memory HashMap) ---
    lr = local_reports.sort_values(["report_ts", "key"])
    lr["window"] = (lr["report_ts"] // dist) * dist
    history: dict[str, tuple[int, int, int, int]] = {}
    rows = []
    for w, grp in lr.groupby("window", sort=True):
        btp, btn = int(grp["btp"].sum()), int(grp["btn"].sum())
        bfp, bfn = int(grp["bfp"].sum()), int(grp["bfn"].sum())
        for r in grp.itertuples():
            history[r.key] = (int(r.tp), int(r.tn), int(r.fp), int(r.fn))
        if btp + bfp + bfn == 0:
            continue  # silent window suppression
        gtp = sum(v[0] for v in history.values())
        gtn = sum(v[1] for v in history.values())
        gfp = sum(v[2] for v in history.values())
        gfn = sum(v[3] for v in history.values())
        rows.append(
            {
                "timestamp": int(grp["report_ts"].max()),
                "runtime_mcc": mcc(gtp, gtn, gfp, gfn),
                "batch_mcc": mcc(btp, btn, bfp, bfn),
                "tp": gtp, "tn": gtn, "fp": gfp, "fn": gfn,
                "batch_tp": btp, "batch_fp": bfp, "batch_fn": bfn,
                "n_local_reports": len(grp),
            }
        )
    out = pd.DataFrame(rows)
    if skip_first and len(out):
        out = out.iloc[1:].reset_index(drop=True)
    return out
