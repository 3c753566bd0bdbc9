"""Mergeable cardinality / frequency sketches with exact cross-engine
determinism — the 100 TB profiling layer.

At corpus scale you cannot afford exact ``COUNT(DISTINCT text)`` per
group (a full shuffle of every distinct value) or an exact frequency
table over trillions of tokens.  The standard answers are HyperLogLog
and Count-Min — both MERGEABLE, so Spark computes them as plain
map-side-combinable aggregations: the shuffle payload is the bounded
sketch (256 registers / d×w counters), never the data.

What is unusual here is that both sketches are built on the repo's
md5-derived ``portable_hash64`` and integer-exact register arithmetic,
so a DuckDB oracle reproduces the estimates BIT FOR BIT — the sketch
queries sit behind the same hash-match gate as the exact ones
(tools/check_oracle.py), instead of the usual "approx, so tolerance
assert" cop-out:

- HLL register sums are computed as ``SUM(2^(CAP - rho))`` in BIGINT —
  exact and addition-order-independent, where a naive ``SUM(pow(2.0,
  -rho))`` would round differently per partition order and break the
  hash gate.  rho (leading-zero count) comes from hex-string scanning,
  not ``floor(log2(w))`` — log2 of values just below a power of two can
  round UP in IEEE double and mis-bucket the register.
- Count-Min is all-integer.

Float-tail caveat (HLL only): everything up to the per-group
(observed_register_sum, n_buckets) pair is INTEGER-exact across
engines; the final estimate then applies ln/round, whose bit-for-bit
Spark-vs-DuckDB agreement (JVM StrictMath vs libm, HALF_UP vs ROUND)
holds on this platform but is not guaranteed across libm versions.  If
the hash gate ever breaks on a new platform, gate on the integer pair
and tolerance-check only the final float (the estimate error is ~4 %
by construction; a last-ulp ln difference is noise).

Relation to operators/profile.py: profile.py wraps Spark's BUILT-IN
Datasketches aggregates (``hll_sketch_agg`` / KLL) — the fastest
JVM-native path for interactive profiling, but its estimates are not
reproducible outside Spark, so they can only be tolerance-tested.
This module is the cross-engine-deterministic counterpart (and adds
Count-Min, which Spark has no SQL aggregate for); use profile.py for
ad-hoc health checks, this one where the estimate must be auditable.

Reference: the reference engine has no sketch layer (its profiling is
exact in-memory counts, e.g. the S×S transition matrices in
``Wayeb/cef/src/main/scala/estimator/MatrixEstimator``); this module is
part of the beyond-reference training-data surface, same family as
operators/dedup.py.

Scale design (100 TB):
- ``hll_registers``: groupBy (group, bucket) MAX — partial-agg
  combinable, ≤256 rows of state per group survive the shuffle.
- ``hll_estimate``: groupBy (group) SUM over ≤256 rows — trivial.
- ``cms_build``: ONE md5 per input value (Kirsch-Mitzenmacher double
  hashing derives the d cells from its 30-bit halves — md5 count is
  the dominant per-token cost, measured 3x at the x10 point), then a
  constant-sequence explode + groupBy SUM — one map-side-combinable
  agg; sketch size d×w rows regardless of input.
- ``cms_lookup``: join probes against the sketch on (row, col) — the
  sketch side is tiny, Spark broadcasts it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_rtcef_spark.functions.scalar import portable_hash64

# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007), m = 256 registers (b = 8)
# ---------------------------------------------------------------------------

#: number of registers; error ≈ 1.04/sqrt(m) ≈ 6.5 %
HLL_M = 256
#: rho cap — P(rho > 40) = 2^-40 per item; capping keeps the exact
#: integer register sum within BIGINT (256 * 2^40 << 2^63)
HLL_RHO_CAP = 40
#: alpha_m for m = 256 — both engines evaluate the SAME expression so
#: the IEEE result is identical; see _ALPHA_SQL
_ALPHA = 0.7213 / (1.0 + 1.079 / 256.0)
_ALPHA_SQL = "(0.7213 / (1.0 + 1.079 / 256.0))"


def _nibble_lz(c: Column) -> Column:
    """Leading zero bits within one hex nibble (0 excluded — handled by
    the caller's all-zero guard)."""
    return (
        F.when(c == "1", F.lit(3))
        .when(c.isin("2", "3"), F.lit(2))
        .when(c.isin("4", "5", "6", "7"), F.lit(1))
        .otherwise(F.lit(0))
    )


def hll_rho(col: Column) -> Column:
    """rho = 1 + number of leading zero bits of the 60-bit value held in
    md5 hex chars 17..31 of ``col`` (disjoint from the bucket bits,
    which come from chars 1..15 via portable_hash64).  Pure string
    scanning — no float log2 — capped at HLL_RHO_CAP."""
    hexs = F.substring(F.md5(col), 17, 15)
    zeros = F.length(F.regexp_extract(hexs, "^(0*)", 1))
    first = hexs.substr(zeros + 1, F.lit(1))
    rho = F.when(zeros == 15, F.lit(61)).otherwise(
        zeros * 4 + _nibble_lz(first) + 1
    )
    return F.least(rho, F.lit(HLL_RHO_CAP))


def hll_rho_sql(expr: str) -> str:
    """DuckDB twin of :func:`hll_rho` over SQL expression ``expr``."""
    hexs = f"substr(md5({expr}), 17, 15)"
    zeros = f"length(regexp_extract({hexs}, '^(0*)', 1))"
    first = f"substr({hexs}, {zeros} + 1, 1)"
    nib = (
        f"(CASE WHEN {first} = '1' THEN 3 "
        f"WHEN {first} IN ('2','3') THEN 2 "
        f"WHEN {first} IN ('4','5','6','7') THEN 1 ELSE 0 END)"
    )
    return (
        f"LEAST(CASE WHEN {zeros} = 15 THEN 61 "
        f"ELSE {zeros} * 4 + {nib} + 1 END, {HLL_RHO_CAP})"
    )


def hll_registers(
    df: DataFrame, value_col: str, group_cols: list[str] | None = None
) -> DataFrame:
    """Sketch state: one row per (group, bucket) with the max rho seen.
    This IS the mergeable form — union two register frames and re-MAX
    to merge sketches (streaming twin: the same MAX under microbatch
    accumulation yields identical registers)."""
    group_cols = group_cols or []
    v = F.col(value_col).cast("string")
    out = df.filter(v.isNotNull()).select(
        *group_cols,
        (portable_hash64(v) % HLL_M).alias("bucket"),
        hll_rho(v).alias("rho"),
    )
    return out.groupBy(*group_cols, "bucket").agg(F.max("rho").alias("rho"))


def hll_merge(*register_frames: DataFrame) -> DataFrame:
    """Merge sketches: union + re-MAX (associative, commutative)."""
    out = register_frames[0]
    for extra in register_frames[1:]:
        out = out.unionByName(extra)
    keys = [c for c in out.columns if c != "rho"]
    return out.groupBy(*keys).agg(F.max("rho").alias("rho"))


def hll_estimate(
    registers: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Cardinality estimate per group from a register frame.

    raw = alpha * m^2 / sum_j 2^(-M_j) with absent buckets at M = 0;
    computed exactly as  alpha * m^2 * 2^CAP / SUM(2^(CAP-M))  where the
    register sum is BIGINT (order-independent).  Small-range correction
    (raw <= 2.5 m, some register empty): linear counting m*ln(m/V).
    The 2^60-range correction is omitted: with a 60-bit hash it engages
    above ~10^17 distincts, beyond any corpus this reads.
    """
    group_cols = group_cols or []
    # each term 2^(CAP-rho) is an exact integer (rho <= CAP); summing
    # BIGINTs is addition-order-independent, unlike a double sum
    term = (F.lit(float(2**HLL_RHO_CAP)) / F.pow(F.lit(2.0), F.col("rho"))).cast(
        "long"
    )
    agg = registers.groupBy(*group_cols).agg(
        # COALESCE: an ungrouped aggregate over ZERO registers (empty
        # input) yields one row with NULL sum / 0 count; the formula
        # then degrades to linear counting with V = m -> estimate 0
        F.coalesce(F.sum(term), F.lit(0)).alias("observed_sum"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    total = F.col("observed_sum") + (F.lit(HLL_M) - F.col("n_buckets")) * F.lit(
        2**HLL_RHO_CAP
    )
    raw = F.lit(_ALPHA) * F.lit(float(HLL_M * HLL_M * (2**HLL_RHO_CAP))) / total
    empty = F.lit(HLL_M) - F.col("n_buckets")
    est = F.when(
        (raw <= 2.5 * HLL_M) & (empty > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / empty),
    ).otherwise(raw)
    return agg.select(
        *group_cols, F.round(est, 2).alias("hll_distinct")
    )


def hll_distinct(
    df: DataFrame, value_col: str, group_cols: list[str] | None = None
) -> DataFrame:
    """End-to-end: registers → estimate, per group."""
    return hll_estimate(hll_registers(df, value_col, group_cols), group_cols)


def hll_distinct_sql(
    table: str, value_expr: str, group_cols: list[str] | None = None
) -> str:
    """DuckDB twin of :func:`hll_distinct` — identical arithmetic, so
    the estimate hash-matches (see module docstring for why the integer
    register sum makes that possible)."""
    group_cols = group_cols or []
    gsel = "".join(f"{g}, " for g in group_cols)
    gby_reg = "GROUP BY " + ", ".join([*group_cols, "bucket"])
    gby_est = ("GROUP BY " + ", ".join(group_cols)) if group_cols else ""
    v = f"CAST({value_expr} AS VARCHAR)"
    h = f"CAST(('0x' || substr(md5({v}), 1, 15)) AS BIGINT)"
    cap = 2**HLL_RHO_CAP
    return f"""
    WITH regs AS (
      SELECT {gsel}{h} % {HLL_M} AS bucket,
             MAX({hll_rho_sql(v)}) AS rho
      FROM {table} WHERE {v} IS NOT NULL {gby_reg}
    ), agg AS (
      SELECT {gsel}
             CAST(COALESCE(SUM(CAST({cap} AS BIGINT) // (CAST(1 AS BIGINT) << rho)), 0)
                  AS BIGINT) AS observed_sum,
             COUNT(*) AS n_buckets
      FROM regs {gby_est}
    )
    SELECT {gsel}
           ROUND(CASE WHEN {_ALPHA_SQL} * {float(HLL_M * HLL_M * cap)!r}
                        / (observed_sum + ({HLL_M} - n_buckets) * CAST({cap} AS BIGINT))
                        <= {2.5 * HLL_M!r}
                      AND {HLL_M} - n_buckets > 0
                 THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / ({HLL_M} - n_buckets))
                 ELSE {_ALPHA_SQL} * {float(HLL_M * HLL_M * cap)!r}
                        / (observed_sum + ({HLL_M} - n_buckets) * CAST({cap} AS BIGINT))
                 END, 2) AS hll_distinct
    FROM agg
    """


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005)
# ---------------------------------------------------------------------------


def _cms_hash(value: Column, seed: int) -> Column:
    """The ONE 60-bit md5-derived hash a CMS row consumes; the d
    per-row cells derive from it by Kirsch-Mitzenmacher double hashing
    (:func:`_cms_cell`).  md5 is the per-token cost that dominates
    sketch builds over token streams (measured at the x10 point: one
    md5 per (value, row) pair put cms_build at ~10 s for ~10 M tokens;
    one md5 per VALUE cuts the build ~3x), and the derivation stays
    bit-reproducible in DuckDB (same integer arithmetic on the same
    digest half)."""
    return portable_hash64(F.concat(value, F.lit(f"#cms#{seed}")))


def _cms_cell(h: Column, r: Column, width: int) -> Column:
    """Cell index for CMS row ``r``: (h_lo + r*h_hi) mod width, where
    h_lo/h_hi are the low/high 30 bits of the 60-bit hash (Kirsch &
    Mitzenmacher, ESA 2006: pairwise-derived row hashes preserve the
    CMS guarantees).  Max value h_lo + 3*h_hi < 2^32 — no overflow in
    either engine.  IMPORTANT plan shape: ``h`` must be a materialized
    attribute (computed once per input row BEFORE the row explode) —
    inlining the md5 into a per-row array makes codegen re-evaluate
    the digest per element (measured 2x slower than even the
    md5-per-row original)."""
    lo = h % F.lit(1 << 30)
    hi = F.shiftright(h, 30)
    return (lo + r * hi) % F.lit(width)


def _check_int_weight_col(df: DataFrame, weight_col: str, op: str) -> None:
    """Shared weight-column contract for the weighted sketches
    (hist_sketch, cms_build): the column must exist and be an integer
    type (DECIMAL(p<=18, 0) counts — exact integers within long range).
    A fractional weight would cast differently in the two engines
    (Spark truncates toward zero, DuckDB rounds; NaN and huge doubles
    diverge harder) — exactly the cross-engine class the sketches'
    integer arithmetic exists to eliminate, so refuse it here rather
    than let a hash gate explain it."""
    from pyspark.sql.types import (
        ByteType, DecimalType, IntegerType, LongType, ShortType,
    )

    if weight_col not in df.columns:
        # a schema[...] lookup would raise a bare KeyError; name the
        # available columns instead
        raise ValueError(
            f"{op}: weight_col {weight_col!r} is not a column "
            f"of the input (columns: {df.columns})"
        )
    wt = df.schema[weight_col].dataType
    if isinstance(wt, DecimalType) and wt.scale == 0 and wt.precision <= 18:
        return
    if not isinstance(wt, (ByteType, ShortType, IntegerType, LongType)):
        raise ValueError(
            f"{op}: weight_col {weight_col!r} must be an "
            f"integer type (got {wt.simpleString()}); cast with an "
            f"explicit rounding rule first — fractional weights "
            f"truncate/round differently across engines"
        )


def cms_build(
    df: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 1024,
    seed: int = 0,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-Min sketch of the ``value_col`` frequency distribution:
    rows (r, c, cnt) — at most depth×width of them however large the
    input.  One posexplode of the d in-row hashes + a combinable SUM;
    two sketches over disjoint data merge by adding cnt per (r, c)
    (see :func:`cms_merge`).

    ``weight_col`` (integer, same contract as :func:`hist_sketch`)
    makes each row contribute its weight instead of 1.  Rows with NULL
    or NEGATIVE weight are dropped: a NULL would silently contribute 0
    (neither a count of 1 nor an error), and a negative weight breaks
    the one guarantee CMS makes — :func:`cms_lookup` never
    UNDER-estimates, which holds only while every cell increment is
    >= 0 (the MIN over rows then upper-bounds the true count).
    Zero-weight rows survive and contribute 0, matching hist_sketch."""
    v = F.col(value_col).cast("string")
    if weight_col is not None:
        _check_int_weight_col(df, weight_col, "cms_build")
        wgt = F.col(weight_col).cast("long")
        df = df.filter(wgt.isNotNull() & (wgt >= 0))
        w = wgt
    else:
        w = F.lit(1).cast("long")
    return (
        df.filter(v.isNotNull())
        # one md5 per input row, materialized BEFORE the explode...
        .select(_cms_hash(v, seed).alias("_h"), w.alias("w"))
        # ...then a constant sequence generates the d rows, and the
        # cell derives from the carried hash attribute (no digest
        # re-evaluation per row copy — see _cms_cell)
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("r"),
            F.col("_h"),
            F.col("w"),
        )
        .select("r", _cms_cell(F.col("_h"), F.col("r"), width).alias("c"), "w")
        .groupBy("r", "c")
        .agg(F.sum("w").alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    out = sketches[0]
    for extra in sketches[1:]:
        out = out.unionByName(extra)
    return out.groupBy("r", "c").agg(F.sum("cnt").alias("cnt"))


def cms_lookup(
    sketch: DataFrame,
    probes: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 1024,
    seed: int = 0,
) -> DataFrame:
    """Point-frequency estimates for ``probes``: est = MIN over the d
    rows of the counter each hash lands in (never under the true count;
    over by at most eps·N w.h.p.).  The probe side explodes d rows,
    joins the tiny sketch (broadcast), and MINs back per probe row —
    extra probe columns are preserved (same contract as the
    :func:`cms_sql` twin's ``SELECT p.*``)."""
    v = F.col(value_col).cast("string")
    # a per-probe-row id keeps duplicate probe rows distinct through
    # the explode->min regroup, preserving row multiplicity exactly as
    # the cms_sql twin's `SELECT p.*` does (r3 advice: grouping on the
    # probe columns alone collapsed duplicate probe rows)
    exploded = (
        probes.withColumn("_pid", F.monotonically_increasing_id())
        .select(*probes.columns, "_pid", _cms_hash(v, seed).alias("_h"))
        .select(
            *probes.columns,
            "_pid",
            F.col("_h"),
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("r"),
        )
        .select(
            *probes.columns,
            "_pid",
            "r",
            _cms_cell(F.col("_h"), F.col("r"), width).alias("c"),
        )
    )
    return (
        exploded.join(F.broadcast(sketch), ["r", "c"], "left")
        .groupBy("_pid", *probes.columns)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cms_count"))
        .drop("_pid")
    )


def cms_sql(
    source_sql: str,
    probe_sql: str,
    value_col: str,
    depth: int = 4,
    width: int = 1024,
    seed: int = 0,
) -> str:
    """DuckDB twin of cms_build + cms_lookup — all-integer, exact.
    ``source_sql``/``probe_sql`` are subqueries yielding ``value_col``
    (probes may carry extra columns, which are preserved)."""
    v = f"CAST({value_col} AS VARCHAR)"
    v_probe = f"CAST(p.{value_col} AS VARCHAR)"

    def h(val: str) -> str:
        # the one 60-bit hash per value (twin of _cms_hash)
        return (
            f"CAST(('0x' || substr(md5({val} || '#cms#{seed}'), 1, 15)) "
            "AS BIGINT)"
        )

    def col(r: int, hexpr: str) -> str:
        # Kirsch-Mitzenmacher twin of _cms_cell: (h_lo + r*h_hi) % w
        # over the low/high 30 bits of the 60-bit hash
        return f"(({hexpr} % 1073741824 + {r} * ({hexpr} // 1073741824)) % {width})"

    hashes = ", ".join(f"{col(r, 'h')} AS c{r}" for r in range(depth))
    unions = " UNION ALL ".join(
        f"SELECT {r} AS r, c{r} AS c, w FROM hashed" for r in range(depth)
    )
    probe_min = ", ".join(f"COALESCE(s{r}.cnt, 0)" for r in range(depth))
    probe_joins = " ".join(
        f"LEFT JOIN sketch s{r} ON s{r}.r = {r} AND s{r}.c = {col(r, h(v_probe))}"
        for r in range(depth)
    )
    return f"""
    WITH src_h AS (
      SELECT {h(v)} AS h FROM ({source_sql}) WHERE {v} IS NOT NULL
    ), hashed AS (
      SELECT {hashes}, CAST(1 AS BIGINT) AS w FROM src_h
    ), cells AS ({unions}),
    sketch AS (
      SELECT r, c, CAST(SUM(w) AS BIGINT) AS cnt FROM cells GROUP BY r, c
    )
    SELECT p.*, CAST(LEAST({probe_min}) AS BIGINT) AS cms_count
    FROM ({probe_sql}) p {probe_joins}
    """


def _misra_gries_candidates(df: DataFrame, value_col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries top-k summary (Misra & Gries 1982;
    mergeable per Agarwal et al., Mergeable Summaries, PODS 2012):
    each partition emits AT MOST k candidate values, so the shuffle
    after this stage carries <= k x n_partitions rows no matter how
    large the value domain is — unlike distinct(), whose map-side
    combine still ships every per-partition distinct value.

    Retention guarantee (the one heavy-hitter recall rests on): the
    batched decrement subtracts the (k+1)-th largest counter from all
    >= k+1 counters at once, removing >= (k+1)*c mass per unit c of
    per-counter decrement, so cumulative decrement <= N_p/(k+1); any
    value with partition count > N_p/(k+1) ends with a positive
    counter and is emitted.  By pigeonhole, a value with GLOBAL count
    > N/(k+1) exceeds N_p/(k+1) in at least one partition for ANY
    layout, so it always reaches the candidate union.

    Python is irreducible here (per-partition bounded state is exactly
    what SQL aggregation cannot cap), but the cost is vectorized:
    value_counts per Arrow batch + an np.partition prune, never
    per-row Python.
    """
    import numpy as np
    import pandas as pd

    out_schema = df.select(value_col).schema

    def summarize(batches):
        counts: pd.Series | None = None
        for pdf in batches:
            vc = pdf[value_col].value_counts()
            counts = vc if counts is None else counts.add(vc, fill_value=0)
            if len(counts) > k:
                arr = counts.to_numpy()
                # (k+1)-th largest counter: strictly-greater survivors <= k
                cstar = np.partition(arr, len(arr) - k - 1)[len(arr) - k - 1]
                counts = counts - cstar
                counts = counts[counts > 0]
        if counts is not None and len(counts):
            yield pd.DataFrame({value_col: counts.index})

    return df.select(value_col).mapInPandas(summarize, out_schema)


def approx_heavy_hitters(
    df: DataFrame,
    value_col: str,
    min_share: float = 0.001,
    candidate_rate: float = 0.05,
    id_col: str | None = None,
    depth: int = 4,
    width: int = 1024,
    seed: int = 0,
) -> DataFrame:
    """Values whose frequency is >= ``min_share`` of all rows, found
    WITHOUT a distinct-value shuffle — the two-bounded-pass pattern for
    heavy hitters over trillions of tokens:

    pass 1: build the d×w Count-Min sketch (combinable SUM, bounded);
    pass 2: probe a candidate set — the sampled rows are summarized by
            a per-partition Misra-Gries top-k (<= k rows per partition
            leave each executor, k = 4/min_share), so the candidate
            shuffle is O(k x partitions) regardless of how many
            distinct values the corpus holds — keep candidates whose
            CMS estimate clears the bar.

    ``id_col`` matters for the recall math: the candidate coin must be
    PER ROW (hash of the row id), so a value with freq >= min_share·N
    reaches the candidate set with prob 1-(1-r)^(min_share·N) — ~1
    whenever min_share·N·r >> 1 (share 0.1 % of 1e12 tokens at r=0.05
    ⇒ 5e7 independent chances).  Keying the coin on the VALUE would
    collapse all of a value's occurrences into ONE Bernoulli(r) trial
    and silently miss heavy hitters with prob 1-r.  When ``id_col`` is
    None there is no row identity to key on, so the candidate set
    falls back to the exact distinct values — always correct, but it
    pays the distinct shuffle the sampled path exists to avoid; pass a
    row id for the scale path.

    CMS never under-counts, so no TRUE heavy hitter that reaches the
    candidate set is dropped (possible over-admission of near-misses is
    the usual CMS one-sided error).  Returns (value, cms_count,
    share).  Every true heavy hitter (and its cms_count/share) is
    deterministic in (data, seed) under ANY partition layout: the MG
    pigeonhole guarantee retains all values with sampled count above
    N_s/(k+1) ~ min_share*N_s/4 regardless of layout, and the CMS
    estimates are layout-invariant sums.  Only collision-admitted
    near-misses far below the bar can differ with layout (they need a
    CMS overcount >= 4x their true sampled share to surface at all).

    The d×w sketch is collected once (bounded driver payload) and
    re-parallelized for the probe join, so the corpus is scanned
    exactly once and nothing stays pinned in the executor cache.
    """
    spark = df.sparkSession
    v = F.col(value_col)
    sketch_rows = cms_build(
        df, value_col, depth=depth, width=width, seed=seed
    ).collect()
    # every value increments exactly one counter per sketch row, so row
    # 0's counters sum to N — no separate full-scan count job
    total = sum(r["cnt"] for r in sketch_rows if r["r"] == 0)
    if total == 0:
        return df.select(
            v.alias(value_col),
            F.lit(0).cast("long").alias("cms_count"),
            F.lit(0.0).alias("share"),
        ).limit(0)
    sketch = spark.createDataFrame(sketch_rows, "r int, c long, cnt long")
    candidates = df.filter(v.isNotNull())
    if id_col is not None:
        # the coin only needs per-ROW independence + determinism in
        # (data, seed) — not the cross-engine md5 of hash_fraction
        # (nothing oracles the candidate set itself), so use the JVM's
        # xxhash64: ~10x cheaper per row than an md5-hex-conv chain,
        # and this runs over EVERY input row
        coin = F.pmod(
            F.xxhash64(F.col(id_col), v.cast("string"), F.lit(seed + 1)),
            F.lit(1 << 30),
        ) / F.lit(float(1 << 30))
        candidates = candidates.filter(coin < candidate_rate)
        # Misra-Gries per partition caps the candidate stage at k rows
        # per partition BEFORE any shuffle (r3's distinct() here shipped
        # every per-partition distinct sampled value — x10 factor 6.6).
        # k = 4/min_share puts the MG retention threshold N_s/(k+1) a
        # 4x margin under a boundary hitter's expected sampled count.
        k = max(64, int(4.0 / min_share) + 1)
        candidates = _misra_gries_candidates(candidates, value_col, k)
    candidates = candidates.select(value_col).distinct()
    est = cms_lookup(sketch, candidates, value_col,
                     depth=depth, width=width, seed=seed)
    return (
        est.select(
            value_col,
            "cms_count",
            F.round(F.col("cms_count") / F.lit(float(total)), 6).alias("share"),
        )
        .filter(F.col("cms_count") >= min_share * total)
        .select(value_col, "cms_count", "share")
    )


# ---------------------------------------------------------------------------
# KMV / theta sketch (Bar-Yossef et al. 2002; Beyer et al. SIGMOD 2007):
# set algebra over corpora — overlap, union, Jaccard — from k-row digests
# ---------------------------------------------------------------------------

#: default sketch size: relative error ~ 1/sqrt(k) ~ 3 %
KMV_K = 1024
_KMV_SPACE = float(1 << 60)


def kmv_sketch(df: DataFrame, value_col: str, k: int = KMV_K) -> DataFrame:
    """The k smallest DISTINCT 60-bit hashes of ``value_col`` — a k-row
    digest supporting union/intersection/Jaccard estimates between
    corpora (the question HLL alone cannot answer).

    The result is a well-defined deterministic object (the k minima of
    the hashed value SET), so any correct evaluation strategy returns
    identical rows and the DuckDB twin (``SELECT DISTINCT … ORDER BY h
    LIMIT k``) hash-matches.  Scale path: when the HLL estimate says
    the domain is ≫ k, a ``hash < threshold`` prefilter (threshold =
    4k/estimate of the hash space) cuts the distinct-shuffle to O(k)
    rows before the global top-k; the guard re-runs unfiltered in the
    (HLL-underestimate) corner where fewer than k survive, preserving
    the exact same k minima.  ``orderBy(h).limit(k)`` itself is
    TakeOrdered — per-partition heaps, no global sort.
    """
    if k < 16:
        raise ValueError(f"k must be >= 16, got {k}")
    v = F.col(value_col).cast("string")
    hashed = df.filter(v.isNotNull()).select(portable_hash64(v).alias("h"))

    est_row = hll_distinct(df, value_col).first()
    est = float(est_row["hll_distinct"]) if est_row else 0.0
    if est > 50 * k:
        # collect the <=k survivors at the decision point so the
        # filtered scan runs ONCE (a lazily returned plan would re-run
        # it on the caller's first action)
        rows = _kmv_prefiltered(hashed, est, k).collect()
        if len(rows) >= k:
            return df.sparkSession.createDataFrame(rows, "h long")
        # HLL under-estimated the domain: fall through to the exact path
    return hashed.distinct().orderBy("h").limit(k)


def _kmv_prefiltered(hashed: DataFrame, est: float, k: int) -> DataFrame:
    """The scale-path plan: hash < 4k/est prefilter BEFORE the distinct
    Exchange, then TakeOrdered — kept separate so its shape is plan-
    testable (tests/test_plans.py)."""
    thresh = int(_KMV_SPACE * (4.0 * k) / est)
    return (
        hashed.filter(F.col("h") < thresh).distinct().orderBy("h").limit(k)
    )


def kmv_sketch_sql(table: str, value_expr: str, k: int = KMV_K) -> str:
    """DuckDB twin of :func:`kmv_sketch` (no prefilter needed there —
    the object is strategy-independent)."""
    v = f"CAST({value_expr} AS VARCHAR)"
    h = f"CAST(('0x' || substr(md5({v}), 1, 15)) AS BIGINT)"
    return (
        f"SELECT DISTINCT {h} AS h FROM {table} "
        f"WHERE {v} IS NOT NULL ORDER BY h LIMIT {k}"
    )


def _kmv_rows(sketch: DataFrame) -> list[int]:
    return sorted(r["h"] for r in sketch.collect())


def kmv_merge(a: DataFrame, b: DataFrame, k: int = KMV_K) -> DataFrame:
    """Sketch of the UNION from two sketches: the k smallest of the
    merged minima (exactly ``kmv_sketch(A ∪ B)`` — the k smallest of a
    union all lie within each side's k smallest)."""
    return a.unionByName(b).distinct().orderBy("h").limit(k)


def kmv_overlap_estimates(
    a: DataFrame, b: DataFrame, k: int = KMV_K
) -> dict[str, float]:
    """Union / intersection / Jaccard estimates between two corpora
    from their k-row digests (driver-side over 2k BIGINTs).

    Standard KMV set algebra: take the union's k minima; the fraction
    of them present in BOTH input sketches estimates the Jaccard
    similarity, and intersection = Jaccard × union."""
    ra, rb = set(_kmv_rows(a)), set(_kmv_rows(b))
    merged = sorted(ra | rb)[:k]
    if not merged:
        return {"union": 0.0, "intersection": 0.0, "jaccard": 0.0}
    if len(merged) < k:
        union_est = float(len(merged))
    else:
        union_est = (k - 1) / (merged[k - 1] / _KMV_SPACE)
    in_both = sum(1 for h in merged if h in ra and h in rb)
    jaccard = in_both / len(merged)
    return {
        "union": union_est,
        "intersection": jaccard * union_est,
        "jaccard": jaccard,
    }


# ---------------------------------------------------------------------------
# Equi-width histogram sketch -> quantile estimates
# ---------------------------------------------------------------------------
# The mergeable answer to "p50/p90/p99 of a numeric column per group"
# at corpus scale: exact percentiles need a per-group sort (full
# shuffle of the DATA); a fixed-bin histogram needs one combinable
# groupBy whose shuffle payload is <= n_bins integer counts per group
# regardless of input size (same scale shape as the HLL registers).
# Two histograms over disjoint data merge by summing counts per bin.
#
# Fixed [lo, hi) binning (not equi-depth) is what makes the sketch
# mergeable AND cross-engine exact: the bin of a value is a pure
# function of the value, so Spark and DuckDB build identical integer
# count tables, and the quantile interpolation is the same IEEE
# expression on both sides (quantile error is bounded by one bin
# width by construction — the ACCURACY is approximate, the SKETCH is
# deterministic).  Out-of-range values clamp into the edge bins, which
# preserves ranks below hi but biases estimates that land in the edge
# bins; pick [lo, hi) from domain knowledge, not from the data (a
# data-dependent range would need an extra pass and break merging
# across corpora scanned at different times).
#
# Relation to operators/profile.py: profile.py's KLL wrapper is the
# adaptive-range alternative (no [lo, hi) to pick) but its estimates
# are not reproducible outside Spark; this sketch sits behind the same
# DuckDB hash gate as the exact queries.

#: default bin count — 2 KiB of BIGINT state per group in the shuffle
HIST_BINS = 256


def hist_sketch(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = HIST_BINS,
    group_cols: list[str] | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Sketch state: one row per (group, bin) with the value count.
    bin = clamp(floor((v - lo) / w), 0, n_bins - 1) — a pure function
    of the value, so this groupBy is map-side combinable and two
    sketches merge by summing counts (:func:`hist_merge`).

    ``weight_col`` (integer) makes it a WEIGHTED histogram — each row
    contributes its weight instead of 1, and :func:`hist_quantiles`
    then answers weighted quantiles (e.g. "the doc-length percentile
    where half the corpus TOKENS sit" with weight = n_tokens, the
    sequence-packing planner's question, vs the per-document p50).
    Integer weights keep the sketch exact/mergeable in both engines;
    rows with NULL or NEGATIVE weight are dropped like rows with
    non-finite values (a negative weight would make cumulative counts
    non-monotonic and the quantile interpolation silently meaningless
    — identically in both engines, so the hash gate could never catch
    it; filtering is the declarative guard).  A group whose surviving
    weights are all zero has total = 0 and NO quantiles —
    :func:`hist_quantiles` emits no rows for it, in both engines."""
    if not hi > lo:
        raise ValueError(f"hist_sketch: need hi > lo, got [{lo}, {hi})")
    if n_bins < 1:
        raise ValueError(f"hist_sketch: need n_bins >= 1, got {n_bins}")
    if weight_col is not None:
        _check_int_weight_col(df, weight_col, "hist_sketch")
    group_cols = group_cols or []
    w = (hi - lo) / n_bins
    v = F.col(value_col).cast("double")
    bin_ = F.least(
        F.greatest(F.floor((v - F.lit(lo)) / F.lit(w)), F.lit(0)),
        F.lit(n_bins - 1),
    )
    # finite values only: -inf < v < inf excludes NULL, NaN and both
    # infinities in BOTH engines (Spark orders NaN above +inf; DuckDB
    # likewise), whereas floor(NaN) would bin into 0 in Spark and raise
    # a cast error in the DuckDB twin — a cross-engine divergence the
    # hash gate must never see
    finite = (v > F.lit(float("-inf"))) & (v < F.lit(float("inf")))
    if weight_col is not None:
        wgt = F.col(weight_col).cast("long")
        return (
            df.filter(finite & wgt.isNotNull() & (wgt >= 0))
            .select(*group_cols, bin_.alias("bin"), wgt.alias("w"))
            .groupBy(*group_cols, "bin")
            .agg(F.sum("w").alias("cnt"))
        )
    return (
        df.filter(finite)
        .select(*group_cols, bin_.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_merge(*sketches: DataFrame) -> DataFrame:
    """Merge histograms over disjoint data: union + re-SUM per bin
    (associative, commutative — the streaming twin accumulates
    microbatch sketches through exactly this)."""
    out = sketches[0]
    for extra in sketches[1:]:
        out = out.unionByName(extra)
    keys = [c for c in out.columns if c != "cnt"]
    return out.groupBy(*keys).agg(F.sum("cnt").alias("cnt"))


def hist_quantiles(
    sketch: DataFrame,
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int = HIST_BINS,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Quantile estimates from a histogram sketch: for each q in
    ``qs`` (0 < q <= 1), the first bin whose cumulative count reaches
    rank r = q * total, linearly interpolated within the bin:

        est = lo + w * (bin + (r - cum_before) / cnt)

    Error <= one bin width w for any in-range quantile.  Everything up
    to (bin, cnt, cum) is integer-exact; the interpolation mirrors the
    DuckDB twin (:func:`hist_quantiles_sql`) operation for operation,
    so the doubles hash-match (same IEEE ops in the same order —
    the HLL estimate plays the same trick).

    Plan shape: two window functions + an explode of the constant qs
    array + a row_number pick — all over the SKETCH (<= n_bins rows
    per group), never the data."""
    if any(not (0.0 < q <= 1.0) for q in qs):
        raise ValueError(f"hist_quantiles: qs must be in (0, 1], got {qs}")
    group_cols = group_cols or []
    w = (hi - lo) / n_bins
    gwin = Window.partitionBy(*[F.col(g) for g in group_cols])
    cum_win = gwin.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_cum = sketch.select(
        *group_cols,
        "bin",
        "cnt",
        F.sum("cnt").over(cum_win).alias("cum"),
        F.sum("cnt").over(gwin).alias("total"),
    )
    # a zero-total group (possible under weighting: every surviving row
    # had weight 0) has NO quantiles — emit nothing rather than 0/0.
    # With total > 0 the picked bin provably has cnt >= 1 (cum_before <
    # r <= cum forces cum > cum_before), so the interpolation divisor
    # is never zero in either engine.
    q_rows = with_cum.filter(F.col("total") > 0).select(
        "*", F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    )
    # rank of the q-th value (1-based, continuous-mass): the first bin
    # with cum >= r holds it; cum_before < r is then guaranteed, so
    # the interpolated fraction lies in (0, 1]
    r = F.col("q") * F.col("total").cast("double")
    picked = (
        q_rows.withColumn("r", r)
        .filter(F.col("cum") >= F.col("r"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(*group_cols, "q").orderBy("bin")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    est = F.lit(lo) + F.lit(w) * (
        F.col("bin")
        + (F.col("r") - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
    )
    return picked.select(*group_cols, "q", est.alias("quantile_est"))


def hist_quantiles_sql(
    table: str,
    value_expr: str,
    lo: float,
    hi: float,
    qs: list[float],
    n_bins: int = HIST_BINS,
    group_cols: list[str] | None = None,
    where: str = "",
    weight_expr: str | None = None,
) -> str:
    """DuckDB twin of hist_sketch + hist_quantiles — identical binning
    and interpolation arithmetic, so the estimates hash-match.  Every
    float constant enters as CAST('<repr>' AS DOUBLE) — a STRING
    literal, because DuckDB parses a bare numeric literal through
    DECIMAL first, and DECIMAL->DOUBLE can land one ulp away from
    Python/Spark's repr->double (found by the hypothesis fuzzer at
    w = 100/27: 1.8518518518518519 vs ...52); the string path uses
    correctly-rounded strtod and matches exactly.

    ``weight_expr`` must evaluate to an INTEGER type, mirroring
    hist_sketch's weight_col type check: a fractional weight would
    truncate in Spark but round in DuckDB (and NaN/huge doubles
    diverge harder), breaking the twin contract."""
    group_cols = group_cols or []
    w = (hi - lo) / n_bins
    gsel = "".join(f"{g}, " for g in group_cols)
    gby = "GROUP BY " + ", ".join([*group_cols, "bin"])
    part = ", ".join(group_cols) if group_cols else ""
    part_by = f"PARTITION BY {part} " if part else ""
    q_list = ", ".join(f"CAST('{float(q)!r}' AS DOUBLE)" for q in qs)
    v = f"CAST({value_expr} AS DOUBLE)"
    wherec = f"AND ({where})" if where else ""
    if weight_expr is not None:
        cnt = f"CAST(SUM(CAST({weight_expr} AS BIGINT)) AS BIGINT)"
        # NULL and negative weights dropped, mirroring hist_sketch
        wherec += (
            f" AND {weight_expr} IS NOT NULL"
            f" AND CAST({weight_expr} AS BIGINT) >= 0"
        )
    else:
        cnt = "COUNT(*)"
    # clamp in DOUBLE space BEFORE the BIGINT cast: for finite-but-huge
    # values (v - lo)/w can exceed 2^63 (or overflow to +-inf), where
    # Spark's floor saturates at Long.MAX/MIN and the outer clamp lands
    # in the edge bin — but DuckDB's CAST(huge AS BIGINT) raises a
    # Conversion Error.  GREATEST/LEAST on doubles first makes the cast
    # operand always in [0, n_bins-1] (exact doubles), so both engines
    # agree for every finite input.
    return f"""
    WITH sk AS (
      SELECT {gsel}
             CAST(LEAST(GREATEST(floor(({v} - CAST('{lo!r}' AS DOUBLE))
                                       / CAST('{w!r}' AS DOUBLE)),
                                 CAST('0.0' AS DOUBLE)),
                        CAST('{float(n_bins - 1)!r}' AS DOUBLE)) AS BIGINT) AS bin,
             {cnt} AS cnt
      FROM {table}
      WHERE {v} > CAST('-infinity' AS DOUBLE)
        AND {v} < CAST('infinity' AS DOUBLE) {wherec} {gby}
    ), cums AS (
      SELECT {gsel} bin, cnt,
             SUM(cnt) OVER ({part_by}ORDER BY bin
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER ({part_by}) AS total
      FROM sk
    ), qrows AS (
      SELECT {gsel} bin, cnt, cum,
             q, q * CAST(total AS DOUBLE) AS r
      FROM cums, UNNEST([{q_list}]) AS t(q)
      WHERE total > 0
    ), picked AS (
      SELECT {gsel} bin, cnt, cum, q, r,
             ROW_NUMBER() OVER (PARTITION BY {part}{", " if part else ""}q
                                ORDER BY bin) AS rn
      FROM qrows WHERE cum >= r
    )
    SELECT {gsel} q,
           CAST('{lo!r}' AS DOUBLE) + CAST('{w!r}' AS DOUBLE)
             * (bin + (r - (cum - cnt)) / cnt) AS quantile_est
    FROM picked WHERE rn = 1
    """


# ---------------------------------------------------------------------------
# Blocked Bloom filter (Bloom 1970; blocking per Putze/Sanders/Singler
# 2007) — packed-bitset membership sketch
# ---------------------------------------------------------------------------
# The missing piece between "broadcast the whole small side" and "shuffle
# the big side": a set of N values becomes m bits (m/64 BIGINT words),
# mergeable by bitwise OR, with NO false negatives.  The canonical use
# at 100 TB is membership PREFILTERING — e.g. decontamination, where the
# benchmark n-gram set may be tens of millions of 8-byte hashes (~GB as
# a broadcast hash relation) but its bloom is a few MB: every task
# streams its corpus grams past the bitset and drops ~all of them before
# the exact verification join ever sees a row.  Because false positives
# are removed by that exact verify, the composed operator stays EXACT
# (oracle: the plain join) while the expensive side shrinks by ~1/fp.
#
# BLOCKED layout: all k bits of a value live in ONE 64-bit word (the
# word index from one hash field, the k in-word bit offsets from
# disjoint 6-bit fields of a second).  That choice is what makes the
# Spark plan cheap — build is select+groupBy with NO explode, and a
# membership probe is ONE broadcast hash join + one bit test (the
# classic spread layout needs k joins or an explode+regroup of the BIG
# side; a first cut that did k joins measured 4.5x the plain exact join
# at sf0.1, the blocked rewrite ~1.5x).  The price is a slightly higher
# fp rate than an ideal Bloom filter at the same m/n (block-occupancy
# variance — Putze et al. measure ~1.1-1.5x for 64-bit blocks; size m
# one power of two up to compensate).
#
# Hash fields: by default the two disjoint 60-bit halves of one md5
# (same cost profile as the CMS build).  With ``prehashed=True`` the
# value column is ALREADY a well-mixed 64-bit hash (e.g. the xxhash64
# gram hashes of the decontamination chain) and the fields are carved
# from its bits directly — zero additional digests, the per-row cost of
# the 100 TB side drops to shifts and masks.  Requires m <= 2^24 so the
# word index (log2(m/64) <= 18 bits) and k*6 offset bits fit the 64-bit
# budget with headroom.

#: default filter size — 2^20 bits = 16 Ki BIGINT words = 128 KiB
BLOOM_M = 1 << 20
#: default probe count; fp ~ (1 - e^(-k*n/m))^k + blocking penalty
BLOOM_K = 4

#: prehashed mode carves word index + k*6 offset bits from 64 bits
_BLOOM_MAX_M_PREHASHED = 1 << 24

#: reserved word id for the parameter metadata row.  Real word indexes
#: are pmod results in [0, m/64), so -1 can never collide with one and
#: never matches a probe's computed word in the membership join.
_BLOOM_META_WORD = -1


def _bloom_meta_bits(m: int, k: int, prehashed: bool) -> int:
    """Pack (m, k, prehashed) into the meta row's ``bits``: the 32-bit
    param word P in the low half and ~P in the high half.  bloom_merge
    BIT_ORs meta rows like any other word, so merging sketches built
    with the SAME parameters is a no-op (x | x == x) while merging
    DIFFERENT parameters yields a self-inconsistent row — high half ==
    ~(P1 & P2) but low half == P1 | P2, equal only when P1 == P2 —
    that probe-time validation rejects.  No-false-negative contract
    hardening per round-4 advice: probing with parameters different
    from the build silently produced false negatives before."""
    p = (m.bit_length() - 1) << 8 | k << 1 | int(prehashed)
    u = p | ((p ^ 0xFFFFFFFF) << 32)
    return u - (1 << 64) if u >= (1 << 63) else u


def _bloom_meta_decode(bits: int) -> tuple[int, int, bool]:
    """Inverse of :func:`_bloom_meta_bits`; raises on a row produced by
    merging sketches with mismatched parameters."""
    u = bits & 0xFFFFFFFFFFFFFFFF
    lo_half, hi_half = u & 0xFFFFFFFF, u >> 32
    if hi_half != lo_half ^ 0xFFFFFFFF:
        raise ValueError(
            "bloom sketch parameter row is self-inconsistent: this sketch "
            "was bloom_merge'd from sketches built with DIFFERENT "
            "(m, k, prehashed) parameters — such a merge is not a valid "
            "bloom filter (false negatives possible); rebuild the shards "
            "with one parameter set"
        )
    return 1 << (lo_half >> 8), (lo_half >> 1) & 0x7F, bool(lo_half & 1)


def _bloom_word_mask(
    value: Column, m: int, k: int, prehashed: bool
) -> tuple[Column, Column]:
    """(word index, k-bit in-word mask) for one value.  The mask is a
    single JVM expression (k shiftlefts OR-ed) over a 60-bit offset
    field; duplicate 6-bit offsets just waste a probe bit (standard
    blocked-bloom behavior, covered by the fp envelope)."""
    n_words = m // 64
    if prehashed:
        h = value.cast("long")
        word = F.pmod(h, F.lit(n_words))
        # offset fields start above the word-index bits; n_words is a
        # power of two <= 2^18, so bits 18.. are untouched by pmod
        offs = F.shiftright(h, 18)
    else:
        digest = F.md5(value.cast("string"))
        word = (
            F.conv(F.substring(digest, 1, 15), 16, 10).cast("long")
            % F.lit(n_words)
        )
        offs = F.conv(F.substring(digest, 17, 15), 16, 10).cast("long")
    mask = None
    for j in range(k):
        bit = F.shiftright(offs, 6 * j).bitwiseAND(F.lit(63)).cast("int")
        one = F.expr("CAST(1 AS BIGINT)")
        term = F.call_function("shiftleft", one, bit)
        mask = term if mask is None else mask.bitwiseOR(term)
    return word, mask


def _validate_bloom(m: int, k: int, prehashed: bool) -> None:
    if m % 64 != 0 or m & (m - 1) != 0 or m < 64:
        raise ValueError(f"bloom m must be a power of two >= 64, got {m}")
    if not 1 <= k <= 10:
        raise ValueError(f"bloom k must be in [1, 10], got {k}")
    if prehashed:
        if m > _BLOOM_MAX_M_PREHASHED:
            raise ValueError(
                f"prehashed bloom supports m <= 2^24 (word index must fit "
                f"below the offset bits), got {m}; hash the value (md5 "
                f"mode) for larger filters"
            )
        if k > 7:
            raise ValueError(
                f"prehashed bloom supports k <= 7 (18 word-index bits + "
                f"6k offset bits must fit 63), got {k}"
            )


def bloom_build(
    df: DataFrame,
    value_col: str,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    prehashed: bool = False,
) -> DataFrame:
    """Build the bitset: rows (word, bits) with bits the OR of every
    set bit in that 64-bit word — at most m/64 rows (+ 1 parameter
    row, word = -1) however large the input, absent words are
    all-zero.  One select + one map-side-combinable BIT_OR; no explode
    (all k bits share the word).  The parameter row embeds
    (m, k, prehashed) so a probe with different parameters — which
    would silently break the no-false-negative contract — fails fast
    at :func:`bloom_filter_members` instead."""
    _validate_bloom(m, k, prehashed)
    v = F.col(value_col)
    word, mask = _bloom_word_mask(v, m, k, prehashed)
    meta = df.sparkSession.range(1).select(
        F.lit(_BLOOM_META_WORD).cast("long").alias("word"),
        F.lit(_bloom_meta_bits(m, k, prehashed)).alias("bits"),
    )
    return (
        df.filter(v.isNotNull())
        .select(word.alias("word"), mask.alias("mask"))
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .unionByName(meta)
    )


def bloom_merge(*sketches: DataFrame, require_meta: bool = True) -> DataFrame:
    """Union of the underlying sets: OR the words (associative,
    commutative, idempotent — bloom(A) merged twice is bloom(A)).

    ``require_meta`` (default True) guards the mixed-merge hazard: a
    shard with NO parameter row (streamed accumulation, pre-upgrade
    persisted sketch) contributes nothing to the merged word = -1 row,
    so a naked shard built with different (m, k, prehashed) would pass
    both probe-validation modes and yield undetected false negatives.
    The guard is in-plan (no extra action): the merged meta row carries
    a count of contributing shards, and raises at evaluation when it
    differs from the number of merged sketches — every shard must bring
    exactly one parameter row.  It lives in a FILTER predicate, not the
    ``bits`` projection, so Catalyst cannot column-prune it away: any
    action that consumes the merged frame's rows trips it, including a
    bits-free ``.count()`` or a projection that drops bits (r6 advice —
    the projection-embedded guard was prunable by bits-free consumers).
    Remaining limitation, inherent to lazy in-plan guards: a consumer
    that itself filters the word = -1 row out BEFORE acting (e.g.
    ``merged.filter("word >= 0")``) discards the guarded row unevaluated
    — that re-creates a parameter-less sketch deliberately, which is the
    documented ``require_meta=False`` risk surface.  (If NO shard has a
    parameter row, there is no word = -1 row to guard; that case stays
    covered by the probe's ``validate="strict"``, which rejects
    meta-less sketches outright.)  ``require_meta=False`` restores the
    raw OR for deliberately parameter-less sketches (the hazard is then
    the caller's to manage)."""
    out = sketches[0]
    for extra in sketches[1:]:
        out = out.unionByName(extra)
    merged = out.groupBy("word").agg(
        F.bit_or("bits").alias("bits"),
        F.count(F.lit(1)).alias("__bloom_shards"),
    )
    if require_meta:
        n = len(sketches)
        guard = F.when(
            (F.col("word") == F.lit(_BLOOM_META_WORD))
            & (F.col("__bloom_shards") != F.lit(n)),
            F.raise_error(F.lit(
                f"bloom_merge of {n} sketches found a word = -1 parameter-"
                f"row count different from {n}: a merged shard has no "
                f"parameter row (not built by bloom_build, or the row was "
                f"filtered out) or duplicate ones; a parameter-less shard "
                f"built with different (m, k, prehashed) would silently "
                f"produce false negatives — pass require_meta=False to "
                f"merge parameter-less sketches at your own risk"
            )).cast("boolean"),
        ).otherwise(F.lit(True))
        merged = merged.filter(guard)
    return merged.drop("__bloom_shards")


def bloom_filter_members(
    probes: DataFrame,
    value_col: str,
    sketch: DataFrame,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    prehashed: bool = False,
    validate: bool = True,
    join_strategy: str = "broadcast",
) -> DataFrame:
    """Rows of ``probes`` whose value MIGHT be in the sketched set
    (never drops a true member; keeps false positives at the filter's
    fp rate — compose with an exact verify when exactness matters).

    Plan shape: ONE broadcast hash join against the <= m/64-row bitset
    + one bit test — the probe side is never shuffled, exploded, or
    grouped.  A probe whose word is absent from the sketch is
    definitely absent (inner join drops it — no bit of that word was
    ever set).

    ``validate`` (default True) checks the sketch's embedded parameter
    row against (m, k, prehashed) and fails on any mismatch — probing
    with parameters different from the build would silently produce
    FALSE NEGATIVES, violating the contract above.  The default check
    is IN-PLAN (a raise_error guard on the word = -1 row of the
    broadcast side): it adds no Spark action — an earlier collect-based
    check evaluated an unmaterialized sketch's whole build aggregation
    a second time per probe — but it surfaces at execution, not
    construction, and a sketch with NO parameter row passes it
    unchecked (no row, no guard fires).  ``validate="strict"`` keeps
    the eager collect: raises at call time and also rejects a sketch
    whose parameter row is missing, at the cost of one evaluation of
    the sketch plan.  ``validate=False`` skips both — for call sites
    where build and probe parameters are provably the same variables
    (e.g. decontam.contamination_hits_bloom).

    ``join_strategy`` is a plan-pinning knob: "broadcast" (the
    production default — the bitset is <= m/64 rows) or a join hint
    name ("merge", "shuffle_hash") used by regression tests to force
    non-broadcast physical strategies through the SAME in-plan guard,
    so an optimizer change that starts skipping the never-joined
    word = -1 row (runtime join-key filtering, projection pushdown)
    is caught by the suite rather than silently disabling validation."""
    _validate_bloom(m, k, prehashed)
    if join_strategy not in ("broadcast", "merge", "shuffle_hash"):
        # DataFrame.hint() ignores unknown names with only a warning —
        # a typo would silently hand the strategy back to the optimizer
        # and the plan-pinning test would stop testing what it claims
        raise ValueError(
            f"join_strategy must be broadcast|merge|shuffle_hash, "
            f"got {join_strategy!r}"
        )
    if validate == "strict":
        meta_rows = sketch.filter(
            F.col("word") == F.lit(_BLOOM_META_WORD)
        ).collect()
        if not meta_rows:
            raise ValueError(
                "bloom sketch has no parameter row (word = -1): not built "
                "by bloom_build, or the row was filtered out; pass "
                "validate=False to probe a parameter-less sketch at your "
                "own risk"
            )
        sk_m, sk_k, sk_pre = _bloom_meta_decode(meta_rows[0]["bits"])
        if (sk_m, sk_k, sk_pre) != (m, k, prehashed):
            raise ValueError(
                f"bloom probe parameters (m={m}, k={k}, "
                f"prehashed={prehashed}) do not match the sketch's build "
                f"parameters (m={sk_m}, k={sk_k}, prehashed={sk_pre}); "
                f"probing with mismatched parameters silently produces "
                f"false negatives"
            )
    elif validate:
        expect = _bloom_meta_bits(m, k, prehashed)
        guard = F.when(
            (F.col("word") == F.lit(_BLOOM_META_WORD))
            & (F.col("bits") != F.lit(expect)),
            F.raise_error(F.lit(
                f"bloom probe parameters (m={m}, k={k}, "
                f"prehashed={prehashed}) do not match the sketch's build "
                f"parameters (or the sketch merged shards built with "
                f"different parameters); probing with mismatched "
                f"parameters silently produces false negatives"
            )).cast("long"),
        ).otherwise(F.col("bits"))
        sketch = sketch.withColumn("bits", guard)
    v = F.col(value_col)
    word, mask = _bloom_word_mask(v, m, k, prehashed)
    # internal column names must not collide with the caller's (a fixed
    # "_w" would silently overwrite-and-drop a real probe column)
    suffix = ""
    while any(f"__bloom_{n}{suffix}" in probes.columns
              for n in ("w", "mask", "b")):
        suffix += "_"
    cw, cm, cb = (f"__bloom_{n}{suffix}" for n in ("w", "mask", "b"))
    build_side = sketch.select(
        F.col("word").alias(cw), F.col("bits").alias(cb)
    )
    if join_strategy == "broadcast":
        build_side = F.broadcast(build_side)
    else:
        build_side = build_side.hint(join_strategy)
    return (
        probes.withColumn(cw, word)
        .withColumn(cm, mask)
        .join(build_side, cw)
        .filter(F.col(cb).bitwiseAND(F.col(cm)) == F.col(cm))
        .drop(cw, cm, cb)
    )
