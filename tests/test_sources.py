"""Source-layer tests: maritime parse (A4), metrics CSV shape."""

from __future__ import annotations

from flink_rtcef_spark.sources.io import parse_maritime
from flink_rtcef_spark.sources.schemas import BITSTRING_FLAGS, MARITIME_RAW_SCHEMA


def test_parse_maritime_bitstring_and_gap(spark):
    rows = [
        # normal row with bitstring 00100000 -> slow_motion_start=1
        (1443677401, "227592820", -4.489, 48.357, 16.79, 176.98, 178.6,
         0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, "00100000"),
        # gap row: timestamp=-1, bitstring "-1" -> all flags -1.0
        (-1, "227592820", -4.489, 48.357, 0.0, 0.0, 0.0,
         0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, "-1"),
    ]
    raw = spark.createDataFrame(rows, schema=MARITIME_RAW_SCHEMA)
    out = parse_maritime(raw).toPandas()
    normal, gap = out.iloc[0], out.iloc[1]
    assert normal["heading"] == 178.6  # trh renamed
    assert normal["event_type"] == "SampledCritical"
    assert normal["gap_start"] == 0.0 and gap["gap_start"] == 1.0
    # bitstring position 2 (0-indexed) -> slow_motion_start
    assert normal["slow_motion_start"] == 1.0
    assert sum(normal[f] for f in BITSTRING_FLAGS) == 1.0
    assert all(gap[f] == -1.0 for f in BITSTRING_FLAGS)


def test_metrics_csv_shape():
    from flink_rtcef_spark.streaming.loop import ReportPoint, RTCEFLoop

    loop = object.__new__(RTCEFLoop)  # no spark needed for formatting
    loop.metrics = [
        ReportPoint(1443677401, 0.51, 0.47, ""),
        ReportPoint(1443681001, 0.50, 0.45, "optimize+deploy"),
    ]
    csv = RTCEFLoop.metrics_csv(loop)
    lines = csv.strip().splitlines()
    assert lines[0] == "timestamp,human_time,runtime_mcc,batch_mcc,event"
    assert lines[1].startswith("1443677401,2015-10-01")
    assert lines[2].endswith("optimize+deploy")


def test_ntz_conversion_is_session_tz_independent(spark):
    """ntz_as_utc / ts_millis / load_table must yield the same UTC
    instants whatever spark.sql.session.timeZone is set to — the naive
    CAST(ntz AS timestamp) silently shifts by the session offset
    (ADVICE r2).  events.ts in the sf fixtures is TIMESTAMP-typed after
    load_table, and orders carries a raw TIMESTAMP_NTZ o_orderdate."""
    import pyspark.sql.functions as F

    from flink_rtcef_spark.operators.cep import ts_millis
    from flink_rtcef_spark.sources.io import load_table

    prev = spark.conf.get("spark.sql.session.timeZone")

    def epoch_values():
        orders = load_table(spark, "/root/testdata/sf0.001", "orders")
        assert dict(orders.dtypes)["o_orderdate"] == "timestamp"
        via_load = (
            orders.orderBy("o_orderkey")
            .select(F.unix_millis("o_orderdate").alias("ms"))
            .limit(5)
            .toPandas()["ms"]
            .tolist()
        )
        raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        assert dict(raw.dtypes)["o_orderdate"] == "timestamp_ntz"
        via_ts_millis = (
            raw.orderBy("o_orderkey")
            .select(ts_millis(raw, "o_orderdate").alias("ms"))
            .limit(5)
            .toPandas()["ms"]
            .tolist()
        )
        return via_load, via_ts_millis

    try:
        utc_load, utc_tsm = epoch_values()
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny_load, ny_tsm = epoch_values()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)

    assert utc_load == ny_load, "load_table NTZ conversion shifted with session tz"
    assert utc_tsm == ny_tsm, "ts_millis NTZ conversion shifted with session tz"
    assert utc_load == utc_tsm
    # and the session tz itself was not mutated by load_table
    assert spark.conf.get("spark.sql.session.timeZone") == prev
