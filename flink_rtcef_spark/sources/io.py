"""Readers for the engine's sources.

The reference ingests JSONL over Kafka (InferenceJob.java:120-132) and
CSV files (stream/StreamFactory.scala:167-173).  Here: parquet is the
batch default (columnar scan + pushdown), JSONL with declared schema for
parity, Kafka behind an import/packaging guard (the local image has no
kafka connector jar).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_rtcef_spark.sources.schemas import (
    BITSTRING_FLAGS,
    MARITIME_RAW_SCHEMA,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # the events fixture carries parquet TIMESTAMP(NANOS), which
        # Spark has no native type for; read it as long (runtime-settable
        # legacy conf — works on caller-provided sessions too, e.g. the
        # correctness driver's own session) and convert below.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # parquet TIMESTAMP(NANOS) surfaced as long (nanosAsLong):
        # truncate to micros exactly (integer div) — matches DuckDB's
        # nanos->micros truncation on the same file.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        # fixtures written with isAdjustedToUTC=false surface as
        # TIMESTAMP_NTZ, which unix_millis/window reject.  Re-tag the
        # wall clock as the same UTC instant DuckDB sees — WITHOUT
        # mutating the session time zone (a caller-provided session
        # keeps its tz; a plain cast there would silently shift).
        df = df.withColumn(c, ntz_as_utc(c, spark))
    return df


_UTC_NAMES = frozenset({"UTC", "Etc/UTC", "GMT", "Z", "+00:00"})


def ntz_as_utc(col_name: str, spark: SparkSession):
    """TIMESTAMP_NTZ column -> TIMESTAMP Column at the same wall clock
    read as UTC, correct under ANY spark.sql.session.timeZone and with
    no session mutation.

    On a UTC session (the engine default, session.py) this is a plain
    cast, which Catalyst's UnwrapCastInBinaryComparison can invert — so
    filters on the column still push down to the parquet scan (the
    plan-shape tests assert PushedFilters).  On a non-UTC session the
    cast would shift by the session offset, so we pay a non-pushdown
    tz-free interval expression instead: NTZ minus NTZ epoch is a
    day-time interval, integral-divided down to epoch micros.
    """
    if spark.conf.get("spark.sql.session.timeZone") in _UTC_NAMES:
        return F.col(col_name).cast("timestamp")
    return F.expr(
        f"timestamp_micros((`{col_name}` - TIMESTAMP_NTZ '1970-01-01 00:00:00') "
        "div INTERVAL '0.000001' SECOND)"
    )


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def read_events_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSONL event source with declared schema (no inference in prod)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def parse_maritime(raw: DataFrame) -> DataFrame:
    """The reference's maritime parse as pure Column expressions.

    Mirrors MaritimeParser.java:37-133 — rename trh->heading, derive
    gap_start from timestamp==-1, constant event type, and explode the
    8-char critical_bitstring into 8 double flags (bit positions 7..0;
    bitstring "-1" -> all flags -1.0).  All JVM-side, codegen-friendly:
    no UDFs.
    """
    df = raw.withColumnRenamed("trh", "heading")
    df = df.withColumn("gap_start", F.when(F.col("timestamp") == -1, 1.0).otherwise(0.0))
    df = df.withColumn("event_type", F.lit("SampledCritical"))
    bs = F.col("critical_bitstring")
    for i, flag in enumerate(BITSTRING_FLAGS):
        # flag i reads character i+1 of the 8-char bitstring
        df = df.withColumn(
            flag,
            F.when(bs == "-1", -1.0).otherwise(
                F.substring(bs, i + 1, 1).cast("double")
            ),
        )
    return df.drop("critical_bitstring")


def read_maritime_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV variant of the maritime source (data/maritime.csv layout:
    timestamp,mmsi,lon,lat,speed,cog,trh,critical_bitstring)."""
    schema = "timestamp long, mmsi string, lon double, lat double, speed double, cog double, trh double, critical_bitstring string"
    return parse_maritime(spark.read.csv(path, schema=schema, header=False))


# The wire schema spark-sql-kafka produces for every record; contract
# tests build static frames with this schema so the parse chain is
# exercised without a broker.
KAFKA_RAW_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)


def kafka_source_options(
    brokers: str,
    topics: str | list[str] | tuple[str, ...],
    starting: str = "earliest",
) -> dict[str, str]:
    """Source options mirroring the reference's consumer contract
    (InferenceJob.java:120-132, 145-153, 169-178): multi-topic
    subscription, configurable starting offsets, and the I/O-lag
    tolerance timeouts it sets on every consumer
    (session.timeout.ms=45000 / request.timeout.ms=60000)."""
    if starting not in ("earliest", "latest"):
        raise ValueError(f"startingOffsets must be earliest|latest, got {starting!r}")
    if not isinstance(topics, str):
        topics = ",".join(topics)
    return {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topics,
        "startingOffsets": starting,
        "kafka.session.timeout.ms": "45000",
        "kafka.request.timeout.ms": "60000",
    }


def read_kafka_stream(
    spark: SparkSession,
    brokers: str,
    topics: str | list[str] | tuple[str, ...],
    starting: str = "earliest",
):
    """Kafka source (InferenceJob.java:120-132 equivalent).

    Gated: the local image ships no spark-sql-kafka package; on a real
    cluster pass --packages org.apache.spark:spark-sql-kafka-0-10_2.13.
    """
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(brokers, topics, starting).items():
        reader = reader.option(k, v)
    try:
        return reader.load()
    except Exception as exc:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "Kafka connector jar not available in this environment; "
            "use file/memory sources locally"
        ) from exc


def parse_kafka_values(raw: DataFrame, schema=None) -> DataFrame:
    """Value-only deserialization, the reference's SimpleStringSchema
    (InferenceJob.java:127 setValueOnlyDeserializer): the record value
    becomes a string; with ``schema`` given it is further parsed as one
    JSON event per record (JsonEventParser parity).  Pure Column
    expressions over the Kafka wire schema, so it applies identically to
    a live ``readStream`` and to a static contract-test frame."""
    value = F.col("value").cast("string")
    if schema is None:
        return raw.select(value.alias("value"))
    parsed = raw.select(F.from_json(value, schema).alias("e"))
    # malformed JSON -> all-null struct; drop, as the reference's parser
    # flatMap skips unparseable records
    any_field_set = F.expr(
        " or ".join(f"`{f.name}` is not null" for f in schema.fields) or "true"
    )
    return parsed.select("e.*").filter(any_field_set)


def kafka_sink_payload(
    df: DataFrame, key_col: str | None = None, value_cols: list[str] | None = None
) -> DataFrame:
    """Serialize rows to the (key, value) pair the Kafka sink writes:
    value is the JSON of the selected columns (the reference emits
    string records, InferenceJob.java:201-208 SimpleStringSchema), key
    optionally carries the partition key so a keyed topic preserves
    per-key ordering (the engine's keyBy(mmsi) contract)."""
    cols = value_cols or df.columns
    value = F.to_json(F.struct(*[F.col(c) for c in cols])).alias("value")
    if key_col is None:
        return df.select(value)
    return df.select(F.col(key_col).cast("string").alias("key"), value)


def write_kafka_stream(
    df: DataFrame,
    brokers: str,
    topic: str,
    checkpoint: str,
    key_col: str | None = None,
    value_cols: list[str] | None = None,
):
    """Kafka sink (InferenceJob.java:201-208 datasetsSink equivalent).
    Same packaging gate as the source."""
    payload = kafka_sink_payload(df, key_col=key_col, value_cols=value_cols)
    writer = (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )
    try:
        return writer.start()
    except Exception as exc:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "Kafka connector jar not available in this environment; "
            "use file/memory sinks locally"
        ) from exc
