"""Collector: bucketed dataset persistence + retention.

The reference's Collector (Collector.java:39-304, A12/G5) writes events
into wall-clock-aligned buckets (bucket_id = floor(ts/bucket_size) *
bucket_size, :121), notifies the factory of new dataset versions, and
deletes buckets below the assembled range once the factory ACKs.

Layout: a hive-partitioned parquet lake, ``bucket_id=<b>/`` per bucket,
which partition-prunes at assembly.  A window the adaptation loop has
already collected to the driver (an Arrow table carrying the
``bucket_col`` column) is written with ``pyarrow.parquet``, one file
per bucket and no Spark job; a larger one with
``df.write.partitionBy("bucket_id")``.  Both writers produce the same
layout, so a lake may mix them.  Assembly reads the lake back the same
way round: within the driver bound, with pyarrow into an in-memory
frame of the schema and rows Spark's reader gives; above it, with
``spark.read.parquet``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from flink_rtcef_spark.streaming import bounded

#: the footer key under which Spark's parquet writer keeps its schema
_SPARK_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def _check_ts(n_null: int, ts_col: str) -> None:
    """Refuse a window with ``n_null`` rows whose ``ts_col`` is NULL: a
    NULL bucket would land in Spark's ``__HIVE_DEFAULT_PARTITION__``
    dir, which no ``bucket_id=<int>`` range assembles and which sends
    every later :meth:`BucketCollector.assemble` down Spark's reader."""
    if n_null:
        raise ValueError(
            f"{n_null} rows of the window have a NULL {ts_col!r}, so no "
            f"bucket; drop or fill them before collecting"
        )


@dataclass
class DatasetNotification:
    dataset_id: str
    path_prefix: str
    buckets_range: list[int]
    version: int
    bucket_count: int


@dataclass
class BucketCollector:
    base_path: str
    bucket_size: int = 86400
    last_k: int = 7
    version: int = 0
    seen_buckets: set[int] = field(default_factory=set)

    def bucket_col(self, ts_col: str = "timestamp") -> Column:
        """The bucket of each event (Collector.java:121), as a Column."""
        return (F.col(ts_col).cast("long") / self.bucket_size).cast("long") * self.bucket_size

    def collect(
        self, window: DataFrame | pa.Table, ts_col: str = "timestamp"
    ) -> DatasetNotification | None:
        """Append a window into bucket partitions; emit a dataset
        notification when a new bucket appears (Collector.java:245-270).

        ``window`` is a DataFrame (one job for its distinct buckets,
        then one partitioned Spark write) or an Arrow table already
        holding a ``bucket_id`` column computed by :meth:`bucket_col`
        (one ``pyarrow.parquet`` file per bucket, no Spark job).  A row
        with a NULL ``ts_col`` has no bucket: the window is refused
        with a ValueError before anything is written."""
        if isinstance(window, pa.Table):
            _check_ts(window.column("bucket_id").null_count, ts_col)
            buckets_now = self._write_arrow(window)
        else:
            with_bucket = window.withColumn("bucket_id", self.bucket_col(ts_col))
            counts = dict(with_bucket.groupBy("bucket_id").count().collect())
            _check_ts(counts.pop(None, 0), ts_col)
            with_bucket.write.mode("append").partitionBy("bucket_id").parquet(self.base_path)
            buckets_now = {int(b) for b in counts}
        new_buckets = buckets_now - self.seen_buckets
        self.seen_buckets |= buckets_now
        if not new_buckets:
            return None
        self.version += 1
        covered = sorted(self.seen_buckets)[-self.last_k :]
        return DatasetNotification(
            dataset_id=f"ds-{self.version}",
            path_prefix=self.base_path,
            buckets_range=covered,
            version=self.version,
            bucket_count=len(covered),
        )

    def _write_arrow(self, table: pa.Table) -> set[int]:
        """Write ``table``'s rows under their ``bucket_id=<b>`` dirs, the
        column itself dropped as Spark's partitioned write drops it; the
        Arrow types are written as they are (no pandas round trip), so
        an integer column holding NULLs stays an integer column.  Each
        file is written under a dot name, which Spark's reader skips,
        and renamed into place, so a crash leaves no torn file.  Returns
        the buckets written."""
        ids = table.column("bucket_id")
        data = table.drop_columns(["bucket_id"])
        buckets = {int(b) for b in pc.unique(ids).to_pylist()}
        for b in buckets:
            part = Path(self.base_path) / f"bucket_id={b}"
            part.mkdir(parents=True, exist_ok=True)
            name = f"part-{uuid.uuid4().hex}.parquet"
            pq.write_table(data.filter(pc.equal(ids, b)), str(part / f".{name}"))
            os.replace(part / f".{name}", part / name)
        return buckets

    def assemble(self, spark: SparkSession, buckets_range: list[int]) -> DataFrame:
        """Union the requested buckets (ModelFactoryEngine.assembleDataset
        :130-182) as ``spark.read.parquet(base_path)`` filtered to them.

        Within the driver bound (``bounded.max_rows`` of the lake's row
        width), counted from the parquet footers, their files are read
        with pyarrow, as the reference's factory reads its bucket files
        in its own process, into an in-memory frame of that read's
        schema and rows: no Spark job runs here.  Above it, Spark's
        reader scans them, partition pruning keeping it a K-bucket
        scan."""
        buckets = [int(b) for b in buckets_range]
        files = self._data_files()
        if files:
            schema = self._lake_schema(files)
            covered = ds.dataset(
                [f for b in buckets for f in files.get(b, [])],
                schema=to_arrow_schema(schema), format="parquet",
                partitioning="hive", partition_base_dir=self.base_path,
            )
            if covered.count_rows() <= bounded.max_rows(schema):
                return spark.createDataFrame(covered.to_table(), schema)
        df = spark.read.parquet(self.base_path)
        return df.filter(F.col("bucket_id").isin(buckets))

    def _data_files(self) -> dict[int, list[str]]:
        """The lake's data files by bucket, as Spark's reader lists them
        (names starting with ``_`` or ``.`` skipped); empty when the
        lake holds no file, or an entry that is no ``bucket_id=<int>``
        dir, which only Spark's reader reads."""
        files: dict[int, list[str]] = {}
        try:
            for name in os.listdir(self.base_path):
                if name[0] in "_.":
                    continue
                b = re.fullmatch(r"bucket_id=(-?\d+)", name)
                if b is None:
                    return {}
                part = os.path.join(self.base_path, name)
                paths = [os.path.join(part, f) for f in os.listdir(part) if f[0] not in "_."]
                if paths:
                    files[int(b[1])] = paths
        except OSError:
            return {}
        return files

    @staticmethod
    def _lake_schema(files: dict[int, list[str]]) -> StructType:
        """The schema of ``spark.read.parquet`` over ``files``' lake.
        With ``mergeSchema`` off, Spark reads one footer, the first
        file's by path: its Spark schema when a Spark writer left one,
        else its parquet types (a timestamp without a time zone is
        TIMESTAMP_NTZ).  Every column is nullable, and ``bucket_id``
        follows, an int when every bucket fits one, else a bigint."""
        footer = pq.read_schema(min(f for names in files.values() for f in names))
        written = (footer.metadata or {}).get(_SPARK_SCHEMA)
        data = (
            StructType.fromJson(json.loads(written)) if written
            else from_arrow_schema(footer, prefer_timestamp_ntz=True)
        )
        bucket = IntegerType() if all(-(2**31) <= b < 2**31 for b in files) else LongType()
        return StructType(
            [StructField(f.name, f.dataType, True, f.metadata) for f in data]
            + [StructField("bucket_id", bucket, True)]
        )

    def ack(self, buckets_range: list[int]) -> list[int]:
        """Factory ACK -> retention: delete buckets strictly below the
        assembled range (Collector.java:139-162)."""
        if not buckets_range:
            return []
        threshold = min(buckets_range)
        deleted = []
        for b in sorted(self.seen_buckets):
            if b < threshold:
                part = Path(self.base_path) / f"bucket_id={b}"
                if part.exists():
                    shutil.rmtree(part)
                deleted.append(b)
        self.seen_buckets -= set(deleted)
        return deleted
