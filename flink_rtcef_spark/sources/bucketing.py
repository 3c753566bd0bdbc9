"""Bucketed-table support — co-located joins without an Exchange.

At 100 TB the dominant cost of a repeated large-large join (events x
detections, corpus x corpus-history, signatures x signatures) is the
shuffle: every run re-partitions both sides on the join key.  Hive-style
bucketing pays that shuffle ONCE at write time — each side is written
pre-hash-partitioned into the same number of buckets on the join key —
and every subsequent join, groupBy, or dedup on that key reads the
co-located buckets with NO Exchange in the plan (SortMergeJoin directly
over the scans).

Spark only honors bucketing metadata through the catalog
(``saveAsTable``), not plain ``parquet(path)`` — that is a Spark
constraint, not a design choice here.  The helpers below wrap the
writer/reader so pipelines get the right layout by default:

- the bucket count should put ~100-500 MB in each bucket file per
  partition at the target scale (128 buckets/TB is a decent start);
- both join sides must use the SAME bucket count (or an integer
  multiple) on the SAME key for the exchange-free plan;
- ``sortBy`` on the join key additionally removes the Sort from the
  SMJ plan (read path is then scan -> merge-join).

``assert_no_exchange`` is the test hook: it inspects the physical plan
string so a regression (e.g. a config change silently disabling
bucketed reads) fails loudly instead of silently re-shuffling.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession

_LOG = logging.getLogger(__name__)

# filenames Spark's file committer writes: anything else in an
# "orphaned" directory means the location is NOT leftover task output
# and must not be deleted
_SPARK_DEBRIS_PREFIXES = ("part-", "_SUCCESS", "_committed_", "_started_")


def _is_spark_task_debris(fs, path) -> bool:
    """True iff every top-level entry under ``path`` is something
    Spark's output committer writes (part files + their hidden .crc
    shadows, commit markers, a ``_temporary`` staging dir).  An empty
    directory counts as debris (a write killed before its first task
    file)."""
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if st.isDirectory():
            if name != "_temporary":
                return False
            continue
        # local-FS checksum shadows: ".part-...parquet.crc"
        base = name.removeprefix(".").removesuffix(".crc")
        if not base.startswith(_SPARK_DEBRIS_PREFIXES):
            return False
    return True


def _purge_orphaned_location(spark: SparkSession, table: str) -> None:
    """Delete ``table``'s default managed location iff the catalog does
    NOT know the table but the directory exists on disk.

    ``saveAsTable`` replaces a *catalog entry*, but a process killed
    mid-write leaves the table directory behind with no entry — the
    next session's fresh metastore then fails the write with
    ``LOCATION_ALREADY_EXISTS``, and ``DROP TABLE IF EXISTS`` cannot
    clear a directory the catalog has never heard of.  Purging the
    orphan here makes killed runs self-healing.  A directory belonging
    to a *registered* table is never touched (normal overwrite/append
    semantics apply to it).

    Only ``write_bucketed(mode="overwrite")`` calls this: a caller who
    asked for ``error``/``append`` semantics opted into failing loudly
    on pre-existing data, so their orphans stay (with the in-memory
    catalog every prior session's table is "orphaned" — clobbering is
    only licensed when the caller declared overwrite intent).  Like
    ``saveAsTable`` overwrite itself, this assumes one writer per
    table name at a time; two sessions racing the same name could
    already clobber each other at the commit level.

    Two guards narrow the blast radius of that single-writer
    assumption (a concurrent session mid-``saveAsTable`` — directory
    written, catalog entry not yet committed — looks identical to an
    orphan from here): the purge only fires when the directory's
    contents are recognizably Spark task output
    (:func:`_is_spark_task_debris` — part files, commit markers,
    ``_temporary``; anything else raises instead of deleting), and the
    purged path is logged as a WARNING first so a clobbered concurrent
    writer is diagnosable from the log.
    """
    if "." in table:
        db, tbl = table.rsplit(".", 1)
    else:
        db, tbl = spark.catalog.currentDatabase(), table
    if spark.catalog.tableExists(f"{db}.{tbl}"):
        return
    db_loc = spark.catalog.getDatabase(db).locationUri
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(db_loc.rstrip("/") + "/" + tbl.lower())
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return
    if not _is_spark_task_debris(fs, path):
        raise RuntimeError(
            f"refusing to purge {path}: the catalog has no table "
            f"{db}.{tbl} but the directory holds files Spark's committer "
            "does not write — not leftover task output.  Remove the "
            "directory manually (or point the write elsewhere) if it "
            "really is stale."
        )
    _LOG.warning(
        "write_bucketed(mode='overwrite'): purging orphaned location %s "
        "(directory exists but catalog has no table %s.%s — leftover "
        "output of a killed write, or a concurrent writer mid-commit)",
        path, db, tbl,
    )
    fs.delete(path, True)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str] | str,
    num_buckets: int,
    sort_cols: list[str] | str | None = None,
    mode: str = "overwrite",
    format: str = "parquet",
) -> None:
    """Write ``df`` as a bucketed (optionally sorted) catalog table.

    The one-time shuffle this write pays is the shuffle every future
    join on ``bucket_cols`` skips.
    """
    if mode == "overwrite":
        _purge_orphaned_location(df.sparkSession, table)
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    writer = (
        df.write.mode(mode)
        .format(format)
        .bucketBy(num_buckets, bucket_cols[0], *bucket_cols[1:])
    )
    if sort_cols:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        writer = writer.sortBy(sort_cols[0], *sort_cols[1:])
    writer.saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | str,
    mode: str = "overwrite",
    format: str = "parquet",
) -> None:
    """Hive-partitioned layout (``path/col=value/...``) — the directory
    structure IS the index: a filter on a partition column prunes whole
    directories at planning time, so a day/lang/source-scoped query on
    a 100 TB corpus reads only its slice.  Partition columns must be
    low-cardinality (date, lang, source); high-cardinality partitioning
    makes a small-files problem instead.  Verify pruning with
    :func:`scan_is_partition_pruned`."""
    cols = [partition_cols] if isinstance(partition_cols, str) else list(partition_cols)
    df.write.mode(mode).format(format).partitionBy(*cols).save(path)


def scan_is_partition_pruned(df: DataFrame) -> bool:
    """True if the plan's file scan carries partition filters (the
    filtered directories are skipped, not read-and-discarded)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    return bool(m and m.group(1).strip())


def plan_has_exchange(df: DataFrame) -> bool:
    """True if the physical plan contains any Exchange (shuffle or
    broadcast)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange" in plan


def assert_no_exchange(df: DataFrame) -> None:
    """Raise if the plan re-shuffles — the guard that keeps bucketed
    pipelines honest."""
    if plan_has_exchange(df):
        raise AssertionError(
            "plan contains an Exchange — bucketing metadata was not used:\n"
            + df._jdf.queryExecution().executedPlan().toString()
        )
