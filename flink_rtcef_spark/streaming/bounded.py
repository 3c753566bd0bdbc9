"""The bounded driver collect shared by every small-data driver route.

A Spark plan over a few thousand rows pays a fixed per-job cost (task
scheduling, shuffle, Python-worker round trips) that dwarfs the work
itself: the adaptation loop's scorer ran in 8-17 ms on pandas and in
431-605 ms as a Spark plan over the same 2k-row window.  So the fast
path's microbatches, the loop's report windows and the factory's
training sets all take one route: collect the frame to the driver as
Arrow under a ``limit(n + 1)`` probe, and fall back to the distributed
plan only when the probe says the frame is larger than the bound.  The
loop and the factory size ``n`` by the frame's row width
(:func:`max_rows`), so a wide window collects no more bytes than a
narrow one.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: the most rows a driver route collects; a larger frame stays
#: distributed (the fast path's microbatch bound, shared by the
#: adaptation loop's report windows and training sets)
DRIVER_MAX_ROWS = 200_000

#: the most carried state rows the fast path advances on the driver:
#: a microbatch whose touched buckets hold more runs distributed.
#: Measured crossover (uniform-key bench, 10k-row batches, local[32],
#: 9-batch wall): at 30k carried rows driver 6.7 s vs sql 10.8 s; at
#: 60k driver 9.0 s vs 12.1 s; at 100k driver 18.1 s vs sql 15.3 s —
#: the single-thread python kernel loses to the JVM fold somewhere
#: above ~75k carried keys.
DRIVER_MAX_STATE_ROWS = 75_000

#: the row width ``DRIVER_MAX_ROWS`` is sized for: ``BatchCEP.symbolized``'s
#: (string key, long ts, long id, int symbol) row by Spark's default type
#: sizes (20 + 8 + 8 + 4 bytes)
NARROW_ROW_BYTES = 40


def max_rows(df: DataFrame | StructType) -> int:
    """The driver bound for ``df``, a frame or a frame's schema:
    ``DRIVER_MAX_ROWS`` for a row as narrow as ``symbolized``'s,
    proportionally fewer rows for a wider one, so a probe collects at
    most the bytes the bound was sized for.

    A row's width is Spark's own estimate, the schema's ``defaultSize``
    (20 bytes a string, 8 a long or double, 100 a binary), the one its
    planner uses for a relation without statistics; a string longer
    than 20 bytes is under-counted."""
    if isinstance(df, StructType):
        jschema = SparkSession.active()._jsparkSession.parseDataType(df.json())
    else:
        jschema = df._jdf.schema()
    return DRIVER_MAX_ROWS * NARROW_ROW_BYTES // max(jschema.defaultSize(), NARROW_ROW_BYTES)


def collect_bounded(df: DataFrame, max_rows: int) -> pa.Table | None:
    """``df`` as one Arrow table when it holds at most ``max_rows`` rows,
    else None; one Spark job either way.

    The ``limit(max_rows + 1)`` probe doubles as the read: a frame that
    fits is collected by the probe itself, and one that does not stops
    after ``max_rows + 1`` rows.  ``toArrow`` skips the row-wise
    conversion of ``toPandas`` and keeps every column's exact type."""
    table = df.limit(max_rows + 1).toArrow()
    return None if table.num_rows > max_rows else table
