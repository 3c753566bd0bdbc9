"""foreachBatch fast path for register (SREMO/NSRA) patterns.

Runs the register kernel spec (operators/cep_register._RegisterSpec,
the kernel RegisterCEP runs in batch: the reference's
non-deterministic run path ERFEngine.processEventAtRunNonDet:295) on
the one fast-path skeleton in streaming/fastpath.py, whose module
docstring states the protocol contract this path keeps: the
versioned, hash-bucketed state table, the routes, the null-key rule,
the Spark actions per microbatch and the sink's lazy view.

The cross-batch state is the per-key (configuration set, counter):
``counter`` plus the config set pickled into a BINARY parquet column.
The mandatory SREMO window bounds the config set (at most ``window``
concurrent runs per key), so blob size is O(window), not O(stream).

Routes, picked per batch from the data: ``driver`` below both bounds
of streaming/bounded.py, ``arrow`` above either.  There is no ``sql``
route here: register guards compare event attributes against stored
valuations — inherently Python-side (the same boundary the reference
crosses into its run closures), unlike the SDFA fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from flink_rtcef_spark.operators.cep_register import _RegisterSpec
from flink_rtcef_spark.streaming.fastpath import (
    _make_foreach_batch,
    _start,
    _symbolize,
)

_OUT_SCHEMA = _RegisterSpec.out.sql


def make_foreach_batch_register(compiled, state_dir: str, sink=None, **options):
    """Build the ``foreachBatch`` function for a register pattern over
    a stream symbolized by :func:`symbolize_register_stream`: the
    skeleton and options of fastpath.make_foreach_batch_detections over
    the register kernel, on the driver or arrow route."""
    return _make_foreach_batch(_RegisterSpec(compiled), state_dir, sink, **options)


def symbolize_register_stream(
    stream_df: DataFrame,
    compiled,
    key_col: str | None = None,
    ts_col: str = "timestamp",
    id_col: str = "id",
) -> DataFrame:
    """Streaming-side projection to (key, ts millis, event_id, bits,
    register attrs)."""
    return _symbolize(stream_df, _RegisterSpec(compiled), key_col, ts_col, id_col)


def start_fastpath_register(
    stream_df: DataFrame,
    compiled,
    state_dir: str,
    checkpoint_dir: str,
    sink=None,
    key_col: str | None = None,
    ts_col: str = "timestamp",
    id_col: str = "id",
    trigger: dict | None = None,
    **options,
):
    """Wire the register fast path end-to-end and start it: ``sink``
    gets each batch's detections (``state_table.DET_SCHEMA`` columns);
    ``options`` and routes as in :func:`make_foreach_batch_register`.
    Returns the StreamingQuery."""
    return _start(
        _RegisterSpec(compiled), stream_df, state_dir, checkpoint_dir, sink,
        key_col, ts_col, id_col, trigger, **options,
    )
