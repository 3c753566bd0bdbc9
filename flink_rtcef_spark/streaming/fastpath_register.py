"""foreachBatch fast path for register (SREMO/NSRA) patterns.

The kernel spec of the nondeterministic register run
(operators/cep_register._run_nsra_segment, the reference's
non-deterministic run path ERFEngine.processEventAtRunNonDet:295) for
the one fast-path skeleton in streaming/fastpath.py, whose module
docstring states the protocol contract this path keeps: the
versioned, hash-bucketed state table, the routes, the null-key rule,
the Spark actions per microbatch and the sink's lazy view.

The cross-batch state is the per-key (configuration set, counter):
``counter`` plus the config set pickled into a BINARY parquet column.
The mandatory SREMO window bounds the config set (at most ``window``
concurrent runs per key), so blob size is O(window), not O(stream).

Routes: ``driver``, ``arrow`` and ``auto`` (driver below both bounds,
``arrow`` above either).  There is no ``sql`` route here: register
guards compare event attributes against stored valuations —
inherently Python-side (the same boundary the reference crosses into
its run closures), unlike the SDFA fold.
"""

from __future__ import annotations

import pickle

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_rtcef_spark.operators.cep_register import _run_nsra_segment
from flink_rtcef_spark.streaming.fastpath import (
    _DET_FIELDS,
    _make_foreach_batch,
    _out_schema,
    _start,
    _symbolize,
)

_REGISTER_OUT = _out_schema(_DET_FIELDS, [*_DET_FIELDS[2:], ("blob", "binary")])
_OUT_SCHEMA = _REGISTER_OUT.sql


class _RegisterSpec:
    """The register kernel: ``step`` is RegisterCEP's own
    ``_run_nsra_segment``; its (configs, counter) carry is stored as
    ``counter`` and the pickled config set, and unpickled only for a
    key with events in the batch."""

    out = _REGISTER_OUT
    jvm_fold = None

    def __init__(self, compiled):
        self.compiled = compiled
        self.key = compiled.partition_by
        self.attrs = list(compiled.register_attrs)
        self.event_cols = ["key", "ts", "event_id", "bits", *self.attrs]
        self.table = compiled.table
        self.finals = frozenset(compiled.nsra.finals)
        self.start_states = compiled.start_states
        self.window, self.window_type = compiled.window, compiled.window_type

    def columns(self) -> list:
        """Static predicates fold into the JVM ``bits`` column exactly
        as in batch (RegisterCEP.symbolized); only register comparisons
        reach the Python kernel."""
        return [
            self.compiled.bits_column().alias("bits"),
            *[F.col(a) for a in self.attrs],
        ]

    @staticmethod
    def load(counter, _min_counter, _n_matched, blob):
        return pickle.loads(blob), int(counter)

    def step(self, cols, seg, carry):
        return _run_nsra_segment(
            cols["bits"][seg],
            cols["ts"][seg].astype("int64"),
            cols["event_id"][seg].astype("int64"),
            {a: cols[a][seg] for a in self.attrs},
            self.table, self.finals, self.start_states, self.window,
            self.window_type, carry,
        )

    @staticmethod
    def dump(carry):
        configs, counter = carry
        return int(counter), None, None, pickle.dumps(configs)


def make_foreach_batch_register(compiled, state_dir: str, sink=None, **options):
    """Build the ``foreachBatch`` function for a register pattern over
    a stream symbolized by :func:`symbolize_register_stream`: the
    skeleton and options of fastpath.make_foreach_batch_detections over
    the register kernel, with routes ``auto``/``arrow``/``driver``."""
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
    gets each batch's detections (``state_table.DET_SCHEMA`` columns).
    Returns the StreamingQuery."""
    return _start(
        _RegisterSpec(compiled), stream_df, state_dir, checkpoint_dir, sink,
        key_col, ts_col, id_col, trigger, **options,
    )
