"""Seeded event generation and the open-loop file writer.

Every generated file is a pure function of ``(seed, spec)``: event
times are *logical* milliseconds on a fixed base, not wall-clock
readings, so the same seed gives byte-identical parquet files.  The
open-loop writer maps logical time onto the wall clock through one
anchor (``anchor_wall_ms`` = the wall time at which logical ``BASE_MS``
is due), which is also how the benchmark turns an event's logical time
back into its scheduled creation time when it measures latency.

Run as a process, this module is the separate single-process load
generator: ``python3 perfbench/gen.py <plan.json> <parent pid>`` writes
one file per tick into the source directory at its due time, regardless
of how far the engine has fallen behind, and records how late each
write landed.  It exits if its parent does.
"""

from __future__ import annotations

import json
import os
import sys
import time
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: logical time of the first open-loop tick
BASE_MS = 1_700_000_000_000

SCHEMA = pa.schema(
    [
        ("k", pa.string()),
        ("ts", pa.timestamp("ms", tz="UTC")),
        ("id", pa.int64()),
        ("event_type", pa.string()),
    ]
)
SPARK_SCHEMA = "k string, ts timestamp, id long, event_type string"

EVENT_TYPES = np.array(["view", "cart", "purchase"])
EVENT_P = np.array([0.5, 0.2, 0.3])


@dataclass(frozen=True)
class StreamSpec:
    """Shape of one detect workload's input."""

    keys: int            # key population
    zipf_s: float        # Zipf exponent of the key distribution
    tick_ms: int         # open-loop period
    tick_events: int     # events per open-loop file
    warmup_files: int    # drained one per batch before timing
    warmup_events: int   # events per warm-up file
    backlog_files: int   # pre-staged, drained after the open loop
    backlog_events: int  # events per backlog file


def _key_probs(spec: StreamSpec) -> np.ndarray:
    w = 1.0 / np.arange(1, spec.keys + 1, dtype=np.float64) ** spec.zipf_s
    return w / w.sum()


def _table(rng, spec: StreamSpec, probs: np.ndarray, n: int, first_id: int, ts_ms) -> pa.Table:
    keys = rng.choice(spec.keys, size=n, p=probs)
    types = rng.choice(len(EVENT_TYPES), size=n, p=EVENT_P)
    return pa.table(
        {
            "k": pa.array(np.char.add("k", keys.astype("U7"))),
            "ts": pa.array(np.asarray(ts_ms, dtype=np.int64), pa.timestamp("ms", tz="UTC")),
            "id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[types]),
        },
        schema=SCHEMA,
    )


def phase_tables(seed: int, spec: StreamSpec, seconds: int) -> dict[str, list[pa.Table]]:
    """All input files of one run, in id order: ``warmup`` (logical time
    before ``BASE_MS``), ``tick`` (one per open-loop period, every event
    stamped with its tick's due time) and ``backlog`` (after the open
    loop).  Ids are globally unique and increase with logical time."""
    rng = np.random.default_rng(seed)
    probs = _key_probs(spec)
    out: dict[str, list[pa.Table]] = {"warmup": [], "tick": [], "backlog": []}
    next_id = 0
    n_warm = spec.warmup_files * spec.warmup_events
    warm_ts = BASE_MS - 30_000 + (np.arange(n_warm) * 30_000) // max(n_warm, 1)
    for _ in range(spec.warmup_files):
        ts = warm_ts[next_id:next_id + spec.warmup_events]
        out["warmup"].append(_table(rng, spec, probs, spec.warmup_events, next_id, ts))
        next_id += spec.warmup_events
    n_ticks = open_loop_ticks(spec, seconds)
    for i in range(n_ticks):
        ts = np.full(spec.tick_events, BASE_MS + i * spec.tick_ms)
        out["tick"].append(_table(rng, spec, probs, spec.tick_events, next_id, ts))
        next_id += spec.tick_events
    end_ms = BASE_MS + n_ticks * spec.tick_ms
    for f in range(spec.backlog_files):
        ts = end_ms + (f * spec.backlog_events + np.arange(spec.backlog_events)) // 10
        out["backlog"].append(_table(rng, spec, probs, spec.backlog_events, next_id, ts))
        next_id += spec.backlog_events
    return out


def open_loop_ticks(spec: StreamSpec, seconds: int) -> int:
    return max(1, seconds * 1000 // spec.tick_ms)


def write_table(table: pa.Table, path: str) -> None:
    """Write, then rename into place: the file source never lists a
    half-written file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.rename(tmp, path)


def write_phase(tables: list[pa.Table], directory: str, prefix: str) -> list[str]:
    os.makedirs(directory, exist_ok=True)
    paths = []
    for i, t in enumerate(tables):
        p = os.path.join(directory, f"{prefix}-{i:05d}.parquet")
        write_table(t, p)
        paths.append(p)
    return paths


@dataclass
class OpenLoopPlan:
    """What the generator process needs; passed as a JSON file."""

    seed: int
    spec: dict
    seconds: int
    source_dir: str
    anchor_wall_ms: int
    report_path: str


def run_open_loop(plan: OpenLoopPlan) -> None:
    """Write tick ``i`` at wall time ``anchor + i * tick_ms``, never
    waiting for the engine.  Files are built before the first due time
    so generation cost cannot delay a write."""
    spec = StreamSpec(**plan.spec)
    ticks = phase_tables(plan.seed, spec, plan.seconds)["tick"]
    late_ms = []
    for i, t in enumerate(ticks):
        due = plan.anchor_wall_ms + i * spec.tick_ms
        wait = due / 1000.0 - time.time()
        if wait > 0:
            time.sleep(wait)
        write_table(t, os.path.join(plan.source_dir, f"tick-{i:05d}.parquet"))
        late_ms.append(time.time() * 1000.0 - due)
    with open(plan.report_path + ".tmp", "w") as f:
        json.dump({"files": len(ticks), "late_ms": late_ms}, f)
    os.rename(plan.report_path + ".tmp", plan.report_path)


def plan_to_file(plan: OpenLoopPlan, path: str) -> None:
    with open(path, "w") as f:
        json.dump(asdict(plan), f)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import signal

    from perfbench.procs import die_with_parent

    # the generator must not outlive the benchmark that started it
    die_with_parent(signal.SIGKILL, int(sys.argv[2]))
    with open(sys.argv[1]) as fh:
        run_open_loop(OpenLoopPlan(**json.load(fh)))
