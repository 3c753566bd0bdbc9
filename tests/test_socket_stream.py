"""Network-transport streaming: the CEP detection stream over Spark's
built-in TCP socket source (the only connector-free network transport
in this sandbox — the Kafka contract tests in test_kafka_contract.py
pin the option/payload plumbing, this proves the same streaming plan
executes end-to-end over a real network source, not just file replay).
"""

from __future__ import annotations

import socket
import threading
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_rtcef_spark.operators.cep import BatchCEP
from flink_rtcef_spark.plans.compiler import compile_pattern
from flink_rtcef_spark.streaming.fastpath import start_fastpath_detections

PAT = ";(IsEventTypePredicate(A),IsEventTypePredicate(B)){partitionBy:k}"
DECLS = "~(IsEventTypePredicate(A),IsEventTypePredicate(B))"


def _rows(n=200):
    import random

    rng = random.Random(5)
    return [
        (rng.choice(("k1", "k2")), i + 1, i, rng.choice("AABB"))
        for i in range(n)
    ]


class _LineServer(threading.Thread):
    """Accept one client and push every line, then hold the socket open
    (closing it would fail the in-flight streaming query)."""

    def __init__(self, lines):
        super().__init__(daemon=True)
        self.lines = lines
        self.srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.srv.bind(("127.0.0.1", 0))
        self.srv.listen(1)
        self.port = self.srv.getsockname()[1]
        self.conn = None

    def run(self):
        self.conn, _ = self.srv.accept()
        payload = "".join(f"{ln}\n" for ln in self.lines).encode()
        self.conn.sendall(payload)

    def close(self):
        for s in (self.conn, self.srv):
            try:
                if s is not None:
                    s.close()
            except OSError:
                pass


def test_socket_cep_stream_equals_batch(spark, tmp_path):
    rows = _rows()
    lines = [f"{k},{ts},{i},{et}" for (k, ts, i, et) in rows]
    server = _LineServer(lines)
    server.start()

    compiled = compile_pattern(PAT, DECLS)
    raw = (
        spark.readStream.format("socket")
        .option("host", "127.0.0.1")
        .option("port", server.port)
        .load()
    )
    parts = F.split(F.col("value"), ",")
    parsed = raw.select(
        parts[0].alias("k"),
        parts[1].cast("long").alias("timestamp"),
        parts[2].cast("long").alias("id"),
        parts[3].alias("event_type"),
    )
    collected = []
    q = start_fastpath_detections(
        parsed, compiled,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        sink=lambda df, batch_id: collected.append(
            df.select("key", "detection_event_id").toPandas()
        ),
        ts_col="timestamp", id_col="id",
        trigger={"processingTime": "0 seconds"},
    )
    try:
        batch_df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["k", "timestamp", "id", "event_type"])
        )
        want = (
            BatchCEP(compiled, key_col="k", ts_col="timestamp", id_col="id")
            .detections(batch_df)
            .select("key", "detection_event_id")
            .toPandas()
        )
        deadline = time.time() + 90
        got = None
        while time.time() < deadline:
            q.processAllAvailable()
            got = pd.concat(
                collected or [pd.DataFrame(columns=["key", "detection_event_id"])],
                ignore_index=True,
            )
            if len(got) >= len(want):
                break
            time.sleep(1.0)
        assert got is not None and len(got) == len(want), (
            len(got) if got is not None else None,
            len(want),
        )
        key = lambda d: sorted(map(tuple, d.to_numpy()))
        assert key(got) == key(want)
    finally:
        q.stop()
        server.close()
