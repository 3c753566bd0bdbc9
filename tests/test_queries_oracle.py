"""Every registered query must hash-match its DuckDB oracle at
sf0.001 (the driver runs the same comparison at sf0.01 — this is the
fast local replica), and so must every retired query, whose sf0.01
gates live in tests/test_retired_queries.py."""

from __future__ import annotations

import duckdb
import pytest

from flink_rtcef_spark import queries as q
from flink_rtcef_spark.sources.io import TABLES
from tests.conftest import SF_SMOKE
from tests.test_retired_queries import RETIRED

from tools.check_oracle import compare

q.load_all()
QUERIES = {**q.QUERIES, **{name: fn for name, fn, _ in RETIRED}}
ORACLES = {**q.ORACLES, **{name: sql for name, _, sql in RETIRED if sql}}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF_SMOKE).toPandas()
    if name not in ORACLES:
        pytest.skip(f"{name}: rows-only check ({len(sdf)} rows)")
    ddf = duck.execute(ORACLES[name]).df()
    problems = compare(name, sdf, ddf)
    assert not problems, problems
