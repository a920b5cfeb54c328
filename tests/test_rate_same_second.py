"""Rate ops on a series with two samples in one second (dt=0).

ANSI Spark raises DIVIDE_BY_ZERO on a plain ``/`` by zero; DuckDB's
oracle returns NULL there, and ``ts_rate``'s docstring promises NULL
where dt=0.  The fixture is sf0.001 plus one duplicated event (same
series, same timestamp, a fresh ``event_id``), so the registered rate
ops and the flat-layout bench mirror of ``ts_rate`` must each return
the oracle's rows, with NULL rates on the duplicate."""

from __future__ import annotations

import os

import duckdb
import pytest

from esxsnmp_tsdb_spark import registry
from esxsnmp_tsdb_spark.operators.bench_bucketed import OBS_PARAMETRIC
from esxsnmp_tsdb_spark.sources.catalog import TABLES, load_obs
from tests.conftest import SF_SMOKE
from tests.oracle_harness import compare, duck_connection

RATE_OPS = ("ts_rate", "ts_heartbeat_invalidate")


@pytest.fixture(scope="module")
def same_second_sf(tmp_path_factory):
    sf = str(tmp_path_factory.mktemp("sf_same_second"))
    for t in TABLES:
        if t != "events":
            os.symlink(os.path.join(SF_SMOKE, f"{t}.parquet"),
                       os.path.join(sf, f"{t}.parquet"))
    src = os.path.join(SF_SMOKE, "events.parquet")
    duckdb.sql(f"""
        COPY (
          SELECT * FROM '{src}'
          UNION ALL
          SELECT * REPLACE ((SELECT max(event_id) FROM '{src}') + 1 AS event_id)
          FROM (SELECT * FROM '{src}' ORDER BY event_id LIMIT 1)
        ) TO '{sf}/events.parquet' (FORMAT PARQUET)
    """)
    return sf


def test_fixture_has_a_same_second_pair(same_second_sf):
    con = duck_connection(same_second_sf)
    sql = registry.oracle_sql()["ts_delta"]
    (n,) = con.execute(f"SELECT count(*) FROM ({sql}) WHERE dt = 0").fetchone()
    assert n >= 1


@pytest.mark.parametrize("key", RATE_OPS)
def test_rate_is_null_not_an_error_at_dt_zero(spark, same_second_sf, key):
    registry.load_all()
    con = duck_connection(same_second_sf)
    got = registry.QUERIES[key](spark, same_second_sf).toPandas()
    want = con.execute(registry.oracle_sql()[key]).fetchdf()
    assert compare(got, want, key) == []


def test_bench_mirror_rate_matches_oracle_at_dt_zero(spark, same_second_sf):
    con = duck_connection(same_second_sf)
    got = OBS_PARAMETRIC["ts_rate"](load_obs(spark, same_second_sf)).toPandas()
    want = con.execute(registry.oracle_sql()["ts_rate"]).fetchdf()
    assert compare(got, want, "ts_rate") == []
