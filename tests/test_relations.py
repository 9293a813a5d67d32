"""Each shared relation's Spark builder returns exactly the rows of its
DuckDB SQL twin (c2_duckdb_runner_spark/relations.py).

An edit to one side then fails here, at the relation, instead of in every
registry key that reads it. The trade graph is checked on the clean fixture
and on the hostile twin, where NULL endpoints must drop out on both sides.
The daily series is checked on the clean fixture only: on the hostile twin
its value cast raises in both engines.
"""

from __future__ import annotations

import duckdb
import pytest

from c2_duckdb_runner_spark import relations as rel
from c2_duckdb_runner_spark.operators.structure_ext import _KCORE_SAMPLE
from tests.compare import assert_frames_match

TWIN_TABLES = ("orders", "lineitem", "events")


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TWIN_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.fixture(params=["clean", "hostile"])
def graph_dir(request, sf_dir, hostile_sf_dir):
    return sf_dir if request.param == "clean" else hostile_sf_dir


def _match(spark_df, sql: str, sf_dir: str, key: str) -> int:
    con = _duck(sf_dir)
    try:
        duck_pdf = con.execute(sql).fetchdf()
    finally:
        con.close()
    spark_pdf = spark_df.toPandas()
    assert_frames_match(spark_pdf, duck_pdf, key)
    return len(spark_pdf)


def test_trade_edges_twin(spark, graph_dir):
    n = _match(
        rel.trade_edges(spark, graph_dir), rel.TRADE_EDGES_SQL, graph_dir, "edges"
    )
    assert n > 0


def test_sampled_trade_edges_twin(spark, graph_dir):
    n = _match(
        rel.trade_edges(spark, graph_dir, _KCORE_SAMPLE),
        rel.trade_edges_sql(_KCORE_SAMPLE),
        graph_dir,
        "kcore edges",
    )
    assert n > 0


def test_trade_arcs_twin(spark, graph_dir):
    pairs = rel.trade_pairs(spark, graph_dir).selectExpr(
        "o_custkey AS src", "supp AS dst"
    )
    n = _match(pairs, rel.TRADE_ARCS_SQL, graph_dir, "arcs")
    assert n > 0


def test_daily_milli_twin(spark, sf_dir):
    n = _match(rel.daily_milli(spark, sf_dir), rel.DAILY_MILLI_SQL, sf_dir, "daily")
    assert n > 0
