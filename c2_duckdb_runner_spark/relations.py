"""Shared relations: each Spark builder sits beside its DuckDB SQL twin.

Several operator families read the same derived relation. The graph
operators all walk the customer–supplier trade graph; the ts_* and stats_*
families read one daily milli-unit series per event type; the integer
statistics divide signed numerators the same way. Each relation is defined
here once, Spark builder next to oracle SQL, so a decision such as the
NULL-endpoint pin, the supplier offset or the rounding of the daily mean is
made once for both engines and for every consumer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# Trade graph: every (customer, supplier) pair connected through an order.
# ---------------------------------------------------------------------------

# Supplier node ids are offset so the customer and supplier key spaces are
# disjoint: one id column can hold both kinds of node.
SUPPLIER_OFFSET = 10_000_000

# NULL endpoints are not graph nodes (r11 hostile pin): a NULL custkey/
# suppkey would ride Spark's null-grouping through aggregation steps but
# drop out of the oracle's equality joins — excluded at the source, both
# sides, for every consumer of this edge list.
#
# ``orders_where`` is an optional predicate over ``orders`` (kcore's
# edge sample); the same SQL string is spliced into both twins.


def _arcs_sql(src: str, dst: str, orders_where: str | None) -> str:
    where = f"{orders_where}\n    AND " if orders_where else ""
    return f"""
  SELECT DISTINCT {src} AS src, {dst} AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE {where}o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
"""


_SUPP = f"{SUPPLIER_OFFSET} + l_suppkey"


def trade_edges_sql(orders_where: str | None = None) -> str:
    """The symmetric edge list (src, dst): both directions of every pair."""
    fwd = _arcs_sql("o_custkey", _SUPP, orders_where)
    return fwd + "  UNION" + _arcs_sql(_SUPP, "o_custkey", orders_where)


# customer → supplier only: the directed twin of TRADE_EDGES_SQL
TRADE_ARCS_SQL = _arcs_sql("o_custkey", _SUPP, None)
TRADE_EDGES_SQL = trade_edges_sql()


def trade_join(
    spark: SparkSession, sf_dir: str, orders_where: str | None = None
) -> DataFrame:
    """(o_custkey, supp) for every order line with both endpoints present,
    NOT deduplicated. Sites that deduplicate inside their own partitioning
    or persist instead of checkpointing start here; everyone else takes
    ``trade_pairs``."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    if orders_where:
        o = o.filter(orders_where)
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .filter(
            F.col("o_custkey").isNotNull() & F.col("l_suppkey").isNotNull()
        )
        .select(
            "o_custkey", (F.lit(SUPPLIER_OFFSET) + F.col("l_suppkey")).alias("supp")
        )
    )


def trade_pairs(
    spark: SparkSession, sf_dir: str, orders_where: str | None = None
) -> DataFrame:
    """The distinct (o_custkey, supp) pairs, materialized once.

    r12: a mirror references the pairs twice, and the union's two
    identical join+distinct subtrees do NOT collapse under AQE (no
    exchange/stage reuse fired — the sf1 bench event log shows the
    orders⨝lineitem scan+join running once per side). Checkpoint the
    deduped pair list once and mirror the materialized RDD:
    graph_pagerank_iterations 3.75 → 2.80 s A/B at sf0.1."""
    return trade_join(spark, sf_dir, orders_where).distinct().localCheckpoint(
        eager=True
    )


def trade_edges(
    spark: SparkSession, sf_dir: str, orders_where: str | None = None
) -> DataFrame:
    """The symmetric edge list (src, dst), twin of ``trade_edges_sql``.

    Dedup the pairs BEFORE symmetrizing: the forward and reverse key
    spaces are disjoint (supplier ids offset), so distinct-then-mirror
    equals mirror-then-distinct while shuffling |E| pairs instead of
    2|E|."""
    pairs = trade_pairs(spark, sf_dir, orders_where)
    fwd = pairs.select(F.col("o_custkey").alias("src"), F.col("supp").alias("dst"))
    rev = pairs.select(F.col("supp").alias("src"), F.col("o_custkey").alias("dst"))
    return fwd.union(rev)


# ---------------------------------------------------------------------------
# Daily series: mean event value per (event_type, day), in milli-units.
# ---------------------------------------------------------------------------

DAILY_MILLI_SQL = """
  SELECT event_type, date_trunc('day', ts) AS d,
         (10 * CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT))
           // CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, date_trunc('day', ts)
"""


def daily_milli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily mean event value per type, in integer MILLI-units.

    The integral division is part of the statistic's definition (both
    engines truncate toward zero on positive operands), so every
    downstream sum/product is exact cross-engine."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(
            F.expr(
                "(10 * CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT))"
                " div CAST(COUNT(*) AS BIGINT)"
            ).alias("x")
        )
    )


# ---------------------------------------------------------------------------
# Division
# ---------------------------------------------------------------------------


def sdiv(num: str, den: str, engine: str) -> str:
    """Sign-split integral division: both engines truncate toward zero,
    but splitting on sign makes the agreement explicit for negative
    numerators (denominators are always positive here)."""
    op = "div" if engine == "spark" else "//"
    return (
        f"CASE WHEN ({num}) >= 0 THEN ({num}) {op} ({den})"
        f" ELSE -((-({num})) {op} ({den})) END"
    )
