"""Tier B extension schema (FIXTURES.md §3) derived deterministically
from the base star schema — partsupp plus the columns the driver's
reduced fixtures drop (l_commitdate/l_receiptdate/l_shipinstruct/
l_shipmode, o_shippriority/o_comment, p_mfgr/p_container, s_address/
s_phone/s_comment, c_address/c_phone/c_comment).

The driver fixtures don't ship these tables, so full-fidelity TPC-H
(reference `benchmark/tpch/queries.py` Q2 :100-135, Q9 :436-467,
Q11 :492-539, Q12 :586-609, Q16 :757-761, Q20 :690-747, Q21 :750-783)
would otherwise be unjudgeable. Instead both engines derive the
extension inline from the SAME base parquet with pure integer
arithmetic (multiply/add/modulo, integer-by-100.0 division, day-level
timestamp adds, list indexing) — every operation is bit-exact and
engine-independent, so the Spark plan and the DuckDB oracle see
identical extended tables and the driver's value-hash gate applies to
Tier B like any other query.

Scale note: the derivations are stateless narrow projections (no
shuffle, no RNG state); partsupp is part ⨯ 4 with a broadcast 1-row
supplier count — at 100 TB it stays a map-side operation fused into
whatever join consumes it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_distributed_vanilla_spark.catalog import load_table

SHIPMODES = ("MAIL", "SHIP", "AIR", "AIR REG", "TRUCK", "RAIL", "FOB")
INSTRUCTS = ("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
CONTAINERS = (
    "SM CASE", "SM BOX", "MED BOX", "MED BAG",
    "LG CASE", "LG BOX", "JUMBO PACK", "WRAP JAR",
)


def _pick(values: tuple[str, ...], index1: str) -> str:
    """1-based list indexing, mirroring DuckDB's ``[list][expr]``."""
    items = ", ".join(f"'{v}'" for v in values)
    return f"element_at(array({items}), CAST({index1} AS INT))"


def _day_add(ts_col: str, days_expr: str) -> str:
    return f"timestampadd(DAY, CAST({days_expr} AS INT), {ts_col})"


# Each table below is ONE projection of SQL-string expressions: a single
# py4j call and one analysis per table, where a chain of withColumn calls
# over Column objects costs a round trip per function and literal and
# re-analyzes the plan per column.


def partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part ⨯ {0,1,2,3} with key-arithmetic supplier assignment.

    ps_suppkey lands in [0, |supplier|) — the fixture keys are 0-based —
    via a broadcast 1-row count (one plan, no driver action).
    ps_supplycost is integer/100.0: IEEE division of an exact integer is
    bit-identical across engines, so no cross-engine rounding is needed
    (the ``D`` suffix keeps the literals DOUBLE, not DECIMAL).
    """
    p = load_table(spark, sf_dir, "part").select("p_partkey")
    s_cnt = load_table(spark, sf_dir, "supplier").selectExpr("count(1) AS s_cnt")
    i = spark.range(4).selectExpr("id AS i")
    return (
        p.crossJoin(F.broadcast(i))
        .crossJoin(F.broadcast(s_cnt))
        .selectExpr(
            "p_partkey AS ps_partkey",
            "(p_partkey * 7 + i * 13) % s_cnt AS ps_suppkey",
            "CAST((p_partkey * 37 + i * 101) % 9999 + 1 AS INT) AS ps_availqty",
            "((p_partkey * 53 + i * 211) % 99900) / 100.0D + 1.0D AS ps_supplycost",
            "concat('ps comment ', CAST((p_partkey + i) % 7 AS STRING)) AS ps_comment",
        )
    )


def ext_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").selectExpr(
        "*",
        _day_add("l_shipdate", "(l_orderkey*3 + l_linenumber*11) % 60 - 20") + " AS l_commitdate",
        _day_add("l_shipdate", "(l_orderkey*5 + l_linenumber*7) % 30 + 1") + " AS l_receiptdate",
        _pick(INSTRUCTS, "(l_orderkey + l_linenumber) % 4 + 1") + " AS l_shipinstruct",
        _pick(SHIPMODES, "(l_orderkey * 3 + l_linenumber) % 7 + 1") + " AS l_shipmode",
        "concat('li comment ', CAST(l_linenumber AS STRING)) AS l_comment",
    )


def ext_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").selectExpr(
        "*",
        "concat('Clerk#', CAST(o_orderkey % 1000 AS STRING)) AS o_clerk",
        "CAST(0 AS INT) AS o_shippriority",
        "CASE WHEN o_orderkey % 11 = 0 THEN 'blah special packages requests blah'"
        " ELSE concat('ordinary comment ', CAST(o_orderkey % 5 AS STRING)) END AS o_comment",
    )


def ext_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "part").selectExpr(
        "*",
        "concat('Manufacturer#', CAST(p_partkey % 5 + 1 AS STRING)) AS p_mfgr",
        _pick(CONTAINERS, "p_partkey % 8 + 1") + " AS p_container",
        "concat('part comment ', CAST(p_partkey % 3 AS STRING)) AS p_comment",
    )


def ext_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "supplier").selectExpr(
        "*",
        "concat('addr ', CAST(s_suppkey AS STRING)) AS s_address",
        "concat(CAST(s_nationkey + 10 AS STRING), '-555-', CAST(1000 + s_suppkey % 9000 AS STRING)) AS s_phone",
        "CASE WHEN s_suppkey % 13 = 0 THEN 'blah Customer stuff Complaints blah'"
        " ELSE concat('supplier comment ', CAST(s_suppkey % 4 AS STRING)) END AS s_comment",
    )


def ext_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").selectExpr(
        "*",
        "concat('caddr ', CAST(c_custkey AS STRING)) AS c_address",
        "concat(CAST(c_nationkey + 10 AS STRING), '-555-', CAST(1000 + c_custkey % 9000 AS STRING)) AS c_phone",
        "concat('customer comment ', CAST(c_custkey % 6 AS STRING)) AS c_comment",
    )


_EXT = {
    "partsupp": partsupp,
    "lineitem": ext_lineitem,
    "orders": ext_orders,
    "part": ext_part,
    "supplier": ext_supplier,
    "customer": ext_customer,
}


def ext_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The Tier B view of a table: extended where FIXTURES.md §3 adds
    columns, the plain base scan otherwise (region/nation/…)."""
    fn = _EXT.get(name)
    return fn(spark, sf_dir) if fn else load_table(spark, sf_dir, name)


def _sql_list(values: tuple[str, ...]) -> str:
    return "[" + ",".join(f"'{v}'" for v in values) + "]"


# DuckDB CTE prefix deriving the identical extension over the driver's
# pre-registered base views. CTEs use *_x names because DuckDB forbids a
# non-recursive CTE shadowing the view it reads from.
TIERB_WITH = f"""WITH partsupp AS (
  SELECT p_partkey AS ps_partkey,
         (p_partkey * 7 + i.i * 13) % (SELECT COUNT(*) FROM supplier) AS ps_suppkey,
         CAST((p_partkey * 37 + i.i * 101) % 9999 + 1 AS INTEGER) AS ps_availqty,
         ((p_partkey * 53 + i.i * 211) % 99900) / 100.0 + 1.0 AS ps_supplycost,
         'ps comment ' || CAST((p_partkey + i.i) % 7 AS VARCHAR) AS ps_comment
  FROM part, (SELECT UNNEST(generate_series(0, 3)) AS i) i
), lineitem_x AS (
  SELECT *,
         l_shipdate + INTERVAL ((l_orderkey*3 + l_linenumber*11) % 60 - 20) DAY AS l_commitdate,
         l_shipdate + INTERVAL ((l_orderkey*5 + l_linenumber*7) % 30 + 1) DAY AS l_receiptdate,
         {_sql_list(INSTRUCTS)}[(l_orderkey + l_linenumber) % 4 + 1] AS l_shipinstruct,
         {_sql_list(SHIPMODES)}[(l_orderkey*3 + l_linenumber) % 7 + 1] AS l_shipmode,
         'li comment ' || CAST(l_linenumber AS VARCHAR) AS l_comment
  FROM lineitem
), orders_x AS (
  SELECT *,
         'Clerk#' || CAST(o_orderkey % 1000 AS VARCHAR) AS o_clerk,
         CAST(0 AS INTEGER) AS o_shippriority,
         CASE WHEN o_orderkey % 11 = 0 THEN 'blah special packages requests blah'
              ELSE 'ordinary comment ' || CAST(o_orderkey % 5 AS VARCHAR) END AS o_comment
  FROM orders
), part_x AS (
  SELECT *,
         'Manufacturer#' || CAST(p_partkey % 5 + 1 AS VARCHAR) AS p_mfgr,
         {_sql_list(CONTAINERS)}[p_partkey % 8 + 1] AS p_container,
         'part comment ' || CAST(p_partkey % 3 AS VARCHAR) AS p_comment
  FROM part
), supplier_x AS (
  SELECT *,
         'addr ' || CAST(s_suppkey AS VARCHAR) AS s_address,
         CAST(s_nationkey + 10 AS VARCHAR) || '-555-' || CAST(1000 + s_suppkey % 9000 AS VARCHAR) AS s_phone,
         CASE WHEN s_suppkey % 13 = 0 THEN 'blah Customer stuff Complaints blah'
              ELSE 'supplier comment ' || CAST(s_suppkey % 4 AS VARCHAR) END AS s_comment
  FROM supplier
), customer_x AS (
  SELECT *,
         'caddr ' || CAST(c_custkey AS VARCHAR) AS c_address,
         CAST(c_nationkey + 10 AS VARCHAR) || '-555-' || CAST(1000 + c_custkey % 9000 AS VARCHAR) AS c_phone,
         'customer comment ' || CAST(c_custkey % 6 AS VARCHAR) AS c_comment
  FROM customer
)"""


def tierb_sql(body: str) -> str:
    """Prepend the derivation CTEs to a Tier B query body."""
    return TIERB_WITH + "\n" + body
