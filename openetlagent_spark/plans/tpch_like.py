"""TPC-H-shaped composed queries, built from the engine's operators.

These demonstrate that the operator set COMPOSES into real analytics:
multi-way joins (bind), filters, group-by aggregation, window ranking,
sort + limit — each query one lazy Catalyst plan with pushed filters,
broadcast dimensions, and partial aggregation.  Date predicates match
the synthetic data's 1995-2001 range (TESTDATA.md).

Oracle-compat: aggregates accumulate in DECIMAL (order-independent,
engine-exact) and cast to double at the end; per-row double arithmetic
(e.g. revenue terms) is bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import (
    AggregationOperation,
    BindOperation,
    FilterOperation,
    LimitOperation,
    SortOperation,
)
from ..runner import apply_operations


def _t(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 pricing summary: filtered scan → grouped decimal sums/avgs."""
    df = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-12-01"))
    df = (
        df.withColumn("qty_dec", F.col("l_quantity").cast("decimal(18,2)"))
        .withColumn("price_dec", F.col("l_extendedprice").cast("decimal(18,2)"))
        .withColumn(
            "disc_price_dec",
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,6)"),
        )
    )
    out = apply_operations(df, [
        AggregationOperation(
            group_by=["l_returnflag", "l_linestatus"],
            aggregations={
                "sum_qty": {"column": "qty_dec", "agg": "sum"},
                "sum_base_price": {"column": "price_dec", "agg": "sum"},
                "sum_disc_price": {"column": "disc_price_dec", "agg": "sum"},
                "count_order": {"column": "*", "agg": "count"},
            },
        ),
    ], spark)
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("sum_base_price").cast("double").alias("sum_base_price"),
        F.col("sum_disc_price").cast("double").alias("sum_disc_price"),
        (F.col("sum_qty").cast("double") / F.col("count_order")).alias("avg_qty"),
        "count_order",
    )


TPCH_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
       CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-12-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shipping priority: segment-filtered customers ⋈ orders ⋈
    lineitem → revenue per order → top 10."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1997-03-15"))
    li = apply_operations(li, [
        BindOperation(
            right_file_path=f"{sf_dir}/orders.parquet",
            left_on="l_orderkey",
            right_on="o_orderkey",
            how="inner",
            columns_to_add=["o_custkey", "o_orderdate"],
        ),
    ], spark).filter(F.col("o_orderdate") < F.lit("1997-03-15"))
    li = apply_operations(li, [
        BindOperation(
            right_file_path=f"{sf_dir}/customer.parquet",
            left_on="o_custkey",
            right_on="c_custkey",
            how="inner",
            columns_to_add=["c_mktsegment"],
        ),
        FilterOperation(input_column="c_mktsegment", operator="==", value="BUILDING"),
    ], spark)
    li = li.withColumn(
        "rev_dec",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,6)"),
    )
    agg = apply_operations(li, [
        AggregationOperation(
            group_by=["l_orderkey"],
            aggregations={"revenue_dec": {"column": "rev_dec", "agg": "sum"}},
        ),
    ], spark).select("l_orderkey", F.col("revenue_dec").cast("double").alias("revenue"))
    return apply_operations(agg, [
        SortOperation(columns=["revenue", "l_orderkey"], descending=[True, False]),
        LimitOperation(n=10),
    ], spark)


TPCH_Q3_SQL = """
SELECT l_orderkey, CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE l.l_shipdate > TIMESTAMP '1997-03-15'
  AND o.o_orderdate < TIMESTAMP '1997-03-15'
  AND c.c_mktsegment = 'BUILDING'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 local supplier volume: 6-table join (lineitem ⋈ orders ⋈
    customer ⋈ supplier ⋈ nation ⋈ region) with the customer-and-
    supplier-same-nation condition, revenue per nation."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    li = apply_operations(li, [
        BindOperation(
            right_file_path=f"{sf_dir}/orders.parquet",
            left_on="l_orderkey",
            right_on="o_orderkey",
            how="inner",
            columns_to_add=["o_custkey", "o_orderdate"],
        ),
    ], spark).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = apply_operations(li, [
        BindOperation(
            right_file_path=f"{sf_dir}/customer.parquet",
            left_on="o_custkey",
            right_on="c_custkey",
            how="inner",
            columns_to_add=["c_nationkey"],
        ),
        BindOperation(
            right_file_path=f"{sf_dir}/supplier.parquet",
            left_on="l_suppkey",
            right_on="s_suppkey",
            how="inner",
            columns_to_add=["s_nationkey"],
        ),
    ], spark)
    # same-nation condition: customer nation == supplier nation
    li = li.filter(F.col("c_nationkey") == F.col("s_nationkey"))
    li = apply_operations(li, [
        BindOperation(
            right_file_path=f"{sf_dir}/nation.parquet",
            left_on="s_nationkey",
            right_on="n_nationkey",
            how="inner",
            columns_to_add=["n_name", "n_regionkey"],
        ),
        BindOperation(
            right_file_path=f"{sf_dir}/region.parquet",
            left_on="n_regionkey",
            right_on="r_regionkey",
            how="inner",
            columns_to_add=["r_name"],
        ),
    ], spark)
    li = li.withColumn(
        "rev_dec",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,6)"),
    )
    agg = apply_operations(li, [
        AggregationOperation(
            group_by=["n_name"],
            aggregations={"revenue_dec": {"column": "rev_dec", "agg": "sum"}},
        ),
    ], spark)
    return agg.select("n_name", F.col("revenue_dec").cast("double").alias("revenue"))


TPCH_Q5_SQL = """
SELECT n_name, CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND c.c_nationkey = s.s_nationkey
GROUP BY n_name
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 forecasting revenue: pure filtered aggregate — the pushdown
    showcase (all three predicates reach the parquet scan)."""
    df = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    df = df.withColumn(
        "rev_dec", (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,6)")
    )
    agg = apply_operations(df, [
        AggregationOperation(
            group_by=[],
            aggregations={
                "revenue_dec": {"column": "rev_dec", "agg": "sum"},
                "n_items": {"column": "*", "agg": "count"},
            },
        ),
    ], spark)
    return agg.select(F.col("revenue_dec").cast("double").alias("revenue"), "n_items")


TPCH_Q6_SQL = """
SELECT CAST(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""

TPCH_QUERIES = {
    "tpch_q1": q_tpch_q1,
    "tpch_q3": q_tpch_q3,
    "tpch_q5": q_tpch_q5,
    "tpch_q6": q_tpch_q6,
}

TPCH_ORACLES = {
    "tpch_q1": TPCH_Q1_SQL,
    "tpch_q3": TPCH_Q3_SQL,
    "tpch_q5": TPCH_Q5_SQL,
    "tpch_q6": TPCH_Q6_SQL,
}
