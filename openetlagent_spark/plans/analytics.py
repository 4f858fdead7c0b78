"""Analytics coverage queries beyond the first TPC-H batch: semi-join
aggregation (Q4 shape), multi-way join top-k (Q10), conditional
aggregation (Q12/Q14 shapes), having + join-back (Q18), grouping sets,
exact percentiles, moment statistics, sliding window frames, top-k per
group, and HLL approximate distinct counts.

All are built through the engine's operators where the operator surface
expresses them, composing with raw DataFrame expressions for the pieces
the reference-derived spec layer has no vocabulary for (conditional
flags, semi-join against a filtered build side) — the same split the
earlier TPC-H plans use.

Oracle-compat rules (see harness_queries.py): identical column aliases
both sides; FP aggregates accumulate in DECIMAL and cast to DOUBLE at
the end; derived per-group scalar math (mean, variance) runs the same
double formula on both sides; timestamps leave as DATE or epoch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import _toks_sql as _text_toks_sql
from ..functions.text import split_assign_oracle_sql, with_split_assign
from ..model import (
    AggregationOperation,
    BindOperation,
    FilterOperation,
    LimitOperation,
    SortOperation,
    UnionOperation,
    WindowOperation,
)
from ..runner import apply_operations


def _t(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape — order-priority counts for orders with at least one
    returned line: date-windowed orders LEFT SEMI a filtered lineitem.
    The semi-join never widens the row, so only the orders side
    shuffles at full width; the build side is a 1-column projection."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01")) & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    returned = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    hit = orders.join(returned, orders["o_orderkey"] == returned["l_orderkey"], "left_semi")
    return apply_operations(hit, [
        AggregationOperation(
            group_by=["o_orderpriority"],
            aggregations={"order_count": {"column": "*", "agg": "count"}},
        ),
    ], spark)


TPCH_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01' AND o.o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape — top 20 customers by returned-item revenue:
    lineitem(R) ⋈ orders(date window) ⋈ customer ⋈ nation.  customer
    and nation are broadcast; the only shuffle is the final group-by."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    li = apply_operations(li, [
        BindOperation(
            right_file_path=f"{sf_dir}/orders.parquet",
            left_on="l_orderkey",
            right_on="o_orderkey",
            how="inner",
            columns_to_add=["o_custkey", "o_orderdate"],
        ),
    ], spark).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = apply_operations(li, [
        BindOperation(
            right_file_path=f"{sf_dir}/customer.parquet",
            left_on="o_custkey",
            right_on="c_custkey",
            how="inner",
            columns_to_add=["c_name", "c_acctbal", "c_nationkey"],
        ),
        BindOperation(
            right_file_path=f"{sf_dir}/nation.parquet",
            left_on="c_nationkey",
            right_on="n_nationkey",
            how="inner",
            columns_to_add=["n_name"],
        ),
    ], spark)
    li = li.withColumn(
        "rev_dec",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,6)"),
    )
    agg = apply_operations(li, [
        AggregationOperation(
            group_by=["o_custkey", "c_name", "c_acctbal", "n_name"],
            aggregations={"revenue_dec": {"column": "rev_dec", "agg": "sum"}},
        ),
    ], spark).select(
        F.col("o_custkey").alias("c_custkey"),
        "c_name",
        "c_acctbal",
        "n_name",
        F.col("revenue_dec").cast("double").alias("revenue"),
    )
    return apply_operations(agg, [
        SortOperation(columns=["revenue", "c_custkey"], descending=[True, False]),
        LimitOperation(n=20),
    ], spark)


TPCH_Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1996-04-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape — conditional aggregation: per line status, how many
    lines belong to high-priority vs low-priority orders.  The CASE
    collapses to a 0/1 flag column summed with map-side partial
    aggregation; no extra shuffle beyond the join + group-by."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    li = apply_operations(li, [
        BindOperation(
            right_file_path=f"{sf_dir}/orders.parquet",
            left_on="l_orderkey",
            right_on="o_orderkey",
            how="inner",
            columns_to_add=["o_orderpriority"],
        ),
    ], spark)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li = li.withColumn("high_flag", F.when(high, F.lit(1)).otherwise(F.lit(0))).withColumn(
        "low_flag", F.when(high, F.lit(0)).otherwise(F.lit(1))
    )
    return apply_operations(li, [
        AggregationOperation(
            group_by=["l_linestatus"],
            aggregations={
                "high_line_count": {"column": "high_flag", "agg": "sum"},
                "low_line_count": {"column": "low_flag", "agg": "sum"},
            },
        ),
    ], spark)


TPCH_Q12_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01' AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
"""


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape — promo revenue share: date-windowed lineitem ⋈
    broadcast part; the ratio of two decimal sums, divided as doubles
    at the very end (one global aggregate, no second pass)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01")) & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    li = apply_operations(li, [
        BindOperation(
            right_file_path=f"{sf_dir}/part.parquet",
            left_on="l_partkey",
            right_on="p_partkey",
            how="inner",
            columns_to_add=["p_type"],
        ),
    ], spark)
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,6)")
    li = li.withColumn("rev_dec", rev).withColumn(
        "promo_rev_dec",
        F.when(F.col("p_type").startswith("PROMO"), F.col("rev_dec")).otherwise(
            F.lit(0).cast("decimal(18,6)")
        ),
    )
    agg = apply_operations(li, [
        AggregationOperation(
            group_by=[],
            aggregations={
                "promo_dec": {"column": "promo_rev_dec", "agg": "sum"},
                "total_dec": {"column": "rev_dec", "agg": "sum"},
            },
        ),
    ], spark)
    return agg.select(
        (
            F.lit(100.0) * F.col("promo_dec").cast("double") / F.col("total_dec").cast("double")
        ).alias("promo_revenue_pct")
    )


TPCH_Q14_SQL = """
SELECT 100.0 * CAST(CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                             THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
                             ELSE CAST(0 AS DECIMAL(18,6)) END) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
       AS promo_revenue_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01' AND l.l_shipdate < TIMESTAMP '1996-04-01'
"""


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape — large-volume orders: group lineitem by order, HAVING
    sum(qty) > 300, join the few survivors back to orders ⋈ customer.
    The having-filter runs BEFORE the join-back, so the second join's
    probe side is tiny (classic aggregate-then-join ordering)."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "qty_dec", F.col("l_quantity").cast("decimal(18,2)")
    )
    qty = apply_operations(li, [
        AggregationOperation(
            group_by=["l_orderkey"],
            aggregations={"sum_qty_dec": {"column": "qty_dec", "agg": "sum"}},
        ),
    ], spark)
    out = apply_operations(qty.withColumn("sum_qty", F.col("sum_qty_dec").cast("double")), [
        FilterOperation(input_column="sum_qty", operator=">", value=300),
        BindOperation(
            right_file_path=f"{sf_dir}/orders.parquet",
            left_on="l_orderkey",
            right_on="o_orderkey",
            how="inner",
            columns_to_add=["o_custkey", "o_orderdate", "o_totalprice"],
        ),
        BindOperation(
            right_file_path=f"{sf_dir}/customer.parquet",
            left_on="o_custkey",
            right_on="c_custkey",
            how="inner",
            columns_to_add=["c_name"],
        ),
    ], spark)
    out = out.select(
        F.col("o_custkey").alias("c_custkey"),
        "c_name",
        F.col("l_orderkey").alias("o_orderkey"),
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        "o_totalprice",
        "sum_qty",
    )
    return apply_operations(out, [
        SortOperation(columns=["o_totalprice", "o_orderkey"], descending=[True, False]),
        LimitOperation(n=100),
    ], spark)


TPCH_Q18_SQL = """
SELECT o_custkey AS c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
       o_totalprice, sum_qty
FROM (SELECT l_orderkey, CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_orderkey) q
JOIN orders o ON q.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE sum_qty > 300
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape — min-cost supplier (reference has no correlated
    subqueries; TPC-H Q2's `= (SELECT min(...))` is re-expressed as a
    window rank, the standard decorrelation).  The testdata has no
    partsupp table, so supply cost derives from lineitem: min unit
    price per (part, supplier).  Plan: one shuffle for the (part,
    supplier) aggregate; part/supplier/nation/region all broadcast;
    rank-1 filter picks the min-cost EUROPE supplier per STANDARD
    part deterministically (cost, then s_suppkey tiebreak)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    supply = apply_operations(li, [
        AggregationOperation(
            group_by=["l_partkey", "l_suppkey"],
            aggregations={"supply_cost": {"column": "unit_price", "agg": "min"}},
        ),
    ], spark)
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    )
    europe = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    ranked = apply_operations(supply, [
        BindOperation(
            right_file_path="part",
            left_on="l_partkey",
            right_on="p_partkey",
            how="inner",
            columns_to_add=["p_type", "p_size"],
        ),
        BindOperation(
            right_file_path=f"{sf_dir}/supplier.parquet",
            left_on="l_suppkey",
            right_on="s_suppkey",
            how="inner",
            columns_to_add=["s_name", "s_acctbal", "s_nationkey"],
        ),
        BindOperation(
            right_file_path=f"{sf_dir}/nation.parquet",
            left_on="s_nationkey",
            right_on="n_nationkey",
            how="inner",
            columns_to_add=["n_name", "n_regionkey"],
        ),
        BindOperation(
            right_file_path="europe",
            left_on="n_regionkey",
            right_on="r_regionkey",
            how="inner",
            columns_to_add=["r_name"],
        ),
        WindowOperation(
            function="row_number",
            partition_by=["l_partkey"],
            order_by=["supply_cost", "l_suppkey"],
            descending=[False, False],
            output_column="cost_rank",
        ),
    ], spark, {"part": F.broadcast(part), "europe": F.broadcast(europe)})
    out = ranked.filter(F.col("cost_rank") == 1).select(
        "s_acctbal",
        "s_name",
        "n_name",
        F.col("l_partkey").alias("p_partkey"),
        "supply_cost",
    )
    return apply_operations(out, [
        SortOperation(columns=["s_acctbal", "p_partkey"], descending=[True, False]),
        LimitOperation(n=100),
    ], spark)


TPCH_Q2_SQL = """
SELECT s_acctbal, s_name, n_name, p_partkey, supply_cost
FROM (
  SELECT s.s_acctbal, s.s_name, n.n_name, sc.l_partkey AS p_partkey, sc.supply_cost,
         ROW_NUMBER() OVER (PARTITION BY sc.l_partkey
                            ORDER BY sc.supply_cost, sc.l_suppkey) AS cost_rank
  FROM (SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS supply_cost
        FROM lineitem GROUP BY l_partkey, l_suppkey) sc
  JOIN part p ON sc.l_partkey = p.p_partkey AND p.p_type = 'STANDARD' AND p.p_size <= 10
  JOIN supplier s ON sc.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
)
WHERE cost_rank = 1
ORDER BY s_acctbal DESC, p_partkey
LIMIT 100
"""


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape — disjunctive multi-attribute predicate over the
    lineitem ⋈ part join: three (brand, size, quantity-range) arms
    OR-ed together.  Catalyst pushes the common-attribute disjunction
    into both scans (partial pushdown of an OR) and the join stays a
    single broadcast hash join — the query exists to pin that plan."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    arm1 = (F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 5)) & (
        F.col("l_quantity").between(1, 11)
    )
    arm2 = (F.col("p_brand") == "Brand#2") & (F.col("p_size").between(1, 10)) & (
        F.col("l_quantity").between(10, 20)
    )
    arm3 = (F.col("p_brand") == "Brand#3") & (F.col("p_size").between(1, 15)) & (
        F.col("l_quantity").between(20, 30)
    )
    return (
        j.filter(arm1 | arm2 | arm3)
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )


TPCH_Q19_SQL = """
SELECT CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5  AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 20 AND 30)
"""


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape — cross-nation trade volume: the NATION dimension joins
    TWICE under different roles (supplier's vs customer's), which
    exercises alias handling in the bind layer; both copies broadcast.
    Revenue per (supp_nation, cust_nation, ship_year) for one nation
    pair, both directions."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    li = apply_operations(li, [
        BindOperation(
            right_file_path=f"{sf_dir}/supplier.parquet",
            left_on="l_suppkey",
            right_on="s_suppkey",
            how="inner",
            columns_to_add=["s_nationkey"],
        ),
        BindOperation(
            right_file_path=f"{sf_dir}/orders.parquet",
            left_on="l_orderkey",
            right_on="o_orderkey",
            how="inner",
            columns_to_add=["o_custkey"],
        ),
        BindOperation(
            right_file_path=f"{sf_dir}/customer.parquet",
            left_on="o_custkey",
            right_on="c_custkey",
            how="inner",
            columns_to_add=["c_nationkey"],
        ),
    ], spark)
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust_nation = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    li = li.join(F.broadcast(supp_nation), li.s_nationkey == supp_nation.sn_key).join(
        F.broadcast(cust_nation), li.c_nationkey == cust_nation.cn_key
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.filter(pair)
        .withColumn("ship_year", F.year(F.col("l_shipdate").cast("date")))
        .withColumn(
            "rev_dec",
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,6)"),
        )
        .groupBy("supp_nation", "cust_nation", "ship_year")
        .agg(F.sum("rev_dec").cast("double").alias("revenue"))
    )


TPCH_Q7_SQL = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       EXTRACT(YEAR FROM CAST(l.l_shipdate AS DATE)) AS ship_year,
       CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
GROUP BY sn.n_name, cn.n_name, ship_year
"""


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape — positive-balance customers above the global average
    with no LARGE (>250k) orders.  The scalar subquery decorrelates to a broadcast
    1-row cross join (no collect, no second pass from the driver); the
    NOT IN decorrelates to a left-anti bind.  Plan: customer scans ×2
    (one aggregated to a single row), anti join against orders'
    custkeys, one final group-by shuffle."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            # exact decimal sum cast to double BEFORE the divide — the
            # same operand doubles as the oracle's CAST(SUM..)/COUNT(*),
            # so the threshold is bit-identical (decimal division would
            # round differently in the last ulp).
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_bal")
        )
    )
    rich = cust.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("avg_bal"))
    big_orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    op = BindOperation(
        right_file_path="orders", left_on="c_custkey", right_on="o_custkey", how="anti"
    )
    no_orders = apply_operations(rich, [op], spark, {"orders": big_orders})
    return (
        no_orders.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_bal"),
        )
    )


TPCH_Q22_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_custs,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_bal
FROM customer
WHERE c_acctbal > (SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*)
                   FROM customer WHERE c_acctbal > 0)
  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 250000)
GROUP BY c_mktsegment
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — per-returnflag, per-linestatus, and
    grand-total subtotals in ONE pass (Catalyst expands to a single
    Expand + hash aggregate; no union of three scans)."""
    df = _t(spark, sf_dir, "lineitem").withColumn(
        "qty_dec", F.col("l_quantity").cast("decimal(18,2)")
    )
    agg = apply_operations(df, [
        AggregationOperation(
            group_by=["l_returnflag", "l_linestatus"],
            grouping="sets",
            grouping_sets=[["l_returnflag"], ["l_linestatus"], []],
            aggregations={
                "sum_qty_dec": {"column": "qty_dec", "agg": "sum"},
                "n_rows": {"column": "*", "agg": "count"},
            },
        ),
    ], spark)
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        "n_rows",
    )


GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (PERCENTILE_CONT semantics) of
    l_quantity per return flag.  Exact percentile sorts within each
    group — appropriate grouped; the sketch path for global quantiles
    at 100 TB is approx_percentile (see q_approx_distinct for the
    sketch-family rationale)."""
    return apply_operations(_t(spark, sf_dir, "lineitem"), [
        AggregationOperation(
            group_by=["l_returnflag"],
            aggregations={
                "p25_qty": {"column": "l_quantity", "agg": "percentile", "p": "0.25"},
                "median_qty": {"column": "l_quantity", "agg": "percentile", "p": "0.5"},
                "p75_qty": {"column": "l_quantity", "agg": "percentile", "p": "0.75"},
            },
        ),
    ], spark).select("l_returnflag", "p25_qty", "median_qty", "p75_qty")


PERCENTILE_SQL = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS p25_qty,
       quantile_cont(l_quantity, 0.5)  AS median_qty,
       quantile_cont(l_quantity, 0.75) AS p75_qty
FROM lineitem
GROUP BY l_returnflag
"""


def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean / sample variance / stddev per group, computed from EXACT
    decimal power sums (sum, sum of squares) so the result is
    partition-order independent — a double-accumulating stddev differs
    in the last ulp between engines and across shuffle orders.  The
    closed-form combine is also how a 1000-executor cluster merges
    per-partition moments without a second pass."""
    df = _t(spark, sf_dir, "lineitem").withColumn(
        "qty_dec", F.col("l_quantity").cast("decimal(18,2)")
    )
    df = df.withColumn("qty_sq_dec", (F.col("qty_dec") * F.col("qty_dec")).cast("decimal(28,4)"))
    agg = apply_operations(df, [
        AggregationOperation(
            group_by=["l_returnflag"],
            aggregations={
                "s1_dec": {"column": "qty_dec", "agg": "sum"},
                "s2_dec": {"column": "qty_sq_dec", "agg": "sum"},
                "n": {"column": "*", "agg": "count"},
            },
        ),
    ], spark)
    s1 = F.col("s1_dec").cast("double")
    s2 = F.col("s2_dec").cast("double")
    n = F.col("n").cast("double")
    var = (s2 - s1 * s1 / n) / (n - F.lit(1.0))
    return agg.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        (s1 / n).alias("mean_qty"),
        var.alias("var_qty"),
        F.sqrt(var).alias("stddev_qty"),
    )


def q_stats_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis per group from EXACT decimal power
    sums s1..s4 — the higher-moment completion of q_stats_moments.
    Central moments come from the closed-form combine
    (M3 = s3/n - 3m*s2/n + 2m^3, M4 = s4/n - 4m*s3/n + 6m^2*s2/n -
    3m^4), evaluated in one fixed double operation tree; M2^1.5 is
    written M2*sqrt(M2) (multiply and sqrt are correctly-rounded IEEE
    — ``pow`` is libm and would break the hash).  Order-independent,
    single pass, mergeable across 1000 executors like every power-sum
    statistic."""
    q = F.col("l_quantity").cast("decimal(18,2)")
    q2 = (q * q).cast("decimal(28,4)")
    q3 = (q2 * q).cast("decimal(32,6)")
    q4 = (q2 * q2).cast("decimal(38,8)")
    df = (
        _t(spark, sf_dir, "lineitem")
        .withColumn("q1d", q)
        .withColumn("q2d", q2)
        .withColumn("q3d", q3)
        .withColumn("q4d", q4)
    )
    agg = apply_operations(df, [
        AggregationOperation(
            group_by=["l_returnflag"],
            aggregations={
                "s1_dec": {"column": "q1d", "agg": "sum"},
                "s2_dec": {"column": "q2d", "agg": "sum"},
                "s3_dec": {"column": "q3d", "agg": "sum"},
                "s4_dec": {"column": "q4d", "agg": "sum"},
                "n": {"column": "*", "agg": "count"},
            },
        ),
    ], spark)
    n = F.col("n").cast("double")
    m = F.col("s1_dec").cast("double") / n
    e2 = F.col("s2_dec").cast("double") / n
    e3 = F.col("s3_dec").cast("double") / n
    e4 = F.col("s4_dec").cast("double") / n
    m2 = e2 - m * m
    m3 = e3 - F.lit(3.0) * m * e2 + F.lit(2.0) * m * m * m
    m4 = (
        e4
        - F.lit(4.0) * m * e3
        + F.lit(6.0) * (m * m) * e2
        - F.lit(3.0) * (m * m) * (m * m)
    )
    return agg.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        (m3 / (m2 * F.sqrt(m2))).alias("skew_qty"),
        (m4 / (m2 * m2) - F.lit(3.0)).alias("kurtosis_qty"),
    )


STATS_SKEW_SQL = """
SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
       (e3 - 3.0 * m * e2 + 2.0 * m * m * m)
         / ((e2 - m * m) * sqrt(e2 - m * m)) AS skew_qty,
       (e4 - 4.0 * m * e3 + 6.0 * (m * m) * e2 - 3.0 * (m * m) * (m * m))
         / ((e2 - m * m) * (e2 - m * m)) - 3.0 AS kurtosis_qty
FROM (SELECT l_returnflag, n, s1 / n AS m, s2 / n AS e2, s3 / n AS e3, s4 / n AS e4
      FROM (SELECT l_returnflag,
                   -- decimal -> VARCHAR -> DOUBLE: DuckDB's direct
                   -- int128-decimal -> double cast double-rounds (1 ulp
                   -- off for wide scale-8 sums); the string round-trip
                   -- is correctly rounded like Spark's decimal cast
                   CAST(CAST(SUM(q1d) AS VARCHAR) AS DOUBLE) AS s1,
                   CAST(CAST(SUM(q2d) AS VARCHAR) AS DOUBLE) AS s2,
                   CAST(CAST(SUM(q3d) AS VARCHAR) AS DOUBLE) AS s3,
                   CAST(CAST(SUM(q4d) AS VARCHAR) AS DOUBLE) AS s4,
                   CAST(COUNT(*) AS DOUBLE) AS n
            FROM (SELECT l_returnflag,
                         CAST(l_quantity AS DECIMAL(18,2)) AS q1d,
                         CAST(CAST(l_quantity AS DECIMAL(18,2))
                              * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4)) AS q2d,
                         CAST(CAST(CAST(l_quantity AS DECIMAL(18,2))
                                   * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4))
                              * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(32,6)) AS q3d,
                         CAST(CAST(CAST(l_quantity AS DECIMAL(18,2))
                                   * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4))
                              * CAST(CAST(l_quantity AS DECIMAL(18,2))
                                     * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4))
                              AS DECIMAL(38,8)) AS q4d
                  FROM lineitem)
            GROUP BY l_returnflag))
"""


STATS_MOMENTS_SQL = """
SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows, s1 / n AS mean_qty,
       (s2 - s1 * s1 / n) / (n - 1.0) AS var_qty,
       sqrt((s2 - s1 * s1 / n) / (n - 1.0)) AS stddev_qty
FROM (SELECT l_returnflag,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS s2,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM lineitem GROUP BY l_returnflag)
"""


def q_stats_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + covariance per group from EXACT decimal
    cross power sums (Σx, Σy, Σxy, Σx², Σy²) — the two-column
    completion of the moments family.  cov = sxy/n - mx*my and
    r = cov / (sd_x * sd_y), evaluated in one fixed double operation
    tree (sqrt is correctly-rounded IEEE), so the result is partition-
    order independent and engine-exact.  Like every power-sum
    statistic: single pass, map-side combinable, mergeable across
    1000 executors."""
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    df = (
        _t(spark, sf_dir, "lineitem")
        .withColumn("xd", x)
        .withColumn("yd", y)
        .withColumn("xyd", (x * y).cast("decimal(38,4)"))
        .withColumn("x2d", (x * x).cast("decimal(28,4)"))
        .withColumn("y2d", (y * y).cast("decimal(38,4)"))
    )
    agg = apply_operations(df, [
        AggregationOperation(
            group_by=["l_returnflag"],
            aggregations={
                "sx": {"column": "xd", "agg": "sum"},
                "sy": {"column": "yd", "agg": "sum"},
                "sxy": {"column": "xyd", "agg": "sum"},
                "sx2": {"column": "x2d", "agg": "sum"},
                "sy2": {"column": "y2d", "agg": "sum"},
                "n": {"column": "*", "agg": "count"},
            },
        ),
    ], spark)
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sx2 = F.col("sx2").cast("double")
    sy2 = F.col("sy2").cast("double")
    mx = sx / n
    my = sy / n
    cov = sxy / n - mx * my
    sdx = F.sqrt(sx2 / n - mx * mx)
    sdy = F.sqrt(sy2 / n - my * my)
    return agg.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        cov.alias("covariance"),
        (cov / (sdx * sdy)).alias("pearson_r"),
    )


STATS_CORR_SQL = """
WITH s AS (
  SELECT l_returnflag,
         CAST(CAST(SUM(xd) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(yd) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(xyd) AS VARCHAR) AS DOUBLE) AS sxy,
         CAST(CAST(SUM(x2d) AS VARCHAR) AS DOUBLE) AS sx2,
         CAST(CAST(SUM(y2d) AS VARCHAR) AS DOUBLE) AS sy2,
         CAST(COUNT(*) AS DOUBLE) AS n,
         COUNT(*) AS n_rows
  FROM (SELECT l_returnflag,
               CAST(l_quantity AS DECIMAL(18,2)) AS xd,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS yd,
               CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)) AS xyd,
               CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4)) AS x2d,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)) AS y2d
        FROM lineitem)
  GROUP BY l_returnflag)
SELECT l_returnflag, n_rows,
       sxy / n - (sx / n) * (sy / n) AS covariance,
       (sxy / n - (sx / n) * (sy / n))
         / (sqrt(sx2 / n - (sx / n) * (sx / n)) * sqrt(sy2 / n - (sy / n) * (sy / n))) AS pearson_r
FROM s
"""


def q_ols_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares fit (y = slope·x + intercept of
    extended price on quantity per return flag) plus R² — the trend
    estimator, completing the power-sum family (moments → corr → fit).
    Same exactness contract as stats_corr: Σx, Σy, Σxy, Σx², Σy² in
    DECIMAL (order-free), then ONE fixed double tree per statistic —
    slope = cov/var_x, intercept = my − slope·mx, r² = cov²/(var_x·var_y).
    Single pass, map-side combinable, mergeable across 1000 executors."""
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    df = (
        _t(spark, sf_dir, "lineitem")
        .withColumn("xd", x)
        .withColumn("yd", y)
        .withColumn("xyd", (x * y).cast("decimal(38,4)"))
        .withColumn("x2d", (x * x).cast("decimal(28,4)"))
        .withColumn("y2d", (y * y).cast("decimal(38,4)"))
    )
    agg = apply_operations(df, [
        AggregationOperation(
            group_by=["l_returnflag"],
            aggregations={
                "sx": {"column": "xd", "agg": "sum"},
                "sy": {"column": "yd", "agg": "sum"},
                "sxy": {"column": "xyd", "agg": "sum"},
                "sx2": {"column": "x2d", "agg": "sum"},
                "sy2": {"column": "y2d", "agg": "sum"},
                "n": {"column": "*", "agg": "count"},
            },
        ),
    ], spark)
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sx2 = F.col("sx2").cast("double")
    sy2 = F.col("sy2").cast("double")
    mx = sx / n
    my = sy / n
    cov = sxy / n - mx * my
    var_x = sx2 / n - mx * mx
    var_y = sy2 / n - my * my
    slope = cov / var_x
    return agg.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        slope.alias("slope"),
        (my - slope * mx).alias("intercept"),
        ((cov * cov) / (var_x * var_y)).alias("r2"),
    )


OLS_FIT_SQL = """
WITH s AS (
  SELECT l_returnflag,
         CAST(CAST(SUM(xd) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(yd) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(xyd) AS VARCHAR) AS DOUBLE) AS sxy,
         CAST(CAST(SUM(x2d) AS VARCHAR) AS DOUBLE) AS sx2,
         CAST(CAST(SUM(y2d) AS VARCHAR) AS DOUBLE) AS sy2,
         CAST(COUNT(*) AS DOUBLE) AS n,
         COUNT(*) AS n_rows
  FROM (SELECT l_returnflag,
               CAST(l_quantity AS DECIMAL(18,2)) AS xd,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS yd,
               CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)) AS xyd,
               CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4)) AS x2d,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)) AS y2d
        FROM lineitem)
  GROUP BY l_returnflag)
SELECT l_returnflag, n_rows,
       (sxy / n - (sx / n) * (sy / n)) / (sx2 / n - (sx / n) * (sx / n)) AS slope,
       (sy / n) - ((sxy / n - (sx / n) * (sy / n)) / (sx2 / n - (sx / n) * (sx / n))) * (sx / n) AS intercept,
       ((sxy / n - (sx / n) * (sy / n)) * (sxy / n - (sx / n) * (sy / n)))
         / ((sx2 / n - (sx / n) * (sx / n)) * (sy2 / n - (sy / n) * (sy / n))) AS r2
FROM s
"""


def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between two categoricals (doc
    language × source): per contingency CELL the observed count,
    expected count under independence (row·col margins / n), and the
    χ² term — including ZERO-observed cells, which still contribute
    their full expected mass (the classic silent-undercount bug in
    naive GROUP-BY-only implementations).

    Shape: one (a, b) count exchange over the corpus; the full cell
    lattice is the CROSS of the two margin AGGREGATES (|A|·|B| rows —
    bounded by the category domain product, never corpus-sized), with
    observed counts left-joined on.  n comes from a window over the
    |A|-row margin.  All counts integer; expected and the term are one
    fixed double tree (d·d, not pow)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").select(
        F.col("lang").alias("a"), F.col("source").alias("b")
    ).where(F.col("a").isNotNull() & F.col("b").isNotNull())
    obs = docs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_ab"))
    ma = docs.groupBy("a").agg(F.count(F.lit(1)).alias("n_a"))
    mb = docs.groupBy("b").agg(F.count(F.lit(1)).alias("n_b"))
    w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # total over the |A|-row margin aggregate — bounded global window
    ma = ma.withColumn("n", F.sum("n_a").over(w))
    cells = ma.crossJoin(mb).join(obs, ["a", "b"], "left").withColumn(
        "n_ab", F.coalesce(F.col("n_ab"), F.lit(0).cast("bigint"))
    )
    e = (
        F.col("n_a").cast("double")
        * F.col("n_b").cast("double")
        / F.col("n").cast("double")
    )
    diff = F.col("n_ab").cast("double") - e
    return cells.select(
        "a",
        "b",
        "n_ab",
        e.alias("expected"),
        ((diff * diff) / e).alias("chi2_term"),
    )


CHI2_INDEPENDENCE_SQL = """
WITH d AS (
  SELECT lang AS a, source AS b FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL),
obs AS (SELECT a, b, COUNT(*) AS n_ab FROM d GROUP BY a, b),
ma AS (SELECT a, COUNT(*) AS n_a FROM d GROUP BY a),
mb AS (SELECT b, COUNT(*) AS n_b FROM d GROUP BY b),
mat AS (SELECT a, n_a, SUM(n_a) OVER () AS n FROM ma)
SELECT mat.a, mb.b,
       COALESCE(obs.n_ab, CAST(0 AS BIGINT)) AS n_ab,
       CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
       ((CAST(COALESCE(obs.n_ab, 0) AS DOUBLE)
          - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE))
        * (CAST(COALESCE(obs.n_ab, 0) AS DOUBLE)
          - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE)))
       / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE)) AS chi2_term
FROM mat CROSS JOIN mb LEFT JOIN obs ON obs.a = mat.a AND obs.b = mb.b
"""


def q_gini_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-concentration audit: the Lorenz curve and Gini
    coefficient of corpus mass (total chars) across sources — the
    "is 90% of my training data coming from 3 domains?" governance
    check.  Corpus → per-source weight aggregate (ONE corpus
    exchange); every rank/cumulative/total is a window over that
    |sources|-row aggregate, bounded by the source domain at any
    corpus size.  Gini = 2·Σ(i·wᵢ)/(n·Σw) − (n+1)/n over the
    (weight, source)-sorted ranks; rank·weight products go through
    DECIMAL(38,0) so a 10^14-char source at rank 10^6 cannot overflow
    BIGINT.  Integer math until one fixed double tree at the end."""
    from pyspark.sql import Window

    w_src = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").alias("weight"))
    )
    order = Window.partitionBy().orderBy("weight", "source")
    full = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = Window.partitionBy().orderBy("weight", "source").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = (
        w_src.withColumn("rank", F.row_number().over(order))
        .withColumn("cum_weight", F.sum("weight").over(cum))
        .withColumn("total", F.sum("weight").over(full))
        .withColumn("n_sources", F.count(F.lit(1)).over(full))
        .withColumn(
            "_x_iw",
            F.sum(
                (F.col("rank").cast("decimal(18,0)") * F.col("weight").cast("decimal(18,0)"))
                .cast("decimal(38,0)")
            ).over(full),
        )
    )
    n_d = F.col("n_sources").cast("double")
    gini = (
        F.lit(2.0) * F.col("_x_iw").cast("double")
        / (n_d * F.col("total").cast("double"))
        - (n_d + F.lit(1.0)) / n_d
    )
    return ranked.select(
        "source",
        "weight",
        "rank",
        (F.col("cum_weight").cast("double") / F.col("total").cast("double")).alias(
            "lorenz_share"
        ),
        gini.alias("gini"),
    )


GINI_SOURCES_SQL = """
WITH w AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS weight FROM documents GROUP BY source),
r0 AS (
  -- NULLS FIRST pins DuckDB to Spark's ascending default (Spark sorts
  -- NULLS FIRST, DuckDB NULLS LAST) — documents.source is not filtered,
  -- so a NULL source/weight must rank identically in both engines.
  SELECT source, weight,
         ROW_NUMBER() OVER (ORDER BY weight NULLS FIRST, source NULLS FIRST) AS rank,
         SUM(weight) OVER (ORDER BY weight NULLS FIRST, source NULLS FIRST
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_weight,
         SUM(weight) OVER () AS total,
         COUNT(*) OVER () AS n_sources
  FROM w),
r AS (
  SELECT *,
         SUM(CAST(CAST(rank AS DECIMAL(18,0))
             * CAST(weight AS DECIMAL(18,0)) AS DECIMAL(38,0))) OVER () AS iw
  FROM r0)
SELECT source, weight, CAST(rank AS INTEGER) AS rank,
       CAST(cum_weight AS DOUBLE) / CAST(total AS DOUBLE) AS lorenz_share,
       2.0 * CAST(CAST(iw AS VARCHAR) AS DOUBLE)
         / (CAST(n_sources AS DOUBLE) * CAST(total AS DOUBLE))
         - (CAST(n_sources AS DOUBLE) + 1.0) / CAST(n_sources AS DOUBLE) AS gini
FROM r
"""


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch z-test between event cohorts (functions/
    stats.py welch_z_test — generic cohort-parameterized operator;
    this query pins the purchase-vs-click instantiation): per-cohort
    n / mean / sample variance from exact DECIMAL sums in ONE
    conditional single-pass aggregate (no second scan, no join), then
    z = (mā − m̄b) / sqrt(va/na + vb/nb) as one fixed double tree.
    Map-side combinable; mergeable across 1000 executors."""
    from ..functions.stats import welch_z_test

    return welch_z_test(
        _t(spark, sf_dir, "events"), "event_type", "purchase", "click", "value"
    )


AB_TEST_SQL = """
WITH s AS (
  SELECT
    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_a,
    SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,6))
        ELSE CAST(0 AS DECIMAL(18,6)) END) AS _sa,
    SUM(CASE WHEN event_type = 'purchase'
        THEN CAST(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)) AS DECIMAL(38,6))
        ELSE CAST(0 AS DECIMAL(38,6)) END) AS _s2a,
    SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS n_b,
    SUM(CASE WHEN event_type <> 'purchase' THEN CAST(value AS DECIMAL(18,6))
        ELSE CAST(0 AS DECIMAL(18,6)) END) AS _sb,
    SUM(CASE WHEN event_type <> 'purchase'
        THEN CAST(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)) AS DECIMAL(38,6))
        ELSE CAST(0 AS DECIMAL(38,6)) END) AS _s2b
  FROM events
  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
d AS (
  SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
         CAST(CAST(_sa AS VARCHAR) AS DOUBLE) AS sa,
         CAST(CAST(_sb AS VARCHAR) AS DOUBLE) AS sb,
         CAST(CAST(_s2a AS VARCHAR) AS DOUBLE) AS s2a,
         CAST(CAST(_s2b AS VARCHAR) AS DOUBLE) AS s2b
  FROM s)
SELECT n_a, sa / nad AS mean_a,
       (s2a - sa * sa / nad) / (nad - 1.0) AS var_a,
       n_b, sb / nbd AS mean_b,
       (s2b - sb * sb / nbd) / (nbd - 1.0) AS var_b,
       ((sa / nad) - (sb / nbd))
         / sqrt(((s2a - sa * sa / nad) / (nad - 1.0)) / nad
                + ((s2b - sb * sb / nbd) / (nbd - 1.0)) / nbd) AS z_score
FROM d
"""


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: for every purchase, the FIRST-touch and
    LAST-touch non-purchase event types in the user's preceding
    timeline — the conversion-credit primitive.  One window over
    (user, (ts, event_id)) with a [unbounded, -1] row frame and
    IGNORE-NULLS first/last over a purchase-masked CASE; the partition
    key is user_id (corpus-cardinality — never a skew trap), and a
    first-event purchase attributes to NULL on both engines.  Order is
    fully determined by (epoch, event_id), so results are
    engine-exact."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull()).select(
        "event_id",
        "user_id",
        # NTZ refuses a direct long cast; timestamp-first matches the
        # oracle's floor(epoch(ts)) exactly (read_event_table rule)
        F.col("ts").cast("timestamp").cast("long").alias("ts_epoch"),
        "event_type",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_epoch", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    masked = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    out = ev.withColumn("first_touch", F.first(masked, ignorenulls=True).over(w))
    out = out.withColumn("last_touch", F.last(masked, ignorenulls=True).over(w))
    return out.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_epoch", "first_touch", "last_touch"
    )


ATTRIBUTION_SQL = """
SELECT event_id, user_id, ts_epoch, first_touch, last_touch
FROM (
  SELECT event_id, user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
         event_type,
         first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
  FROM events WHERE user_id IS NOT NULL)
WHERE event_type = 'purchase'
"""


def _ntile_expr(rank_col: str, n_col: str, k: int):
    """SQL-standard NTILE(k) re-derived from (rank, count) in pure
    integer math (the quantile_bins formula generalized): the first
    n%k buckets hold ceil(n/k) rows, the rest floor(n/k)."""
    return F.expr(
        f"CAST(CASE WHEN {rank_col} <= ({n_col} % {k}) * (({n_col} DIV {k}) + 1) "
        f"THEN ({rank_col} - 1) DIV (({n_col} DIV {k}) + 1) + 1 "
        f"ELSE ({n_col} % {k}) + ({rank_col} - ({n_col} % {k}) * (({n_col} DIV {k}) + 1) - 1) "
        f"DIV ({n_col} DIV {k}) + 1 END AS INTEGER)"
    )


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per user the recency (last event
    day), frequency (event count), monetary (exact decimal purchase
    sum), and the classic R/F/M quintile scores + combined RFM code —
    the lifecycle-marketing workhorse.

    Corpus → |users|-row aggregate (one keyed exchange), then THREE
    exact quintile ranks over that aggregate via
    :func:`~..functions.curation.two_phase_group_rank` under a
    constant group (range exchange + pid-local sorts — at billions of
    users a plain ORDER-BY window would be a single-task sort; the
    oracle keeps the plain NTILE formulation).  Quintiles re-derive
    NTILE's ceil-division split from (rank, n) in integer math — the
    proven quantile_bins formula with k=5.  Ties break on user_id, so
    scores are engine-exact."""
    from ..functions.curation import two_phase_group_rank

    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    vd = F.col("value").cast("decimal(18,6)")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
            ).alias("last_day"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(
                F.when(F.col("event_type") == "purchase", vd).otherwise(
                    F.lit(0).cast("decimal(18,6)")
                )
            ).alias("_x_mon"),
        )
        .withColumn("_x_g", F.lit(1))
    )
    ranked = per_user
    for rank_col, sort_col in (
        ("_x_rr", "last_day"),
        ("_x_rf", "frequency"),
        ("_x_rm", "_x_mon"),
    ):
        ranked = two_phase_group_rank(
            ranked,
            ["_x_g"],
            [F.col(sort_col), F.col("user_id")],
            rank_col,
            count_column="_x_n",
        )
    r = _ntile_expr("_x_rr", "_x_n", 5)
    f5 = _ntile_expr("_x_rf", "_x_n", 5)
    m = _ntile_expr("_x_rm", "_x_n", 5)
    return ranked.select(
        "user_id",
        "last_day",
        "frequency",
        F.col("_x_mon").cast("double").alias("monetary"),
        r.alias("r"),
        f5.alias("f"),
        m.alias("m"),
        (r * 100 + f5 * 10 + m).alias("rfm"),
    )


RFM_SEGMENTS_SQL = """
WITH u AS (
  SELECT user_id,
         CAST(MAX(CAST(ts AS DATE)) - DATE '1970-01-01' AS INTEGER) AS last_day,
         COUNT(*) AS frequency,
         SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,6))
             ELSE CAST(0 AS DECIMAL(18,6)) END) AS mon
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
q AS (
  SELECT user_id, last_day, frequency, mon,
         CAST(NTILE(5) OVER (ORDER BY last_day, user_id) AS INTEGER) AS r,
         CAST(NTILE(5) OVER (ORDER BY frequency, user_id) AS INTEGER) AS f,
         CAST(NTILE(5) OVER (ORDER BY mon, user_id) AS INTEGER) AS m
  FROM u)
SELECT user_id, last_day, frequency,
       CAST(CAST(mon AS VARCHAR) AS DOUBLE) AS monetary,
       r, f, m, r * 100 + f * 10 + m AS rfm
FROM q
"""


def q_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table — the model-evaluation readout "how much of
    the positive class do the top score deciles capture?": rows ranked
    by a score, cut into 10 exact deciles (two-phase prefix rank under
    a constant group — never a global ORDER-BY window), then per
    decile the row count, positives, positive rate, cumulative capture
    of all positives (top decile first), and lift vs the base rate.
    The harness uses n_chars as the deterministic stand-in score and
    lang='en' as the label — the operator is score-agnostic (swap in a
    classifier score column).  All windows run over the 10-row decile
    aggregate; counts integer, ratios one fixed double tree."""
    from pyspark.sql import Window
    from ..functions.curation import two_phase_group_rank

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    ).withColumn("_x_g", F.lit(1))
    ranked = two_phase_group_rank(
        docs,
        ["_x_g"],
        [F.col("score").desc(), F.col("doc_id")],
        "_x_rnk",
        count_column="_x_n",
    )
    decile = _ntile_expr("_x_rnk", "_x_n", 10)
    agg = ranked.select(decile.alias("decile"), "label").groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("label").cast("bigint").alias("n_pos"),
    )
    full = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = Window.partitionBy().orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    agg = (
        agg.withColumn("_x_tp", F.sum("n_pos").over(full))
        .withColumn("_x_tr", F.sum("n_rows").over(full))
        .withColumn("_x_cp", F.sum("n_pos").over(cum))
    )
    pos_rate = F.col("n_pos").cast("double") / F.col("n_rows").cast("double")
    base = F.col("_x_tp").cast("double") / F.col("_x_tr").cast("double")
    return agg.select(
        "decile",
        "n_rows",
        "n_pos",
        pos_rate.alias("pos_rate"),
        (F.col("_x_cp").cast("double") / F.col("_x_tp").cast("double")).alias(
            "cum_capture"
        ),
        (pos_rate / base).alias("lift"),
    )


LIFT_TABLE_SQL = """
WITH r AS (
  SELECT doc_id,
         CAST(lang = 'en' AS INTEGER) AS label,
         CAST(NTILE(10) OVER (ORDER BY n_chars DESC, doc_id) AS INTEGER) AS decile
  FROM documents),
a AS (
  SELECT decile, COUNT(*) AS n_rows, CAST(SUM(label) AS BIGINT) AS n_pos
  FROM r GROUP BY decile),
w AS (
  SELECT decile, n_rows, n_pos,
         SUM(n_pos) OVER () AS tp,
         SUM(n_rows) OVER () AS tr,
         SUM(n_pos) OVER (ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
  FROM a)
SELECT decile, n_rows, n_pos,
       CAST(n_pos AS DOUBLE) / CAST(n_rows AS DOUBLE) AS pos_rate,
       CAST(cp AS DOUBLE) / CAST(tp AS DOUBLE) AS cum_capture,
       (CAST(n_pos AS DOUBLE) / CAST(n_rows AS DOUBLE))
         / (CAST(tp AS DOUBLE) / CAST(tr AS DOUBLE)) AS lift
FROM w
"""


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding (functions/mining.py
    target_encode_loo) of event_type by event value — every row gets
    its category mean EXCLUDING itself (no single-row leakage);
    singleton categories fall back to the global leave-one-out mean.
    One category aggregate broadcast back; exact decimal sums."""
    from ..functions.mining import target_encode_loo

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return target_encode_loo(ev, "event_type", "value").select(
        "event_id", "event_type", "value", "te_loo"
    )


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test between the purchase and
    click value distributions (functions/stats.py ks_two_sample — the
    generic cohort-parameterized operator; this query pins the
    purchase/click instantiation): ``D = max |ECDF_a − ECDF_b|`` over
    pooled observed values plus ``D·sqrt(na·nb/(na+nb))`` — the
    distribution-shift detector that sees shape changes the mean test
    (ab_test) misses.  Corpus → per-distinct-value cohort counts (ONE
    exchange), running counts via two_phase_prefix_sums (range
    exchange + pid-local cumulative windows — never a single-task
    global ORDER-BY; the oracle keeps that plain formulation), D an
    order-free MAX of a fixed double tree.  Integer counts throughout
    — engine-exact."""
    from ..functions.stats import ks_two_sample

    return ks_two_sample(
        _t(spark, sf_dir, "events"), "event_type", "purchase", "click", "value"
    )


KS_TEST_SQL = """
WITH e AS (
  SELECT value AS x, event_type FROM events
  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
v AS (
  SELECT x,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM e GROUP BY x),
c AS (
  SELECT CAST(SUM(ca) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cuma,
         CAST(SUM(cb) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumb
  FROM v),
t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b FROM v),
d AS (
  -- t is a global aggregate (always exactly 1 row), so grouping by
  -- (n_a, n_b) keeps the 1-row shape even when BOTH cohorts are empty:
  -- the LEFT JOIN pads c with one all-NULL row and MAX(NULL) = NULL,
  -- matching the Spark side's one-all-NULL-row global aggregate
  -- (a plain `FROM c, t GROUP BY` would emit ZERO rows on empty input).
  SELECT n_a, n_b,
         MAX(ABS(CAST(cuma AS DOUBLE) / CAST(n_a AS DOUBLE)
                 - CAST(cumb AS DOUBLE) / CAST(n_b AS DOUBLE))) AS ks_d
  FROM t LEFT JOIN c ON TRUE GROUP BY n_a, n_b)
SELECT n_a, n_b, ks_d,
       ks_d * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                   / CAST(n_a + n_b AS DOUBLE)) AS ks_stat
FROM d
"""


def q_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type — the trend dashboard
    readout: weekly counts (integer week = days-since-epoch DIV 7, no
    locale WEEKOFYEAR), previous week via LAG over the
    (types × weeks)-row AGGREGATE (bounded window partitions), growth
    as one guarded IEEE division.  Weeks with no prior observation get
    NULL growth.  One corpus exchange."""
    from pyspark.sql import Window

    weekly = (
        _t(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .groupBy(F.col("event_type"), F.floor(
            F.datediff(F.to_date(F.col("ts")), F.to_date(F.lit("1970-01-01")))
            / F.lit(7)
        ).cast("int").alias("week"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("n_events").over(w)
    return weekly.withColumn("prev_events", prev).withColumn(
        "wow_growth",
        F.when(
            prev.isNotNull() & (prev > 0),
            (F.col("n_events") - prev).cast("double") / prev.cast("double"),
        ),
    )


WOW_GROWTH_SQL = """
WITH w AS (
  SELECT event_type,
         CAST(FLOOR(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DOUBLE) / 7.0) AS INTEGER) AS week,
         COUNT(*) AS n_events
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2)
SELECT event_type, week, n_events,
       LAG(n_events) OVER (PARTITION BY event_type ORDER BY week) AS prev_events,
       CASE WHEN LAG(n_events) OVER (PARTITION BY event_type ORDER BY week) > 0
            THEN CAST(n_events - LAG(n_events) OVER (PARTITION BY event_type ORDER BY week) AS DOUBLE)
                 / CAST(LAG(n_events) OVER (PARTITION BY event_type ORDER BY week) AS DOUBLE)
       END AS wow_growth
FROM w
"""


def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting — new vs returning active users per
    week, the startup-metrics staple: a user is NEW in their first
    active week (MIN over their weeks) and RETURNING in every later
    active week.  Shape: distinct (user, week) → per-user first week
    (one keyed aggregate) joined back onto the activity pairs
    (co-partitioned on user — AQE co-locates the two aggregates of the
    same exchange), then one bounded per-week count.  Integer week =
    days-since-epoch DIV 7 (no locale WEEKOFYEAR); all counts
    integer."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    week = F.floor(
        F.datediff(F.to_date(F.col("ts")), F.to_date(F.lit("1970-01-01")))
        / F.lit(7)
    ).cast("int")
    uw = ev.select(F.col("user_id").alias("u"), week.alias("week")).distinct()
    first = uw.groupBy("u").agg(F.min("week").alias("_x_fw"))
    joined = uw.join(first, "u")
    return joined.groupBy("week").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum((F.col("week") == F.col("_x_fw")).cast("bigint")).alias("n_new"),
        F.sum((F.col("week") != F.col("_x_fw")).cast("bigint")).alias("n_returning"),
    )


GROWTH_ACCOUNTING_SQL = """
WITH uw AS (
  SELECT DISTINCT user_id AS u,
         CAST(FLOOR(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DOUBLE) / 7.0) AS INTEGER) AS week
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
f AS (SELECT u, MIN(week) AS fw FROM uw GROUP BY u)
SELECT week, COUNT(*) AS n_active,
       CAST(SUM(CASE WHEN week = fw THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(SUM(CASE WHEN week <> fw THEN 1 ELSE 0 END) AS BIGINT) AS n_returning
FROM uw JOIN f ON f.u = uw.u
GROUP BY week
"""


def q_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based discretization: NTILE(10) decile buckets of
    l_extendedprice within each return flag, on the fully-determined
    order (value, orderkey, linenumber) so bucket assignment is
    engine-exact.

    NOT ``F.ntile`` over ``Window.partitionBy(l_returnflag)``: the flag
    has 3 values, so each window partition would be a third of the
    corpus sorted on ONE task — the bounded-cardinality skew trap.
    Instead the within-group rank comes from
    :func:`~..functions.curation.two_phase_group_rank` (range exchange
    on (flag, value, tiebreaks) → every partition sorts locally in
    parallel; per-(pid, flag) counts fold driver-side into exclusive
    base offsets), and NTILE's SQL-standard ceil-division split is
    re-derived from (rank, group count) in pure integer math:

        q = n DIV 10, rem = n MOD 10
        rank ≤ rem·(q+1)  →  decile = (rank-1) DIV (q+1) + 1
        else              →  decile = rem + (rank - rem·(q+1) - 1) DIV q + 1

    (first ``rem`` buckets hold ⌈n/10⌉ rows, the rest ⌊n/10⌋ — exactly
    NTILE, so the oracle keeps the plain-window formulation).  All
    integer ops — bit-exact on both engines.  tests/test_plan_shapes.py
    pins the range exchange (no 3-value hashpartitioning sort)."""
    from ..functions.curation import two_phase_group_rank

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    ranked = two_phase_group_rank(
        li,
        ["l_returnflag"],
        [F.col("l_extendedprice"), F.col("l_orderkey"), F.col("l_linenumber")],
        "_x_rnk",
        count_column="_x_n",
    )
    # integer DIV spelled as expr so no float division sneaks in
    decile = F.expr(
        "CAST(CASE WHEN _x_rnk <= (_x_n % 10) * ((_x_n DIV 10) + 1) "
        "THEN (_x_rnk - 1) DIV ((_x_n DIV 10) + 1) + 1 "
        "ELSE (_x_n % 10) + (_x_rnk - (_x_n % 10) * ((_x_n DIV 10) + 1) - 1) "
        "DIV (_x_n DIV 10) + 1 END AS INTEGER)"
    )
    return ranked.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        decile.alias("decile"),
    )


QUANTILE_BINS_SQL = """
SELECT l_orderkey, l_linenumber, l_returnflag,
       CAST(NTILE(10) OVER (PARTITION BY l_returnflag
            ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS INTEGER) AS decile
FROM lineitem
"""


def q_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group quantiles (p25/p50/p75/p90 of l_extendedprice
    within each return flag) — discrete quantiles: the value at rank
    ⌈q·n⌉ in the fully-determined order (value, orderkey, linenumber).
    Reuses quantile_bins' two-phase grouped prefix rank (range
    exchange, pid-local sorts — never a 3-value window partition); the
    quantile cut is then a rank-equality filter plus a 3-row pivot.
    Exact and deterministic at any SF — the per-group companion of the
    global quantile sketch, for when a curation gate needs true
    per-source thresholds rather than approximations."""
    from ..functions.curation import two_phase_group_rank

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    ranked = two_phase_group_rank(
        li,
        ["l_returnflag"],
        [F.col("l_extendedprice"), F.col("l_orderkey"), F.col("l_linenumber")],
        "_x_rnk",
        count_column="_x_n",
    )
    qs = {"p25": 25, "p50": 50, "p75": 75, "p90": 90}
    # rank ⌈q·n⌉ in pure integer math: (n·pct + 99) DIV 100
    conds = [
        F.max(
            F.when(
                F.expr(f"_x_rnk = (_x_n * {pct} + 99) DIV 100"),
                F.col("l_extendedprice"),
            )
        ).alias(name)
        for name, pct in qs.items()
    ]
    return ranked.groupBy("l_returnflag").agg(*conds)


GROUPED_QUANTILES_SQL = """
WITH r AS (
  SELECT l_returnflag, l_extendedprice,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
             ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rnk,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem)
SELECT l_returnflag,
       MAX(CASE WHEN rnk = (n * 25 + 99) // 100 THEN l_extendedprice END) AS p25,
       MAX(CASE WHEN rnk = (n * 50 + 99) // 100 THEN l_extendedprice END) AS p50,
       MAX(CASE WHEN rnk = (n * 75 + 99) // 100 THEN l_extendedprice END) AS p75,
       MAX(CASE WHEN rnk = (n * 90 + 99) // 100 THEN l_extendedprice END) AS p90
FROM r GROUP BY l_returnflag
"""


def q_cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence over the event stream: for every
    unordered event-type pair (a < b), how many users performed both,
    plus the support fraction — association mining's counting core.
    Shape: distinct (user, type) → per-user sorted type set (bounded by
    the type vocabulary, so collect_set cannot blow up) → pairs expand
    as a JVM array expression → one vocabulary²-sized count.  The
    support division is a single double op against a broadcast 1-row
    user count, bit-identical on both engines.  NULL user ids are
    excluded up front: the oracle's equi-self-join and COUNT(DISTINCT)
    skip NULLs, while Spark's groupBy would emit a NULL-key group —
    the explicit filter pins one semantics on both sides."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id", "event_type")
    )
    per_user = (
        ev.distinct()
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_set("event_type")).alias("types"))
    )
    types = F.col("types")
    pair_expr = F.flatten(
        F.transform(
            types,
            lambda a: F.transform(
                F.filter(types, lambda b: b > a),
                lambda b: F.struct(a.alias("type_a"), b.alias("type_b")),
            ),
        )
    )
    n_users = per_user.agg(F.count(F.lit(1)).alias("n_users"))
    return (
        per_user.select(F.explode(pair_expr).alias("p"))
        .groupBy("p.type_a", "p.type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "n_both",
            (F.col("n_both").cast("double") / F.col("n_users").cast("double")).alias(
                "support"
            ),
        )
    )


COOCCURRENCE_SQL = """
WITH d AS (SELECT DISTINCT user_id, event_type FROM events),
n AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM d)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       COUNT(*) AS n_both,
       CAST(COUNT(*) AS DOUBLE) / CAST(n_users AS DOUBLE) AS support
FROM d a JOIN d b ON a.user_id = b.user_id AND a.event_type < b.event_type
CROSS JOIN n
GROUP BY a.event_type, b.event_type, n_users
"""


def q_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/IQR robust scaling of l_extendedprice per return flag —
    the outlier-insensitive feature-normalization primitive ((x - med)
    / (q3 - q1); z-scores live in functions/profile.py outlier_flags).
    Exact interpolated percentiles (PERCENTILE_CONT semantics, the same
    primitive q_percentile pins) reduce to ONE 3-row stats frame that
    broadcasts back onto the fact scan — no second wide shuffle, no
    row-side sort.  NULLIF guards the degenerate zero-IQR group
    identically on both engines."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    # one percentile buffer for all three cut points (a 3-element array
    # aggregate), not three independent sort buffers per group
    qs = F.percentile("l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    stats = li.groupBy("l_returnflag").agg(
        F.element_at(qs, 2).alias("med"),
        F.element_at(qs, 1).alias("q1"),
        F.element_at(qs, 3).alias("q3"),
    )
    scaled = (F.col("l_extendedprice") - F.col("med")) / F.nullif(
        F.col("q3") - F.col("q1"), F.lit(0.0)
    )
    return li.join(F.broadcast(stats), "l_returnflag").select(
        "l_orderkey", "l_linenumber", "l_returnflag", scaled.alias("scaled_price")
    )


ROBUST_SCALE_SQL = """
SELECT l_orderkey, l_linenumber, l_returnflag,
       (l_extendedprice - med) / NULLIF(q3 - q1, 0.0) AS scaled_price
FROM lineitem
JOIN (SELECT l_returnflag AS rf,
             quantile_cont(l_extendedprice, 0.5)  AS med,
             quantile_cont(l_extendedprice, 0.25) AS q1,
             quantile_cont(l_extendedprice, 0.75) AS q3
      FROM lineitem GROUP BY l_returnflag) s
  ON l_returnflag = s.rf
"""


def q_window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-frame window: 3-order moving average of o_totalprice per
    customer in (date, key) order.  One shuffle on the partition key;
    the frame is evaluated in a single sorted pass per partition."""
    df = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    out = apply_operations(df, [
        WindowOperation(
            function="avg",
            partition_by=["o_custkey"],
            order_by=["o_orderdate", "o_orderkey"],
            value_column="o_totalprice",
            frame=[-2, 0],
            output_column="moving_avg_price",
        ),
    ], spark)
    return out.select("o_orderkey", "o_custkey", "moving_avg_price")


WINDOW_MOVING_AVG_SQL = """
SELECT o_orderkey, o_custkey,
       AVG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg_price
FROM orders
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts by retail price within each brand: rank with a
    window, then filter the rank column — the distributed top-k-per-
    group idiom (no per-group collect; one shuffle on the group key)."""
    df = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_retailprice")
    return apply_operations(df, [
        WindowOperation(
            function="row_number",
            partition_by=["p_brand"],
            order_by=["p_retailprice", "p_partkey"],
            descending=[True, False],
            output_column="rk",
        ),
        FilterOperation(input_column="rk", operator="<=", value=3),
    ], spark)


TOPK_PER_GROUP_SQL = """
SELECT p_partkey, p_brand, p_retailprice, rk
FROM (SELECT p_partkey, p_brand, p_retailprice,
             ROW_NUMBER() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey) AS rk
      FROM part)
WHERE rk <= 3
"""


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-family aggregates per return flag: HLL++ approximate
    distinct counts and a KLL-style approximate median — the 100 TB
    paths (one pass, fixed memory per group, partial sketches merged
    across executors; exact count_distinct re-shuffles every distinct
    value and exact percentile sorts per group).  Estimates are
    engine-specific, so this query takes the driver's rows-only check
    (no DuckDB oracle)."""
    return apply_operations(_t(spark, sf_dir, "lineitem"), [
        AggregationOperation(
            group_by=["l_returnflag"],
            aggregations={
                "approx_parts": {"column": "l_partkey", "agg": "approx_count_distinct", "rsd": "0.02"},
                "approx_suppliers": {
                    "column": "l_suppkey",
                    "agg": "approx_count_distinct",
                    "rsd": "0.02",
                },
                "approx_median_qty": {"column": "l_quantity", "agg": "approx_percentile", "p": "0.5"},
                "n_rows": {"column": "*", "agg": "count"},
            },
        ),
    ], spark).select(
        "l_returnflag", "approx_parts", "approx_suppliers", "approx_median_qty", "n_rows"
    )


def q_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) companion to q_approx_distinct: the same
    cardinalities the sketch estimates, hash-checkable against the
    oracle (sketch estimates are engine-specific; exact counts are
    not).  Spark plans multi-distinct via Expand — one shuffle per
    distinct column set, each a plain (group, value) re-aggregation.
    This is the CORRECTNESS tier of the distinct-count capability; at
    100 TB the per-group distinct re-shuffle is exactly why the sketch
    variant (q_approx_distinct) stays the recommended scale path."""
    return apply_operations(_t(spark, sf_dir, "lineitem"), [
        AggregationOperation(
            group_by=["l_returnflag"],
            aggregations={
                "n_parts": {"column": "l_partkey", "agg": "count_distinct"},
                "n_suppliers": {"column": "l_suppkey", "agg": "count_distinct"},
                "n_rows": {"column": "*", "agg": "count"},
            },
        ),
    ], spark).select("l_returnflag", "n_parts", "n_suppliers", "n_rows")


EXACT_DISTINCT_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog (functions/sketch.py) — the
    EXACTLY-ORACLE-CHECKABLE sketch tier between q_approx_distinct
    (engine-native HLL, rows-only) and q_exact_distinct: md5-bucketed
    registers, integer register sums, and a plan-embedded
    linear-counting table, so the estimate itself hash-matches DuckDB
    bit for bit.  Two legs exercise BOTH estimator branches: lineitem
    order keys (~11k distinct ≫ m, raw alpha·m²/Σ2^-reg path) and
    event users (≪ 2.5·m, linear-counting path).  Scale shape: the
    full key set never shuffles — partial MAX per (group, bucket)
    map-side, ≤ m register rows per group afterward."""
    from ..functions.sketch import hll_distinct

    li = hll_distinct(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", ["l_returnflag"], p=8
    ).select(
        F.lit("lineitem_orders").alias("leg"),
        F.col("l_returnflag").alias("grp"),
        "n_buckets_used",
        "hll_est",
    )
    ev = hll_distinct(
        _t(spark, sf_dir, "events"), "user_id", ["event_type"], p=8
    ).select(
        F.lit("event_users").alias("leg"),
        F.col("event_type").alias("grp"),
        "n_buckets_used",
        "hll_est",
    )
    return li.unionByName(ev)


def _hll_distinct_oracle() -> str:
    from ..functions.sketch import hll_oracle_sql

    li = hll_oracle_sql(
        table="lineitem", key_col="l_orderkey", group_cols=["l_returnflag"], p=8
    )
    ev = hll_oracle_sql(
        table="events", key_col="user_id", group_cols=["event_type"], p=8
    )
    return (
        "SELECT 'lineitem_orders' AS leg, l_returnflag AS grp, n_buckets_used, hll_est "
        f"FROM ({li}) UNION ALL "
        "SELECT 'event_users' AS leg, event_type AS grp, n_buckets_used, hll_est "
        f"FROM ({ev})"
    )


HLL_DISTINCT_SQL = _hll_distinct_oracle()


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic count-min sketch (functions/cms.py) — bounded-
    state frequency estimation, the point-query sibling of
    hll_distinct: d·w integer counters built in ONE shuffle with
    map-side partial sums (the full key set never shuffles), probed by
    broadcast join.  The probe set (user_id % 17 = 0) is compared
    against the exact per-key count in the same row — count-min never
    underestimates, so ``est_count >= true_count`` always, and both
    columns (overestimates included — deterministic md5 buckets)
    hash-match the generated oracle."""
    from ..functions.cms import cms_build, cms_estimate

    ev = _t(spark, sf_dir, "events").select("user_id")
    counters = cms_build(ev, "user_id", w=1024, d=3)
    probes = ev.where(F.col("user_id") % 17 == 0).distinct()
    est = cms_estimate(probes, counters, "user_id", w=1024, d=3)
    true_counts = (
        ev.where(F.col("user_id") % 17 == 0)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    return est.join(true_counts, "user_id").select(
        "user_id", "est_count", "true_count"
    )


def _cms_counts_oracle() -> str:
    from ..functions.cms import cms_oracle_sql

    est = cms_oracle_sql(
        table="events",
        key_col="user_id",
        probe_sql="SELECT DISTINCT user_id FROM events "
        "WHERE user_id % 17 = 0 AND user_id IS NOT NULL",
        w=1024,
        d=3,
    )
    return (
        f"SELECT e.user_id, e.est_count, t.true_count FROM ({est}) e "
        "JOIN (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_count "
        "FROM events WHERE user_id % 17 = 0 GROUP BY 1) t "
        "ON e.user_id = t.user_id"
    )


CMS_COUNTS_SQL = _cms_counts_oracle()


def q_hll_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted mergeable-register store end-to-end (functions/
    sketch.py build_hll_store + hll_from_store): the events table
    splits into two ingest batches (event_id parity), batch A's HLL
    registers are WRITTEN to parquet, batch B's are APPENDED, and the
    estimate is served from the store with a read-time re-MAX — the
    production layout that replaces re-scanning the corpus per
    distinct-count refresh.  The oracle is the plain single-pass HLL
    over the UNSPLIT table: MAX-merge is associative/commutative/
    idempotent over deterministic md5 registers, so batch boundaries
    and the parquet round trip are provably lossless — the estimate
    hash-matches bit for bit."""
    from ..functions.sketch import build_hll_store, hll_from_store
    from .harness_queries import _scratch_dir

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    store = _scratch_dir("ela_hll_store", sf_dir)
    build_hll_store(
        ev.where(F.coalesce(F.col("event_id") % 2, F.lit(0)) == 0), store, "user_id", ["event_type"], p=8
    )
    build_hll_store(
        ev.where(F.coalesce(F.col("event_id") % 2, F.lit(0)) != 0), store, "user_id", ["event_type"],
        p=8, mode="append",
    )
    return hll_from_store(spark, store, ["event_type"], p=8).select(
        "event_type", "n_buckets_used", "hll_est"
    )


def _hll_store_oracle() -> str:
    from ..functions.sketch import hll_oracle_sql

    return hll_oracle_sql(
        table="events", key_col="user_id", group_cols=["event_type"], p=8
    )


HLL_STORE_SQL = _hll_store_oracle()


def q_cms_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted count-min counter store (functions/cms.py
    build_cms_store + cms_from_store) — the frequency sibling of
    hll_store: batch A's d·w counter table written to parquet, batch
    B's appended, the merged sketch served with a read-time re-SUM and
    probed for the user_id % 17 == 0 keys.  SUM-merge over
    deterministic md5 buckets equals the single-pass build over the
    unsplit table exactly (associative integer addition), so estimates
    — overestimates included — hash-match the plain cms oracle."""
    from ..functions.cms import build_cms_store, cms_estimate, cms_from_store
    from .harness_queries import _scratch_dir

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    store = _scratch_dir("ela_cms_store", sf_dir)
    build_cms_store(ev.where(F.coalesce(F.col("event_id") % 2, F.lit(0)) == 0), store, "user_id", w=1024, d=3)
    build_cms_store(
        ev.where(F.coalesce(F.col("event_id") % 2, F.lit(0)) != 0), store, "user_id",
        w=1024, d=3, mode="append",
    )
    counters = cms_from_store(spark, store, w=1024, d=3)
    probes = ev.where(F.col("user_id") % 17 == 0).select("user_id").distinct()
    return cms_estimate(probes, counters, "user_id", w=1024, d=3)


def _cms_store_oracle() -> str:
    from ..functions.cms import cms_oracle_sql

    return cms_oracle_sql(
        table="events",
        key_col="user_id",
        probe_sql="SELECT DISTINCT user_id FROM events "
        "WHERE user_id % 17 = 0 AND user_id IS NOT NULL",
        w=1024,
        d=3,
    )


CMS_STORE_SQL = _cms_store_oracle()


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mergeable quantile sketch (functions/quantile.py)
    — the bounded-state sibling of q_percentile's exact
    PERCENTILE_CONT: per event type, the KMV bottom-k hash-sample
    (k=256) estimates the 0.5/0.9/0.99 value quantiles.  The estimate
    is a sample MEMBER picked by exact integer rank math — no value
    arithmetic, no interpolation, no RNG — so the whole sketch
    hash-matches the generated DuckDB oracle bit for bit (the reason
    this construction was chosen over KLL/t-digest, whose coin flips
    and interpolation can never agree across engines).  Scale shape:
    one narrow (group, hash, value) shuffle for the bottom-k window,
    then everything runs on ≤ k·|groups| rows."""
    from ..functions.quantile import quantile_sketch

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return quantile_sketch(
        ev, "value", "event_id", ["event_type"], [0.5, 0.9, 0.99], k=256
    )


def _quantile_sketch_oracle() -> str:
    from ..functions.quantile import qsketch_oracle_sql

    return qsketch_oracle_sql(
        table="events", value_col="value", id_col="event_id",
        group_cols=["event_type"], qs=[0.5, 0.9, 0.99], k=256,
    )


QUANTILE_SKETCH_SQL = _quantile_sketch_oracle()


def q_qsketch_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted quantile-sample store (functions/quantile.py
    build_qsketch_store + qsketch_from_store) — the quantile leg of
    the sketch-store family (hll_store, cms_store): batch A's bottom-k
    sample written to parquet, batch B's appended, the union
    re-selected at read time and served.  KMV mergeability —
    bottomk(A∪B) = bottomk(bottomk(A)∪bottomk(B)) — makes the
    append-merge EXACTLY the single-pass sketch, so the estimates
    hash-match the plain quantile_sketch oracle over the unsplit
    table, proving the parquet round trip and the batch split
    lossless."""
    from ..functions.quantile import build_qsketch_store, qsketch_estimate, qsketch_from_store
    from .harness_queries import _scratch_dir

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    store = _scratch_dir("ela_qsketch_store", sf_dir)
    build_qsketch_store(
        ev.where(F.coalesce(F.col("event_id") % 2, F.lit(0)) == 0), store, "value", "event_id",
        ["event_type"], k=256,
    )
    build_qsketch_store(
        ev.where(F.coalesce(F.col("event_id") % 2, F.lit(0)) != 0), store, "value", "event_id",
        ["event_type"], k=256, mode="append",
    )
    merged = qsketch_from_store(spark, store, ["event_type"], k=256)
    return qsketch_estimate(merged, ["event_type"], [0.5, 0.9, 0.99])


QSKETCH_STORE_SQL = QUANTILE_SKETCH_SQL


def q_qsketch_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile sketch's map-side hash prefilter, oracle-proven
    equivalent to the unfiltered build (functions/quantile.py
    _prefilter_threshold): min_group_rows=1900 asserts a lower bound
    every event_type group satisfies at sf >= 0.01 (smallest group:
    1981 rows at sf0.01), so qsketch_build keeps only hashes below
    ceil(2^60·8k/1900) — ~27% of the hash space — BEFORE the bottom-k
    shuffle, and the kept bottom-k is unchanged with failure
    probability <= exp(-2.4k) (Chernoff; k=64 survivors expected ~534
    per group).  Hash-matching the same UNFILTERED oracle as
    quantile_sketch is the proof the filter is lossless when the bound
    holds — the scale story (a ~R/8k shuffle cut at 100 TB) as a
    tested fact rather than a docstring claim.  NOTE: the bound does
    NOT hold at sf0.001 (188-row groups) — this query is defined for
    sf >= 0.01, where every gate that collects it runs."""
    from ..functions.quantile import quantile_sketch

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return quantile_sketch(
        ev, "value", "event_id", ["event_type"], [0.5, 0.9, 0.99],
        k=64, min_group_rows=1900,
    )


def _qsketch_prefilter_oracle() -> str:
    from ..functions.quantile import qsketch_oracle_sql

    # deliberately the unfiltered mirror (qsketch_oracle_sql has no
    # min_group_rows by design) — equality IS the lossless-filter claim
    return qsketch_oracle_sql(
        table="events", value_col="value", id_col="event_id",
        group_cols=["event_type"], qs=[0.5, 0.9, 0.99], k=64,
    )


QSKETCH_PREFILTER_SQL = _qsketch_prefilter_oracle()


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k distinct estimates (functions/kmv.py) — the
    theta-sketch leg of the sketch family: per event type, the 64
    smallest distinct user-id hashes estimate the distinct-user count
    via pure integer math (T DIV h_k with T precomputed in Python;
    exact count when the set is smaller than k).  One narrow
    (set, hash) distinct + bottom-k window; the full key set never
    shuffles."""
    from ..functions.kmv import kmv_cardinality, kmv_sample

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    return kmv_cardinality(
        kmv_sample(ev, "user_id", "event_type", k=64), "event_type", k=64
    )


def _kmv_distinct_oracle() -> str:
    from ..functions.kmv import kmv_cardinality_oracle_sql

    return kmv_cardinality_oracle_sql(
        source_sql="SELECT user_id, event_type FROM events",
        key_col="user_id",
        set_col="event_type",
        k=64,
    )


KMV_DISTINCT_SQL = _kmv_distinct_oracle()


def q_kmv_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise SET-OPERATION estimates from KMV samples
    (functions/kmv.py kmv_set_ops): for every unordered pair of event
    types, estimated union and intersection cardinalities of their
    user sets plus the sample Jaccard — audience-overlap / source-
    overlap analytics WITHOUT shuffling full key sets (the exact
    companion diagnostics are set_intersect / source_overlap).  The
    merged-sample union estimate is valid because bottomk(A∪B) =
    bottomk(bottomk(A)∪bottomk(B)); everything pairwise runs on
    ≤ |sets|·k sample rows.  Integer estimators throughout; the one
    double is the jaccard ratio (single IEEE division)."""
    from ..functions.kmv import kmv_sample, kmv_set_ops

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    return kmv_set_ops(
        kmv_sample(ev, "user_id", "event_type", k=64), "event_type", k=64
    )


def _kmv_set_overlap_oracle() -> str:
    from ..functions.kmv import kmv_set_ops_oracle_sql

    return kmv_set_ops_oracle_sql(
        source_sql="SELECT user_id, event_type FROM events",
        key_col="user_id",
        set_col="event_type",
        k=64,
    )


KMV_SET_OVERLAP_SQL = _kmv_set_overlap_oracle()


def q_kmv_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted KMV sample store (functions/kmv.py build_kmv_store +
    kmv_from_store): batch A's per-set bottom-k hash sample written to
    parquet, batch B's appended, the union re-selected at read time
    and fed to the cardinality estimator.  bottomk(A∪B) =
    bottomk(bottomk(A)∪bottomk(B)) makes the append-merge EXACTLY the
    single-pass sample, so this hash-matches the kmv_distinct oracle
    over the unsplit table — and unlike the quantile store, duplicate
    appends collapse in the merge's DISTINCT (at-least-once safe)."""
    from ..functions.kmv import build_kmv_store, kmv_cardinality, kmv_from_store
    from .harness_queries import _scratch_dir

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "event_id")
    store = _scratch_dir("ela_kmv_store", sf_dir)
    build_kmv_store(
        ev.where(F.coalesce(F.col("event_id") % 2, F.lit(0)) == 0), store, "user_id", "event_type", k=64
    )
    build_kmv_store(
        ev.where(F.coalesce(F.col("event_id") % 2, F.lit(0)) != 0), store, "user_id", "event_type",
        k=64, mode="append",
    )
    merged = kmv_from_store(spark, store, "event_type", k=64)
    return kmv_cardinality(merged, "event_type", k=64)


KMV_STORE_SQL = KMV_DISTINCT_SQL


def q_rollup_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted continuous-aggregate store (functions/rollup.py —
    the hypertable/TimescaleDB continuous-aggregate pattern): batch
    A's per-(event_type, hour) partials written to parquet, batch B's
    appended, the union re-merged at read time and served.  Integer
    quantized sums (FLOOR(value·2^20), BIGINT) and MIN/MAX extrema
    make the SUM/MIN/MAX merge EXACTLY the single-pass rollup, so this
    hash-matches a plain one-pass GROUP BY oracle over the unsplit
    table — the incremental-refresh claim as a tested fact.  Refresh
    cost at 100 TB: one scan of the new batch plus bounded store rows;
    serving never re-scans history."""
    from ..functions.rollup import build_rollup_store, rollup_from_store, rollup_serve
    from .harness_queries import _scratch_dir

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    store = _scratch_dir("ela_rollup_store", sf_dir)
    build_rollup_store(
        ev.where(F.coalesce(F.col("event_id") % 2, F.lit(0)) == 0), store, "ts", "value", ["event_type"]
    )
    build_rollup_store(
        ev.where(F.coalesce(F.col("event_id") % 2, F.lit(0)) != 0), store, "ts", "value", ["event_type"],
        mode="append",
    )
    merged = rollup_from_store(
        spark, store, ["event_type"], group_schema="event_type string"
    )
    return rollup_serve(merged, ["event_type"])


def _rollup_store_oracle() -> str:
    from ..functions.rollup import rollup_oracle_sql

    return rollup_oracle_sql(
        table="events", ts_col="ts", value_col="value", group_cols=["event_type"]
    )


ROLLUP_STORE_SQL = _rollup_store_oracle()


def q_spike_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-spike detection served from rollup state
    (functions/rollup.py rollup_spikes): every (event_type, hour)
    whose event count reaches 2× the type's mean hourly count.  The
    flag is a cross-multiplied integer inequality (no division, no
    rounding ties); the reported ratio is one IEEE division of exact
    integer products.  Per-group stats broadcast (≤ |groups| rows), so
    at 100 TB the whole detection runs map-side over the bounded
    rollup state — raw events are touched exactly once, by the rollup
    build itself."""
    from ..functions.rollup import rollup_build, rollup_spikes

    # a fresh build IS already merged (one row per group+bucket) — no
    # rollup_merge pass, which would re-shuffle the same keys for
    # nothing; store-served callers spike on rollup_from_store output
    ev = _t(spark, sf_dir, "events").select("ts", "event_type", "value")
    hourly = rollup_build(ev, "ts", "value", ["event_type"])
    return rollup_spikes(hourly, ["event_type"], factor_num=2)


def _spike_buckets_oracle() -> str:
    from ..functions.rollup import rollup_spikes_oracle_sql

    return rollup_spikes_oracle_sql(
        table="events", ts_col="ts", value_col="value",
        group_cols=["event_type"], factor_num=2,
    )


SPIKE_BUCKETS_SQL = _spike_buckets_oracle()


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters with a lossless CMS prefilter
    (functions/cms.py cms_heavy_hitters): every (user, event_type)
    pair with >= 20 events, where rows of pairs that CANNOT qualify
    are dropped map-side by LEAST-of-element_at lookups into the
    plan-embedded d·w counter table — never reaching the exact
    GROUP BY's shuffle.  The oracle is the sketch-free one-pass
    GROUP BY .. HAVING: hash-equality proves the prefilter lossless
    (count-min never underestimates), the same tested-fact contract
    as qsketch_prefilter.  At 100 TB the final shuffle carries only
    heavy pairs + collision stragglers; the sketch pass shuffles
    <= d·w integer rows regardless of input size."""
    from ..functions.cms import cms_heavy_hitters

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    return cms_heavy_hitters(
        ev, ["user_id", "event_type"], threshold=20, w=256, d=3
    )


def _heavy_hitters_oracle() -> str:
    from ..functions.cms import heavy_hitters_oracle_sql

    return heavy_hitters_oracle_sql(
        table="events", group_cols=["user_id", "event_type"], threshold=20
    )


HEAVY_HITTERS_SQL = _heavy_hitters_oracle()


def q_rollup_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity serving from ONE store: the DAY-grain rollup
    re-bucketed out of the HOUR-grain partials (functions/rollup.py
    rollup_coarsen — FLOOR(hour_bucket / 24), re-merge) without
    touching raw data.  Hash-matching a direct single-pass day-grain
    oracle proves the floor-division composition and the second merge
    are both lossless — the "one store, every coarser grain" serving
    story of a hypertable, free at any scale because it runs on
    ≤ |groups|·|hours| partial rows."""
    from ..functions.rollup import rollup_build, rollup_coarsen, rollup_serve

    ev = _t(spark, sf_dir, "events").select("ts", "event_type", "value")
    hourly = rollup_build(ev, "ts", "value", ["event_type"])
    daily = rollup_coarsen(hourly, ["event_type"], factor=24)
    return rollup_serve(daily, ["event_type"])


def _rollup_day_oracle() -> str:
    from ..functions.rollup import rollup_oracle_sql

    return rollup_oracle_sql(
        table="events", ts_col="ts", value_col="value",
        group_cols=["event_type"], coarsen_factor=24,
    )


ROLLUP_DAY_SQL = _rollup_day_oracle()


def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set op: nations that have BUILDING-segment customers
    AND a high-balance supplier.  Compiles to a distinct + left-semi
    hash join — the small distinct sides make both shuffles tiny
    regardless of input scale."""
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 8000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    op = UnionOperation(right_input="supplier", mode="intersect")
    return apply_operations(cust, [op], spark, {"supplier": supp})


SET_INTERSECT_SQL = """
SELECT c_nationkey AS nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 8000
"""


def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set op: customer nations with NO high-balance supplier."""
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 8000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    op = UnionOperation(right_input="supplier", mode="except")
    return apply_operations(cust, [op], spark, {"supplier": supp})


SET_EXCEPT_SQL = """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 8000
"""


def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency via explode: split each document on whitespace,
    explode to one row per token, count, top 20.  The explode happens
    map-side (generate, no shuffle); only the per-token partial counts
    shuffle — the canonical vocabulary-building pass over a corpus."""
    docs = _t(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    return apply_operations(tokens, [
        AggregationOperation(
            group_by=["token"],
            aggregations={"n_occurrences": {"column": "*", "agg": "count"}},
        ),
        SortOperation(columns=["n_occurrences", "token"], descending=[True, False]),
        LimitOperation(n=20),
    ], spark)


EXPLODE_TOKENS_SQL = f"""
SELECT token, COUNT(*) AS n_occurrences
FROM (SELECT unnest({_text_toks_sql("text")}) AS token FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 20
"""


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment from md5(doc_id) —
    engine-independent, partitioning-independent, stable as the corpus
    grows (rows keep their split when data is appended; a seeded
    sample() cannot promise that).  Output: per-split doc counts and
    total characters."""
    docs = with_split_assign(_t(spark, sf_dir, "documents"), key_col="doc_id")
    return apply_operations(docs, [
        AggregationOperation(
            group_by=["split"],
            aggregations={
                "n_docs": {"column": "*", "agg": "count"},
                "sum_chars": {"column": "n_chars", "agg": "sum"},
            },
        ),
    ], spark)


DATASET_SPLIT_SQL = f"""
SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM (SELECT n_chars, {split_assign_oracle_sql("doc_id")} FROM documents)
GROUP BY split
"""


def q_bind_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key equi-join (engine extension — the reference joins on
    ONE key): per-(order, returnflag) quantity totals joined back to
    the line level on BOTH keys.  The aggregate and the join share the
    same key set, so with co-partitioned input the second shuffle
    disappears; here AQE plans the join-back as broadcast because the
    aggregated side is small."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_linenumber", "l_quantity"
    )
    grp = apply_operations(li.withColumn("qty_dec", F.col("l_quantity").cast("decimal(18,2)")), [
        AggregationOperation(
            group_by=["l_orderkey", "l_returnflag"],
            aggregations={"grp_qty_dec": {"column": "qty_dec", "agg": "sum"}},
        ),
    ], spark).select(
        "l_orderkey", "l_returnflag", F.col("grp_qty_dec").cast("double").alias("grp_qty")
    )
    out = apply_operations(li, [
        BindOperation(
            right_file_path="grp",
            left_on=["l_orderkey", "l_returnflag"],
            right_on=["l_orderkey", "l_returnflag"],
            how="inner",
            columns_to_add=["grp_qty"],
        ),
    ], spark, {"grp": grp})
    return out.select("l_orderkey", "l_returnflag", "l_linenumber", "l_quantity", "grp_qty")


BIND_MULTIKEY_SQL = """
SELECT l.l_orderkey, l.l_returnflag, l.l_linenumber, l.l_quantity, g.grp_qty
FROM lineitem l
JOIN (SELECT l_orderkey, l_returnflag,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS grp_qty
      FROM lineitem GROUP BY l_orderkey, l_returnflag) g
  ON l.l_orderkey = g.l_orderkey AND l.l_returnflag = g.l_returnflag
"""


def q_bind_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join, oracle-checked against the PLAIN join SQL —
    proving salting changes the shuffle layout, never the result.  The
    left side gets a pseudo-random salt, the right side replicates 8×,
    and the hot key's rows spread over 8 shuffle partitions instead of
    one straggler."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    # an unhinted in-memory frame: bind adds no broadcast, so it salts
    orders = _t(spark, sf_dir, "orders")
    out = apply_operations(li, [
        BindOperation(
            right_file_path="orders",
            left_on="l_orderkey",
            right_on="o_orderkey",
            how="inner",
            columns_to_add=["o_orderpriority"],
            skew_salt=8,
        ),
    ], spark, {"orders": orders})
    agg = apply_operations(out.withColumn("qty_dec", F.col("l_quantity").cast("decimal(18,2)")), [
        AggregationOperation(
            group_by=["o_orderpriority"],
            aggregations={
                "sum_qty_dec": {"column": "qty_dec", "agg": "sum"},
                "n_lines": {"column": "*", "agg": "count"},
            },
        ),
    ], spark)
    return agg.select(
        "o_orderpriority", F.col("sum_qty_dec").cast("double").alias("sum_qty"), "n_lines"
    )


BIND_SALTED_SQL = """
SELECT o_orderpriority,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_lines
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o_orderpriority
"""


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-based (RANGE) window frame: per-user trailing-1-hour sum of
    event values, ordered by epoch seconds.  Unlike a rows frame, the
    window extends by the ORDER-BY value — the time-series rolling
    aggregate shape.  One shuffle on user_id; decimal accumulation keeps
    the sum order-independent."""
    from ..streaming import read_event_table

    df = read_event_table(spark, f"{sf_dir}/events.parquet").select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("ts_epoch"),
        F.col("value").cast("decimal(18,6)").alias("val_dec"),
    )
    out = apply_operations(df, [
        WindowOperation(
            function="sum",
            partition_by=["user_id"],
            order_by=["ts_epoch"],
            value_column="val_dec",
            frame=[-3600, 0],
            frame_type="range",
            output_column="trailing_hour_dec",
        ),
    ], spark)
    return out.select(
        "event_id",
        "user_id",
        "ts_epoch",
        F.col("trailing_hour_dec").cast("double").alias("trailing_hour_sum"),
    )


WINDOW_RANGE_FRAME_SQL = """
SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6)))
            OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS trailing_hour_sum
FROM events
"""


def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-distribution window functions: percent_rank and cume_dist
    of retail price within each brand — purely rank-based, so results
    are exact across engines (no FP accumulation)."""
    df = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_retailprice")
    out = apply_operations(df, [
        WindowOperation(
            function="percent_rank",
            partition_by=["p_brand"],
            order_by=["p_retailprice", "p_partkey"],
            output_column="price_pct_rank",
        ),
        WindowOperation(
            function="cume_dist",
            partition_by=["p_brand"],
            order_by=["p_retailprice", "p_partkey"],
            output_column="price_cume_dist",
        ),
    ], spark)
    return out


WINDOW_DISTRIBUTION_SQL = """
SELECT p_partkey, p_brand, p_retailprice,
       PERCENT_RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey) AS price_pct_rank,
       CUME_DIST() OVER (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey) AS price_cume_dist
FROM part
"""


def q_window_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users + event volume: tumbling 1-day windows with an
    EXACT distinct-user count per window — the windowed-cardinality
    pattern (sketch variant: swap count_distinct for
    approx_count_distinct, the same trade q_approx_distinct pins).
    One Expand-based distinct aggregation, shuffled on the day key."""
    ev = _t(spark, sf_dir, "events").select("ts", "user_id")
    return (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


WINDOW_DISTINCT_USERS_SQL = """
SELECT date_trunc('day', ts) AS day,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY date_trunc('day', ts)
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    counted per subsequent activity week — the product-analytics
    retention triangle.  Integer epoch-week arithmetic keeps both
    engines exact; the per-user first-week aggregate is user-cardinality
    sized and re-joins on user_id (broadcastable for bounded user
    tables, shuffle join at scale); retained counts are one distinct
    aggregation on (cohort_week, week)."""
    wk = (F.floor(F.unix_timestamp(F.col("ts")) / F.lit(604800))).cast("long")
    ev = _t(spark, sf_dir, "events").select("user_id", wk.alias("week"))
    cohort = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        ev.join(cohort, "user_id")
        .select("user_id", "cohort_week", (F.col("week") - F.col("cohort_week")).alias("weeks_since"))
        .distinct()
        .groupBy("cohort_week", "weeks_since")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


COHORT_RETENTION_SQL = """
WITH ev AS (SELECT user_id,
                   CAST(FLOOR(epoch(ts) / 604800) AS BIGINT) AS week
            FROM events),
cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id)
SELECT cohort_week, week - cohort_week AS weeks_since,
       COUNT(DISTINCT ev.user_id) AS n_users
FROM ev JOIN cohort ON ev.user_id = cohort.user_id
GROUP BY cohort_week, week - cohort_week
"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event funnel: users whose first 'view' is followed by a
    'purchase' within one hour, with the conversion latency.  Two
    grouped aggregations + one join — no per-user collect, no
    cross-event explosion; the event-sequence shape behind retention /
    conversion metrics at 100 TB of events."""
    from ..streaming import read_event_table

    ev = read_event_table(spark, f"{sf_dir}/events.parquet").select(
        "user_id", "event_type", F.col("ts").cast("long").alias("epoch")
    )
    first_view = apply_operations(ev, [
        FilterOperation(input_column="event_type", operator="==", value="view"),
        AggregationOperation(
            group_by=["user_id"], aggregations={"view_epoch": {"column": "epoch", "agg": "min"}}
        ),
    ], spark)
    joined = apply_operations(ev, [
        FilterOperation(input_column="event_type", operator="==", value="purchase"),
        BindOperation(
            right_file_path="first_view",
            left_on="user_id",
            right_on="user_id",
            how="inner",
            columns_to_add=["view_epoch"],
        ),
    ], spark, {"first_view": first_view}).filter(F.col("epoch") > F.col("view_epoch"))
    conv = apply_operations(joined, [
        AggregationOperation(
            group_by=["user_id", "view_epoch"],
            aggregations={"purchase_epoch": {"column": "epoch", "agg": "min"}},
        ),
    ], spark).withColumn("latency_s", F.col("purchase_epoch") - F.col("view_epoch"))
    return apply_operations(conv, [
        FilterOperation(input_column="latency_s", operator="<=", value=3600),
    ], spark).select("user_id", "view_epoch", "purchase_epoch", "latency_s")


FUNNEL_SQL = """
SELECT v.user_id, v.view_epoch, MIN(p.epoch) AS purchase_epoch,
       MIN(p.epoch) - v.view_epoch AS latency_s
FROM (SELECT user_id, MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS view_epoch
      FROM events WHERE event_type = 'view' GROUP BY user_id) v
JOIN (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch
      FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id AND p.epoch > v.view_epoch
GROUP BY v.user_id, v.view_epoch
HAVING MIN(p.epoch) - v.view_epoch <= 3600
"""


def q_top_p_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-coverage source selection: the smallest set of
    sources (by doc count, descending) whose documents cover 90 % of
    the corpus — the head-domains view that decides which sources get
    bespoke cleaning rules.  The corpus reduces to ONE grouped count
    (source-cardinality rows); the cumulative window then runs on that
    bounded aggregate, so the single-partition window frame holds only
    |sources| rows — never corpus-sized.  All-integer arithmetic
    (cum*10 < total*9 avoids any float share), so the cut is exact."""
    docs = _t(spark, sf_dir, "documents").select("source")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    # The global window is INTENTIONAL and bounded: it runs on the
    # grouped |sources|-row aggregate, never the corpus (a constant
    # partition key would not help — Catalyst folds foldable partition
    # expressions back to an empty spec, so WindowExec still logs its
    # single-partition warning; session.get_spark raises that logger to
    # ERROR instead, and PLANS.md documents the bounded frame).
    w = Window.orderBy(F.col("n_docs").desc(), F.col("source").asc())
    ranked = counts.select(
        "source",
        "n_docs",
        F.sum("n_docs")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_docs"),
        F.sum("n_docs").over(Window.partitionBy()).alias("_x_total"),
        F.row_number().over(w).cast("long").alias("coverage_rank"),
    )
    return ranked.filter(
        (F.col("cum_docs") - F.col("n_docs")) * 10 < F.col("_x_total") * 9
    ).select("source", "n_docs", "cum_docs", "coverage_rank")


def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event journeys: total event count plus the ordered
    path of the user's first 10 event types joined with '>' — the
    clickstream-path view behind journey mining / Markov attribution.
    collect_list gives NO ordering guarantee, so the path collects
    (rank, type) structs and array_sorts before joining — deterministic
    on any partitioning.  The rank window and the grouped aggregate
    share the user_id partitioning (one shuffle total), and the cap
    bounds per-user state to 10 structs."""
    from ..streaming import read_event_table

    ev = read_event_table(spark, f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("rn") <= 10,
                            F.struct(F.col("rn"), F.col("event_type")),
                        )
                    )
                ),
                lambda s: s.event_type,
            ),
        ).alias("path"),
    )


EVENT_PATHS_SQL = """
WITH r AS (SELECT user_id, event_type,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS rn
           FROM events)
SELECT user_id, COUNT(*) AS n_events,
       string_agg(CASE WHEN rn <= 10 THEN event_type END, '>' ORDER BY rn) AS path
FROM r GROUP BY user_id
"""


TOP_P_SOURCES_SQL = """
WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
r AS (SELECT source, n_docs,
             CAST(SUM(n_docs) OVER (ORDER BY n_docs DESC, source NULLS FIRST
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs,
             CAST(SUM(n_docs) OVER () AS BIGINT) AS total_docs,
             CAST(ROW_NUMBER() OVER (ORDER BY n_docs DESC, source NULLS FIRST) AS BIGINT) AS coverage_rank
      FROM c)
SELECT source, n_docs, cum_docs, coverage_rank
FROM r WHERE (cum_docs - n_docs) * 10 < total_docs * 9
"""


ANALYTICS_QUERIES = {
    "tpch_q2": q_tpch_q2,
    "tpch_q4": q_tpch_q4,
    "tpch_q7": q_tpch_q7,
    "tpch_q10": q_tpch_q10,
    "tpch_q12": q_tpch_q12,
    "tpch_q14": q_tpch_q14,
    "tpch_q18": q_tpch_q18,
    "tpch_q19": q_tpch_q19,
    "tpch_q22": q_tpch_q22,
    "grouping_sets": q_grouping_sets,
    "percentile": q_percentile,
    "stats_moments": q_stats_moments,
    "stats_skew": q_stats_skew,
    "stats_corr": q_stats_corr,
    "ols_fit": q_ols_fit,
    "chi2_independence": q_chi2_independence,
    "gini_sources": q_gini_sources,
    "ab_test": q_ab_test,
    "attribution": q_attribution,
    "rfm_segments": q_rfm_segments,
    "lift_table": q_lift_table,
    "target_encode": q_target_encode,
    "ks_test": q_ks_test,
    "wow_growth": q_wow_growth,
    "growth_accounting": q_growth_accounting,
    "window_moving_avg": q_window_moving_avg,
    "topk_per_group": q_topk_per_group,
    "approx_distinct": q_approx_distinct,
    "exact_distinct": q_exact_distinct,
    "hll_distinct": q_hll_distinct,
    "cms_counts": q_cms_counts,
    "hll_store": q_hll_store,
    "cms_store": q_cms_store,
    "quantile_sketch": q_quantile_sketch,
    "qsketch_store": q_qsketch_store,
    "qsketch_prefilter": q_qsketch_prefilter,
    "kmv_distinct": q_kmv_distinct,
    "kmv_set_overlap": q_kmv_set_overlap,
    "kmv_store": q_kmv_store,
    "rollup_store": q_rollup_store,
    "rollup_day": q_rollup_day,
    "spike_buckets": q_spike_buckets,
    "heavy_hitters": q_heavy_hitters,
    "robust_scale": q_robust_scale,
    "quantile_bins": q_quantile_bins,
    "grouped_quantiles": q_grouped_quantiles,
    "cooccurrence_pairs": q_cooccurrence_pairs,
    "set_intersect": q_set_intersect,
    "set_except": q_set_except,
    "explode_tokens": q_explode_tokens,
    "dataset_split": q_dataset_split,
    "bind_multikey": q_bind_multikey,
    "bind_salted": q_bind_salted,
    "window_range_frame": q_window_range_frame,
    "window_distribution": q_window_distribution,
    "funnel": q_funnel,
    "window_distinct_users": q_window_distinct_users,
    "cohort_retention": q_cohort_retention,
    "top_p_sources": q_top_p_sources,
    "event_paths": q_event_paths,
}

ANALYTICS_ORACLES = {
    "tpch_q2": TPCH_Q2_SQL,
    "tpch_q4": TPCH_Q4_SQL,
    "tpch_q7": TPCH_Q7_SQL,
    "tpch_q10": TPCH_Q10_SQL,
    "tpch_q12": TPCH_Q12_SQL,
    "tpch_q14": TPCH_Q14_SQL,
    "tpch_q18": TPCH_Q18_SQL,
    "tpch_q19": TPCH_Q19_SQL,
    "tpch_q22": TPCH_Q22_SQL,
    "grouping_sets": GROUPING_SETS_SQL,
    "percentile": PERCENTILE_SQL,
    "stats_moments": STATS_MOMENTS_SQL,
    "stats_skew": STATS_SKEW_SQL,
    "stats_corr": STATS_CORR_SQL,
    "ols_fit": OLS_FIT_SQL,
    "chi2_independence": CHI2_INDEPENDENCE_SQL,
    "gini_sources": GINI_SOURCES_SQL,
    "ab_test": AB_TEST_SQL,
    "attribution": ATTRIBUTION_SQL,
    "rfm_segments": RFM_SEGMENTS_SQL,
    "lift_table": LIFT_TABLE_SQL,
    "ks_test": KS_TEST_SQL,
    "wow_growth": WOW_GROWTH_SQL,
    "growth_accounting": GROWTH_ACCOUNTING_SQL,
    "window_moving_avg": WINDOW_MOVING_AVG_SQL,
    "topk_per_group": TOPK_PER_GROUP_SQL,
    "exact_distinct": EXACT_DISTINCT_SQL,
    "hll_distinct": HLL_DISTINCT_SQL,
    "cms_counts": CMS_COUNTS_SQL,
    "hll_store": HLL_STORE_SQL,
    "cms_store": CMS_STORE_SQL,
    "quantile_sketch": QUANTILE_SKETCH_SQL,
    "qsketch_store": QSKETCH_STORE_SQL,
    "qsketch_prefilter": QSKETCH_PREFILTER_SQL,
    "kmv_distinct": KMV_DISTINCT_SQL,
    "kmv_set_overlap": KMV_SET_OVERLAP_SQL,
    "kmv_store": KMV_STORE_SQL,
    "rollup_store": ROLLUP_STORE_SQL,
    "rollup_day": ROLLUP_DAY_SQL,
    "spike_buckets": SPIKE_BUCKETS_SQL,
    "heavy_hitters": HEAVY_HITTERS_SQL,
    "robust_scale": ROBUST_SCALE_SQL,
    "quantile_bins": QUANTILE_BINS_SQL,
    "grouped_quantiles": GROUPED_QUANTILES_SQL,
    "cooccurrence_pairs": COOCCURRENCE_SQL,
    "set_intersect": SET_INTERSECT_SQL,
    "set_except": SET_EXCEPT_SQL,
    "explode_tokens": EXPLODE_TOKENS_SQL,
    "dataset_split": DATASET_SPLIT_SQL,
    "bind_multikey": BIND_MULTIKEY_SQL,
    "bind_salted": BIND_SALTED_SQL,
    "window_range_frame": WINDOW_RANGE_FRAME_SQL,
    "window_distribution": WINDOW_DISTRIBUTION_SQL,
    "funnel": FUNNEL_SQL,
    "window_distinct_users": WINDOW_DISTINCT_USERS_SQL,
    "cohort_retention": COHORT_RETENTION_SQL,
    "top_p_sources": TOP_P_SOURCES_SQL,
    "event_paths": EVENT_PATHS_SQL,
}
