"""Second TPC-H batch — the remaining classic shapes (Q8, Q9, Q11, Q13,
Q15, Q16, Q17, Q20, Q21), adapted to the synthetic star schema (no
``partsupp`` table, no commit/receipt dates — adaptations are noted on
each query).  With these, every TPC-H query family the reference's
operator set can express has a harness entry: conditional market-share
ratios, profit expressions, group-vs-global-scalar HAVING, outer-join
count distributions, argmax-by-scalar, distinct-count relations,
correlated-average decorrelation, nested semi-joins, and the
exists/not-exists waiting-supplier pattern.

Scale notes (the point of each shape at 100 TB):
- Q8/Q9: five/four-way star joins — every dimension broadcasts, the
  fact table never shuffles until the final small group-by.
- Q11: group-HAVING against a global scalar — the scalar re-aggregates
  the per-group shuffle OUTPUT (tiny) instead of rescanning the fact
  table, then broadcasts; zero extra fact-table passes.
- Q13: left-outer fan-join then two cascaded tiny aggregations.
- Q15: argmax via 1-row broadcast of MAX over an aggregated view —
  no window over the whole supplier set, no driver collect.
- Q16: distinct pair counting with an anti-join exclusion list.
- Q17: correlated scalar subquery decorrelated to a per-key aggregate
  joined back on the fact key (one co-partitioned shuffle join).
- Q20: chained semi-join reduction — each hop only narrows.
- Q21: the two EXISTS/NOT EXISTS self-joins collapse into ONE
  per-order aggregate (distinct-supplier counts) joined back — a
  single extra shuffle instead of two fact-table self-joins.

Oracle-compat rules (harness_queries.py): identical aliases both
sides; FP sums accumulate in DECIMAL, cast to DOUBLE at the end;
ratio/threshold math happens on the exact-decimal-derived doubles with
identical operator order in both engines.

Reference provenance: the reference engine (Antix5/OpenETLAgent) has
no TPC-H suite; these exist to prove the operator surface composes
into the full classic analytics catalogue (cf. reference
app/etl_models.py operation taxonomy; joins via bind app/main.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from ..session import materialize
from pyspark.sql import functions as F

from ..model import (
    AggregationOperation,
    BindOperation,
    LimitOperation,
    SortOperation,
)
from ..runner import apply_operations


def _t(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _dec0():
    return F.lit(0).cast("decimal(18,6)")


def _rev_dec(price: str = "l_extendedprice", disc: str = "l_discount"):
    return (F.col(price) * (F.lit(1.0) - F.col(disc))).cast("decimal(18,6)")


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape — national market share: NATION_1's fraction of PROMO
    revenue among EUROPE customers per order year.  Five dimension
    joins, all broadcast; the conditional numerator and the total are
    ONE aggregation pass (sum of CASE + sum), not two scans.  The
    share divides the two exact decimal sums as doubles, so it is
    partition-order independent."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    promo = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    li = li.join(F.broadcast(promo), li.l_partkey == promo.p_partkey).drop("p_partkey")
    li = apply_operations(li, [
        BindOperation(
            right_file_path=f"{sf_dir}/orders.parquet",
            left_on="l_orderkey",
            right_on="o_orderkey",
            how="inner",
            columns_to_add=["o_custkey", "o_orderdate"],
        ),
    ], spark).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31"))
    )
    li = apply_operations(li, [
        BindOperation(
            right_file_path=f"{sf_dir}/customer.parquet",
            left_on="o_custkey",
            right_on="c_custkey",
            how="inner",
            columns_to_add=["c_nationkey"],
        ),
    ], spark)
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cust_nation = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    li = li.join(F.broadcast(cust_nation), li.c_nationkey == F.col("cn_key"))
    supp_nation = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    li = apply_operations(li, [
        BindOperation(
            right_file_path=f"{sf_dir}/supplier.parquet",
            left_on="l_suppkey",
            right_on="s_suppkey",
            how="inner",
            columns_to_add=["s_nationkey"],
        ),
    ], spark).join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
    li = (
        li.withColumn("o_year", F.year(F.col("o_orderdate").cast("date")))
        .withColumn("vol_dec", _rev_dec())
        .withColumn(
            "nat_dec",
            F.when(F.col("supp_nation") == "NATION_1", F.col("vol_dec")).otherwise(_dec0()),
        )
    )
    agg = apply_operations(li, [
        AggregationOperation(
            group_by=["o_year"],
            aggregations={
                "nat_sum": {"column": "nat_dec", "agg": "sum"},
                "all_sum": {"column": "vol_dec", "agg": "sum"},
            },
        ),
    ], spark)
    return agg.select(
        "o_year",
        (F.col("nat_sum").cast("double") / F.col("all_sum").cast("double")).alias("mkt_share"),
        F.col("all_sum").cast("double").alias("total_volume"),
    )


TPCH_Q8_SQL = """
SELECT EXTRACT(YEAR FROM CAST(o.o_orderdate AS DATE)) AS o_year,
       CAST(CAST(SUM(CASE WHEN sn.n_name = 'NATION_1'
                     THEN CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))
                     ELSE CAST(0 AS DECIMAL(18,6)) END) AS VARCHAR) AS DOUBLE)
       / CAST(CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
         AS mkt_share,
       CAST(CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
         AS total_volume
FROM lineitem l
JOIN part p     ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
JOIN region r   ON cn.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
WHERE o.o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY o_year
"""


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape — product-type profit by supplier nation and year.
    Adaptation: no ``partsupp`` table, so supply cost is modeled as
    10% of ``p_retailprice`` per unit (deterministic, documented in
    the oracle too).  The per-row profit is double arithmetic with
    identical association both sides, then an exact decimal sum."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    widget = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("widget"))
        .select("p_partkey", "p_retailprice")
    )
    li = li.join(F.broadcast(widget), li.l_partkey == widget.p_partkey)
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
            columns_to_add=["o_orderdate"],
        ),
    ], spark)
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    li = li.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    li = (
        li.withColumn("o_year", F.year(F.col("o_orderdate").cast("date")))
        .withColumn(
            "amount_dec",
            (
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                - F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1)
            ).cast("decimal(18,6)"),
        )
    )
    agg = apply_operations(li, [
        AggregationOperation(
            group_by=["nation", "o_year"],
            aggregations={"profit_dec": {"column": "amount_dec", "agg": "sum"}},
        ),
    ], spark)
    return agg.select("nation", "o_year", F.col("profit_dec").cast("double").alias("sum_profit"))


TPCH_Q9_SQL = """
SELECT n.n_name AS nation,
       EXTRACT(YEAR FROM CAST(o.o_orderdate AS DATE)) AS o_year,
       CAST(CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                     - p.p_retailprice * l.l_quantity * 0.1 AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
         AS sum_profit
FROM lineitem l
JOIN part p     ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%widget%'
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
GROUP BY nation, o_year
"""


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape — important part values: revenue per part from two
    nations' suppliers, kept when above 0.05% of the global total.
    Adaptation: value comes from lineitem revenue (no partsupp).
    The global scalar is the SUM of the per-part decimal sums —
    re-aggregating the group-by OUTPUT (hundreds of rows), so the
    fact table is scanned once, and the 1-row threshold broadcasts
    back.  Decimal addition is associative, so the two-level sum is
    bit-identical to the oracle's flat subquery sum."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    nations = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
        .select("n_nationkey")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    supp = supp.join(F.broadcast(nations), supp.s_nationkey == nations.n_nationkey).select(
        "s_suppkey"
    )
    li = li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
    per_part = apply_operations(li.withColumn("rev_dec", _rev_dec()), [
        AggregationOperation(
            group_by=["l_partkey"],
            aggregations={"value_dec": {"column": "rev_dec", "agg": "sum"}},
        ),
    ], spark)
    total = per_part.agg(F.sum("value_dec").alias("total_dec"))
    kept = (
        per_part.join(F.broadcast(total))
        .filter(
            F.col("value_dec").cast("double")
            > F.col("total_dec").cast("double") * F.lit(0.0005)
        )
    )
    return kept.select("l_partkey", F.col("value_dec").cast("double").alias("part_value"))


TPCH_Q11_SQL = """
SELECT l.l_partkey,
       CAST(CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
         AS part_value
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
WHERE n.n_name IN ('NATION_1', 'NATION_2')
GROUP BY l.l_partkey
HAVING CAST(CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
       > CAST((SELECT SUM(CAST(l2.l_extendedprice * (1.0 - l2.l_discount) AS DECIMAL(18,6)))
               FROM lineitem l2
               JOIN supplier s2 ON l2.l_suppkey = s2.s_suppkey
               JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
               WHERE n2.n_name IN ('NATION_1', 'NATION_2')) AS DOUBLE) * 0.0005
"""


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape — customer order-count distribution: LEFT OUTER join
    so zero-order customers survive with count 0, then a second tiny
    aggregation over the counts.  Adaptation: the excluded-comment
    predicate becomes ``o_orderpriority <> '1-URGENT'`` (filtered on
    the right side BEFORE the join, so the outer join's null
    semantics match the classic ON-clause placement)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    joined = cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
    per_cust = joined.groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    dist = apply_operations(per_cust, [
        AggregationOperation(
            group_by=["c_count"],
            aggregations={"custdist": {"column": "*", "agg": "count"}},
        ),
    ], spark)
    return dist.select("c_count", "custdist")


TPCH_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
GROUP BY c_count
"""


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape — top supplier by quarterly revenue: the revenue view
    aggregates once, its MAX broadcasts back as a 1-row join (no
    window over all suppliers, no driver collect), and equality on
    the exact-decimal-derived double picks the winner(s)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01")) & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    rev = apply_operations(li.withColumn("rev_dec", _rev_dec()), [
        AggregationOperation(
            group_by=["l_suppkey"],
            aggregations={"rev_sum_dec": {"column": "rev_dec", "agg": "sum"}},
        ),
    ], spark).withColumn("total_rev", F.col("rev_sum_dec").cast("double"))
    # The revenue view feeds BOTH the MAX probe and the winner filter;
    # without a materialization boundary each consumer re-scans and
    # re-shuffles lineitem (Spark plans share nothing across actions'
    # subtrees).  Eager localCheckpoint, not persist: the blocks free
    # when the returned DataFrame is garbage-collected instead of
    # leaking executor storage for the session.
    rev = rev.transform(materialize)
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    top = rev.join(F.broadcast(mx)).filter(F.col("total_rev") == F.col("max_rev"))
    top = apply_operations(top, [
        BindOperation(
            right_file_path=f"{sf_dir}/supplier.parquet",
            left_on="l_suppkey",
            right_on="s_suppkey",
            how="inner",
            columns_to_add=["s_name"],
        ),
    ], spark)
    return top.select(F.col("l_suppkey").alias("s_suppkey"), "s_name", "total_rev")


TPCH_Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
           AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT r.l_suppkey AS s_suppkey, s.s_name, r.total_rev
FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
"""


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape — supplier diversity per part descriptor: distinct
    suppliers per (brand, type, size) over the observed supplier-part
    relation, excluding flagged suppliers.  Adaptations: the relation
    comes from lineitem (no partsupp); 'complaint' suppliers are
    those with negative account balance, excluded by anti-join (a
    broadcast of a 6-row exclusion list, never a shuffle)."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 10, 15, 20))
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    li = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    li = li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
    return (
        li.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


TPCH_Q16_SQL = """
SELECT p.p_brand, p.p_type, p.p_size, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_size IN (1, 5, 10, 15, 20)
  AND NOT EXISTS (SELECT 1 FROM supplier s
                  WHERE s.s_suppkey = l.l_suppkey AND s.s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
"""


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape — small-quantity-order revenue: the classic
    correlated AVG subquery decorrelates into a per-part aggregate
    joined back on the fact key (one co-partitioned shuffle join; no
    per-row subquery execution).  The per-part average divides an
    exact decimal sum by the count as doubles, so the 0.5×avg
    threshold is bit-identical across engines and shuffle orders."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    sel_part = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#2") & (F.col("p_type") == "ECONOMY"))
        .select("p_partkey")
    )
    # Prune the fact table by the broadcast part selection BEFORE the
    # per-part aggregate: the average is per partkey and the filter is
    # by partkey, so every surviving part still aggregates over all of
    # its lineitem rows — identical avg_qty, but the aggregate (and its
    # shuffle) runs over only the selected parts' rows instead of the
    # full fact table.  At 100 TB this is the difference between a
    # full-fact shuffle and one sized by part selectivity.
    li_sel = li.join(
        F.broadcast(sel_part), li.l_partkey == sel_part.p_partkey
    ).drop("p_partkey")
    per_part = (
        li_sel.groupBy(F.col("l_partkey").alias("ap_partkey"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_sum_dec"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .withColumn("avg_qty", F.col("qty_sum_dec").cast("double") / F.col("n_lines"))
        .select("ap_partkey", "avg_qty")
    )
    # per_part is one row per SELECTED part — the same cardinality
    # class as sel_part, which already broadcasts — so the join-back
    # broadcasts too instead of shuffling the probe side into a
    # sort-merge join.
    li2 = li_sel.join(F.broadcast(per_part), li_sel.l_partkey == per_part.ap_partkey)
    small = li2.filter(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
    return small.agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double") / F.lit(7.0)
        ).alias("avg_yearly")
    )


TPCH_Q17_SQL = """
SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
            AND p.p_brand = 'Brand#2' AND p.p_type = 'ECONOMY'
JOIN (SELECT l_partkey,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey) a
  ON l.l_partkey = a.l_partkey
WHERE l.l_quantity < 0.5 * a.avg_qty
"""


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape — suppliers who shipped heavy volumes of 'small…'
    parts in 1997, restricted to EUROPE nations.  Chained semi-join
    reduction: part filter → fact aggregate → HAVING → the qualifying
    supplier keys broadcast into a LEFT SEMI against supplier; each
    hop only narrows, and the supplier table never widens."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01")) & (F.col("l_shipdate") < F.lit("1998-01-01"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    small_parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("small"))
        .select("p_partkey")
    )
    li = li.join(F.broadcast(small_parts), li.l_partkey == small_parts.p_partkey)
    heavy = (
        li.groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_dec"))
        .filter(F.col("qty_dec").cast("double") > 300.0)
        .select("l_suppkey")
    )
    supp = _t(spark, sf_dir, "supplier")
    supp = supp.join(F.broadcast(heavy), supp.s_suppkey == heavy.l_suppkey, "left_semi")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey).select(
        "n_nationkey"
    )
    supp = supp.join(F.broadcast(eu), supp.s_nationkey == eu.n_nationkey, "left_semi")
    return supp.select("s_name", "s_acctbal")


TPCH_Q20_SQL = """
SELECT s.s_name, s.s_acctbal
FROM supplier s
WHERE s.s_suppkey IN (
  SELECT l.l_suppkey
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE 'small%'
  WHERE l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l.l_suppkey
  HAVING CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) > 300.0
)
AND s.s_nationkey IN (
  SELECT n.n_nationkey FROM nation n
  JOIN region r ON n.n_regionkey = r.r_regionkey WHERE r.r_name = 'EUROPE'
)
"""


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape — suppliers who alone spoiled multi-supplier orders.
    Adaptation: with no commit/receipt dates, 'late' is a returned
    line (``l_returnflag = 'R'``) on a finished ('F') order.  The
    classic EXISTS (another supplier in the order) / NOT EXISTS
    (another supplier also late) pair is computed as ONE per-order
    aggregate — distinct suppliers and distinct late suppliers — then
    joined back to the candidate lines: a candidate waits alone iff
    ``n_supp > 1 AND n_late_supp = 1``.  One extra shuffle total,
    versus two full fact self-joins in the literal translation."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_returnflag")
    ord_stats = li.groupBy(F.col("l_orderkey").alias("st_orderkey")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    fin_orders = (
        _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    )
    cand = li.filter(F.col("l_returnflag") == "R").join(
        fin_orders, F.col("l_orderkey") == F.col("o_orderkey")
    )
    cand = cand.join(ord_stats, F.col("l_orderkey") == F.col("st_orderkey")).filter(
        (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3").select("n_nationkey")
    supp = supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey).select(
        "s_suppkey", "s_name"
    )
    cand = cand.join(F.broadcast(supp), cand.l_suppkey == supp.s_suppkey)
    return apply_operations(cand, [
        AggregationOperation(
            group_by=["s_name"],
            aggregations={"numwait": {"column": "*", "agg": "count"}},
        ),
        SortOperation(columns=["numwait", "s_name"], descending=[True, False]),
        LimitOperation(n=100),
    ], spark)


TPCH_Q21_SQL = """
SELECT s.s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders o   ON l1.l_orderkey = o.o_orderkey AND o.o_orderstatus = 'F'
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_3'
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 100
"""


TPCH_MORE_QUERIES = {
    "tpch_q8": q_tpch_q8,
    "tpch_q9": q_tpch_q9,
    "tpch_q11": q_tpch_q11,
    "tpch_q13": q_tpch_q13,
    "tpch_q15": q_tpch_q15,
    "tpch_q16": q_tpch_q16,
    "tpch_q17": q_tpch_q17,
    "tpch_q20": q_tpch_q20,
    "tpch_q21": q_tpch_q21,
}

TPCH_MORE_ORACLES = {
    "tpch_q8": TPCH_Q8_SQL,
    "tpch_q9": TPCH_Q9_SQL,
    "tpch_q11": TPCH_Q11_SQL,
    "tpch_q13": TPCH_Q13_SQL,
    "tpch_q15": TPCH_Q15_SQL,
    "tpch_q16": TPCH_Q16_SQL,
    "tpch_q17": TPCH_Q17_SQL,
    "tpch_q20": TPCH_Q20_SQL,
    "tpch_q21": TPCH_Q21_SQL,
}
