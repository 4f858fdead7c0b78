"""Extension operators beyond the reference surface.

SURVEY §2.2 records the reference's gaps explicitly: no row filter, no
group-by aggregation, no sort/limit, no set ops, no window functions.
These are required by any real pipeline, so the engine adds them as
first-class flow operations with the same spec/dispatch shape as the
parity ops.  All compile to built-in Catalyst operators — aggregations
get map-side partial aggregation, sorts use range partitioning, and
windows use a single shuffle on the partition keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..model import (
    AggregationOperation,
    DistinctOperation,
    FilterOperation,
    JsonExtractOperation,
    LimitOperation,
    RepartitionOperation,
    SampleOperation,
    SelectOperation,
    SortOperation,
    UnionOperation,
    WindowOperation,
)
from .base import Inputs, comparison_column, read_input, require_columns

_AGG_FNS = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "avg": F.avg,
    "mean": F.avg,
    "count": F.count,
    "count_distinct": F.count_distinct,
    "first": F.first,
    "collect_set": F.collect_set,
    "collect_list": F.collect_list,
    "stddev": F.stddev,
}


def apply_filter(df: DataFrame, op: FilterOperation) -> DataFrame:
    if op.operator is None:
        return df.filter(F.col(op.input_column))
    return df.filter(comparison_column(F.col(op.input_column), op.operator, op.value))


def apply_aggregation(df: DataFrame, op: AggregationOperation) -> DataFrame:
    aggs = []
    for out_name, spec in op.aggregations.items():
        fn_name = spec.get("agg", "sum")
        col = spec.get("column", "*")
        target = F.lit(1) if col == "*" and fn_name == "count" else F.col(col)
        if col != "*":
            require_columns(df, [col], "aggregation")
        if fn_name == "percentile":
            # Exact interpolated percentile (= ANSI PERCENTILE_CONT /
            # DuckDB quantile_cont).  Exact means a full sort per group —
            # fine for grouped aggregation; use approx_percentile for
            # global quantiles over 100 TB.
            expr = F.percentile(target, F.lit(float(spec["p"])))
        elif fn_name == "approx_count_distinct":
            # HLL++ sketch: one pass, fixed memory, mergeable across
            # partitions — the 100 TB path for distinct counts.
            expr = F.approx_count_distinct(target, float(spec.get("rsd", 0.05)))
        elif fn_name in ("min_by", "max_by"):
            # argmin/argmax: the value of `column` on the row where `by`
            # is smallest/largest.  Ties are nondeterministic under
            # distributed execution — disambiguate via a composite `by`
            # upstream when determinism matters.
            by = spec["by"]
            require_columns(df, [by], "aggregation")
            expr = (F.min_by if fn_name == "min_by" else F.max_by)(target, F.col(by))
        elif fn_name == "approx_percentile":
            # KLL-style quantile sketch (bounded memory, mergeable) —
            # the 100 TB path for quantiles; exact `percentile` sorts
            # per group.  accuracy = 1/relative-error (Spark default
            # 10000).
            expr = F.approx_percentile(
                target, F.lit(float(spec["p"])), F.lit(int(spec.get("accuracy", 10000)))
            )
        else:
            fn = _AGG_FNS.get(fn_name)
            if fn is None:
                known = sorted(
                    [
                        *_AGG_FNS,
                        "percentile",
                        "approx_count_distinct",
                        "approx_percentile",
                        "min_by",
                        "max_by",
                    ]
                )
                raise ValueError(f"aggregation: unknown agg fn {fn_name!r}; known: {known}")
            expr = fn(target)
        aggs.append(expr.alias(out_name))
    if not aggs:
        raise ValueError("aggregation requires at least one aggregate")
    if op.grouping == "sets":
        for s in op.grouping_sets:
            require_columns(df, s, "aggregation")
        keys = op.group_by or sorted({c for s in op.grouping_sets for c in s})
        sets = [[F.col(c) for c in s] for s in op.grouping_sets]
        return df.groupingSets(sets, *[F.col(c) for c in keys]).agg(*aggs)
    if not op.group_by:
        return df.agg(*aggs)
    if op.grouping == "rollup":
        return df.rollup(*op.group_by).agg(*aggs)
    if op.grouping == "cube":
        return df.cube(*op.group_by).agg(*aggs)
    return df.groupBy(*op.group_by).agg(*aggs)


def _order_cols(columns: list[str], descending: list[bool], op_name: str):
    """Pair sort columns with direction flags; a short ``descending``
    list pads ascending (zip would silently DROP the tail columns)."""
    if len(descending) > len(columns):
        raise ValueError(
            f"{op_name}: descending has {len(descending)} entries for {len(columns)} columns"
        )
    desc = list(descending) + [False] * (len(columns) - len(descending))
    return [F.col(c).desc() if d else F.col(c).asc() for c, d in zip(columns, desc)]


def apply_sort(df: DataFrame, op: SortOperation) -> DataFrame:
    return df.orderBy(*_order_cols(op.columns, op.descending, "sort"))


def apply_limit(df: DataFrame, op: LimitOperation) -> DataFrame:
    return df.limit(op.n)


def apply_distinct(df: DataFrame, op: DistinctOperation) -> DataFrame:
    if op.subset:
        return df.dropDuplicates(op.subset)
    return df.distinct()


def apply_union(
    df: DataFrame,
    op: UnionOperation,
    spark: SparkSession,
    inputs: Inputs | None,
) -> DataFrame:
    """Set operation with the named pipeline input ``op.right_input``."""
    if not inputs or op.right_input not in inputs:
        raise ValueError(
            f"union: right input '{op.right_input}' not found in pipeline inputs "
            f"{sorted(inputs) if inputs else []}"
        )
    right_df = read_input(spark, inputs[op.right_input])
    if op.mode == "distinct":
        return df.unionByName(right_df, allowMissingColumns=False).distinct()
    if op.mode == "intersect":
        return df.intersect(right_df)
    if op.mode == "except":
        return df.subtract(right_df)
    return df.unionByName(right_df, allowMissingColumns=False)


def apply_sample(df: DataFrame, op: SampleOperation) -> DataFrame:
    """Bernoulli by default; with ``key_column``, the deterministic
    md5-bucket sample of ``functions.text.with_hash_sample``."""
    if op.key_column:
        from ..functions.text import with_hash_sample

        return with_hash_sample(df, op.key_column, op.fraction, op.seed)
    return df.sample(withReplacement=False, fraction=op.fraction, seed=op.seed)


def apply_json_extract(df: DataFrame, op: JsonExtractOperation) -> DataFrame:
    """get_json_object: JVM-side JSON scan, NULL on malformed/missing.
    For repeated extraction of many paths from huge payloads prefer
    from_json with an explicit schema (single parse); this per-path
    form matches the flow model's one-output-column shape."""
    expr = F.get_json_object(F.col(op.input_column), op.json_path)
    if op.target_type is not None:
        from ..types import logical_to_spark

        expr = expr.try_cast(logical_to_spark(op.target_type))
    return df.withColumn(op.output_column or op.input_column, expr)


def apply_select(df: DataFrame, op: SelectOperation) -> DataFrame:
    if op.columns:
        return df.select(*op.columns)
    return df.drop(*op.drop_columns)


def apply_repartition(df: DataFrame, op: RepartitionOperation) -> DataFrame:
    if op.columns:
        cols = [F.col(c) for c in op.columns]
        return (
            df.repartition(op.num_partitions, *cols) if op.num_partitions else df.repartition(*cols)
        )
    if not op.num_partitions:
        raise ValueError("repartition requires columns and/or num_partitions")
    return df.repartition(op.num_partitions)


def apply_window(df: DataFrame, op: WindowOperation) -> DataFrame:
    order_cols = _order_cols(op.order_by, op.descending, "window")
    w = Window.partitionBy(*op.partition_by)
    if order_cols:
        w = w.orderBy(*order_cols)

    fn = op.function
    if fn == "row_number":
        expr = F.row_number().over(w)
    elif fn == "rank":
        expr = F.rank().over(w)
    elif fn == "dense_rank":
        expr = F.dense_rank().over(w)
    elif fn == "ntile":
        expr = F.ntile(op.offset).over(w)
    elif fn == "percent_rank":
        expr = F.percent_rank().over(w)
    elif fn == "cume_dist":
        expr = F.cume_dist().over(w)
    elif fn in ("lag", "lead"):
        require_columns(df, [op.value_column], "window")
        shift = F.lag if fn == "lag" else F.lead
        expr = shift(F.col(op.value_column), op.offset).over(w)
    elif fn in ("first_value", "last_value"):
        require_columns(df, [op.value_column], "window")
        # last_value over the default running frame returns the CURRENT
        # row — rarely what anyone means; span the whole partition so
        # first/last are the partition's extremes under the declared
        # order (deterministic given a total order).
        w = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        getter = F.first if fn == "first_value" else F.last
        expr = getter(F.col(op.value_column)).over(w)
    elif fn in ("sum", "avg", "min", "max", "count"):
        require_columns(df, [op.value_column], "window")
        if op.frame:
            # rows = physical row offsets; range = ORDER-BY VALUE offsets
            # (e.g. order by epoch seconds, frame [-3600, 0] = trailing
            # hour) — value-based frames need a single numeric sort key.
            if op.frame_type == "range":
                w = w.rangeBetween(op.frame[0], op.frame[1])
            else:
                w = w.rowsBetween(op.frame[0], op.frame[1])
        expr = getattr(F, fn)(F.col(op.value_column)).over(w)
    else:
        raise ValueError(f"window: unknown function {fn!r}")
    return df.withColumn(op.output_column, expr)
