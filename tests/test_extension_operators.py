"""Unit tests for the relational extension operators (SURVEY §2.2
gaps the engine fills): filter, aggregation, sort/limit, distinct,
union, window variants, repartition, partitioned sinks."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from openetlagent_spark.model import (
    AggregationOperation,
    ColumnDefinition,
    FileDefinition,
    FileSchema,
    FilterOperation,
    RepartitionOperation,
    UnionOperation,
    WindowOperation,
)
from openetlagent_spark.operators import (
    apply_aggregation,
    apply_filter,
    apply_repartition,
    apply_union,
    apply_window,
)
from openetlagent_spark.sources import save_data


@pytest.fixture(scope="module")
def sales(spark):
    return spark.createDataFrame(
        [
            Row(region="E", amount=10.0, flag=True),
            Row(region="E", amount=20.0, flag=False),
            Row(region="W", amount=5.0, flag=True),
        ]
    )


def test_filter_boolean_column(sales):
    out = apply_filter(sales, FilterOperation(input_column="flag"))
    assert out.count() == 2


def test_aggregation_collect_set_and_avg(sales):
    out = apply_aggregation(
        sales,
        AggregationOperation(
            group_by=["region"],
            aggregations={
                "avg_amount": {"column": "amount", "agg": "avg"},
                "flags": {"column": "flag", "agg": "collect_set"},
            },
        ),
    )
    got = {r.region: r for r in out.collect()}
    assert got["E"].avg_amount == 15.0
    assert sorted(got["E"].flags) == [False, True]


def test_aggregation_global_no_groupby(sales):
    out = apply_aggregation(
        sales,
        AggregationOperation(group_by=[], aggregations={"total": {"column": "amount", "agg": "sum"}}),
    )
    assert out.collect()[0].total == 35.0


def test_aggregation_unknown_fn_raises(sales):
    with pytest.raises(ValueError, match="unknown agg fn"):
        apply_aggregation(
            sales,
            AggregationOperation(group_by=[], aggregations={"x": {"column": "amount", "agg": "median99"}}),
        )


@pytest.mark.parametrize("fn,expected", [("rank", [1, 1, 3]), ("dense_rank", [1, 1, 2]), ("row_number", [1, 2, 3])])
def test_window_rank_variants(spark, fn, expected):
    df = spark.createDataFrame(
        [Row(g="a", v=1.0), Row(g="a", v=1.0), Row(g="a", v=2.0)]
    )
    out = apply_window(
        df,
        WindowOperation(function=fn, partition_by=["g"], order_by=["v"], output_column="r"),
    )
    assert sorted(r.r for r in out.collect()) == expected


def test_window_lead(spark):
    df = spark.createDataFrame([Row(g="a", t=1, v=10.0), Row(g="a", t=2, v=20.0)])
    out = apply_window(
        df,
        WindowOperation(
            function="lead", partition_by=["g"], order_by=["t"], value_column="v", output_column="nxt"
        ),
    )
    got = {r.t: r.nxt for r in out.collect()}
    assert got == {1: 20.0, 2: None}


def test_union_by_name(spark):
    a = spark.createDataFrame([Row(x=1, y="a")])
    b = spark.createDataFrame([Row(y="b", x=2)])  # different column order
    out = apply_union(a, UnionOperation(right_input="b"), spark, {"b": b})
    assert sorted((r.x, r.y) for r in out.collect()) == [(1, "a"), (2, "b")]


def test_repartition_by_columns_and_count(sales):
    out = apply_repartition(sales, RepartitionOperation(columns=["region"], num_partitions=2))
    assert out.rdd.getNumPartitions() == 2
    assert out.count() == 3
    out2 = apply_repartition(sales, RepartitionOperation(num_partitions=3))
    assert out2.rdd.getNumPartitions() == 3
    with pytest.raises(ValueError, match="columns and/or num_partitions"):
        apply_repartition(sales, RepartitionOperation())


def test_partitioned_parquet_sink(sales, tmp_path):
    out = str(tmp_path / "pp")
    fd = FileDefinition(
        path=out,
        format="parquet",
        file_schema=FileSchema(
            name="s",
            columns={"region": ColumnDefinition("string"), "amount": ColumnDefinition("float")},
        ),
    )
    save_data(sales, fd, partition_by=["region"])
    import os

    assert sorted(d for d in os.listdir(out) if d.startswith("region=")) == ["region=E", "region=W"]
    back = sales.sparkSession.read.parquet(out)
    assert back.count() == 3


def test_aggregation_grouping_sets(sales):
    out = apply_aggregation(
        sales,
        AggregationOperation(
            group_by=["region", "flag"],
            grouping="sets",
            grouping_sets=[["region"], ["flag"], []],
            aggregations={"total": {"column": "amount", "agg": "sum"}},
        ),
    )
    got = {(r.region, r.flag): r.total for r in out.collect()}
    # per-region, per-flag, and grand-total rows — one pass, no union.
    assert got[("E", None)] == 30.0
    assert got[("W", None)] == 5.0
    assert got[(None, True)] == 15.0
    assert got[(None, False)] == 20.0
    assert got[(None, None)] == 35.0
    assert len(got) == 5


def test_aggregation_grouping_sets_requires_sets():
    with pytest.raises(Exception, match="grouping_sets"):
        AggregationOperation(group_by=["g"], grouping="sets", aggregations={"n": {"agg": "count"}})


def test_aggregation_percentile_exact(spark):
    df = spark.createDataFrame([Row(g="a", v=float(x)) for x in [1, 2, 3, 4]])
    out = apply_aggregation(
        df,
        AggregationOperation(
            group_by=["g"],
            aggregations={
                "med": {"column": "v", "agg": "percentile", "p": "0.5"},
                "p25": {"column": "v", "agg": "percentile", "p": "0.25"},
            },
        ),
    )
    row = out.collect()[0]
    # PERCENTILE_CONT interpolation: median of 1..4 = 2.5, p25 = 1.75.
    assert row.med == 2.5
    assert row.p25 == 1.75


def test_aggregation_approx_count_distinct(spark):
    df = spark.createDataFrame([Row(g="a", v=i % 50) for i in range(500)])
    out = apply_aggregation(
        df,
        AggregationOperation(
            group_by=["g"],
            aggregations={"nd": {"column": "v", "agg": "approx_count_distinct", "rsd": "0.02"}},
        ),
    )
    nd = out.collect()[0].nd
    assert 45 <= nd <= 55  # HLL estimate of 50 distinct at 2% rsd


def test_window_sliding_frame_avg(spark):
    df = spark.createDataFrame([Row(g="a", t=i, v=float(i)) for i in range(1, 5)])
    out = apply_window(
        df,
        WindowOperation(
            function="avg",
            partition_by=["g"],
            order_by=["t"],
            value_column="v",
            frame=[-1, 0],
            output_column="mv",
        ),
    )
    got = {r.t: r.mv for r in out.collect()}
    assert got == {1: 1.0, 2: 1.5, 3: 2.5, 4: 3.5}


def test_window_ntile(spark):
    df = spark.createDataFrame([Row(g="a", v=i) for i in range(1, 5)])
    out = apply_window(
        df,
        WindowOperation(function="ntile", partition_by=["g"], order_by=["v"], offset=2, output_column="q"),
    )
    got = sorted((r.v, r.q) for r in out.collect())
    assert got == [(1, 1), (2, 1), (3, 2), (4, 2)]


def test_window_bad_frame_raises():
    with pytest.raises(Exception, match="frame"):
        WindowOperation(function="avg", value_column="v", frame=[1], output_column="x")


def test_union_modes(spark):
    left = spark.createDataFrame([Row(k=1), Row(k=1), Row(k=2), Row(k=3)])
    right = spark.createDataFrame([Row(k=2), Row(k=4)])
    from openetlagent_spark.model import UnionOperation

    def run(mode):
        out = apply_union(left, UnionOperation(right_input="r", mode=mode), spark, {"r": right})
        return sorted(r.k for r in out.collect())

    assert run("all") == [1, 1, 2, 2, 3, 4]
    assert run("distinct") == [1, 2, 3, 4]
    assert run("intersect") == [2]
    assert run("except") == [1, 3]


def test_union_bad_mode_raises():
    from openetlagent_spark.model import SpecError, UnionOperation

    with pytest.raises(SpecError, match="mode"):
        UnionOperation(right_input="r", mode="xor")


def test_sample_seeded_deterministic(spark):
    from openetlagent_spark.model import SampleOperation
    from openetlagent_spark.operators import apply_sample

    df = spark.range(1000)
    op = SampleOperation(fraction=0.2, seed=7)
    a = sorted(r.id for r in apply_sample(df, op).collect())
    b = sorted(r.id for r in apply_sample(df, op).collect())
    assert a == b
    assert 100 < len(a) < 300


def test_sample_bad_fraction_raises():
    from openetlagent_spark.model import SampleOperation, SpecError

    with pytest.raises(SpecError, match="fraction"):
        SampleOperation(fraction=1.5)


def test_split_assign_stable_and_complete(spark):
    from openetlagent_spark.functions.text import with_split_assign

    df = spark.createDataFrame([Row(doc_id=i) for i in range(200)])
    out = with_split_assign(df, key_col="doc_id")
    got = {r.doc_id: r.split for r in out.collect()}
    assert set(got.values()) <= {"train", "val", "test"}
    assert all(v is not None for v in got.values())
    # growing the dataset must NOT move existing rows between splits
    bigger = with_split_assign(
        spark.createDataFrame([Row(doc_id=i) for i in range(400)]), key_col="doc_id"
    )
    got2 = {r.doc_id: r.split for r in bigger.collect()}
    assert all(got2[k] == v for k, v in got.items())


def test_split_assign_bad_percentages(spark):
    from openetlagent_spark.functions.text import with_split_assign

    df = spark.createDataFrame([Row(doc_id=1)])
    with pytest.raises(ValueError, match="total 100"):
        with_split_assign(df, key_col="doc_id", splits={"train": 50, "test": 40})


def test_select_keep_and_drop(sales):
    from openetlagent_spark.model import SelectOperation
    from openetlagent_spark.operators import apply_select

    kept = apply_select(sales, SelectOperation(columns=["amount", "region"]))
    assert kept.columns == ["amount", "region"]
    dropped = apply_select(sales, SelectOperation(drop_columns=["flag"]))
    assert dropped.columns == ["region", "amount"]


def test_select_requires_exactly_one():
    from openetlagent_spark.model import SelectOperation, SpecError

    with pytest.raises(SpecError, match="exactly one"):
        SelectOperation()
    with pytest.raises(SpecError, match="exactly one"):
        SelectOperation(columns=["a"], drop_columns=["b"])


def test_select_missing_column_raises(spark, sales):
    from openetlagent_spark.model import SelectOperation
    from openetlagent_spark.runner import apply_operations

    with pytest.raises(ValueError, match="nope"):
        apply_operations(sales, [SelectOperation(columns=["nope"])], spark)


def test_aggregation_approx_percentile(spark):
    df = spark.createDataFrame([Row(g="a", v=float(i)) for i in range(1, 101)])
    out = apply_aggregation(
        df,
        AggregationOperation(
            group_by=["g"],
            aggregations={"med": {"column": "v", "agg": "approx_percentile", "p": "0.5"}},
        ),
    )
    med = out.collect()[0].med
    # sketch is exact at this size/accuracy: returns an actual data value
    assert med in (50.0, 51.0)


def test_aggregation_collect_list(sales):
    out = apply_aggregation(
        sales,
        AggregationOperation(
            group_by=["region"],
            aggregations={"amts": {"column": "amount", "agg": "collect_list"}},
        ),
    )
    got = {r.region: sorted(r.amts) for r in out.collect()}
    assert got == {"E": [10.0, 20.0], "W": [5.0]}


def test_aggregation_min_by_max_by(spark):
    df = spark.createDataFrame(
        [Row(g="a", name="x", score=1.0), Row(g="a", name="y", score=9.0), Row(g="b", name="z", score=5.0)]
    )
    out = apply_aggregation(
        df,
        AggregationOperation(
            group_by=["g"],
            aggregations={
                "best": {"column": "name", "agg": "max_by", "by": "score"},
                "worst": {"column": "name", "agg": "min_by", "by": "score"},
            },
        ),
    )
    got = {r.g: (r.best, r.worst) for r in out.collect()}
    assert got == {"a": ("y", "x"), "b": ("z", "z")}


def test_window_percent_rank_cume_dist(spark):
    df = spark.createDataFrame([Row(g="a", v=i) for i in range(1, 5)])
    pr = apply_window(
        df, WindowOperation(function="percent_rank", partition_by=["g"], order_by=["v"], output_column="pr")
    )
    cd = apply_window(
        df, WindowOperation(function="cume_dist", partition_by=["g"], order_by=["v"], output_column="cd")
    )
    assert sorted(r.pr for r in pr.collect()) == [0.0, 1 / 3, 2 / 3, 1.0]
    assert sorted(r.cd for r in cd.collect()) == [0.25, 0.5, 0.75, 1.0]


def test_json_extract_operator(spark):
    from openetlagent_spark.model import JsonExtractOperation, SpecError
    from openetlagent_spark.operators import apply_json_extract

    df = spark.createDataFrame(
        [
            Row(id=1, props='{"k": 42, "tags": {"env": "prod"}}'),
            Row(id=2, props='{"tags": {}}'),
            Row(id=3, props="not json"),
        ]
    )
    out = apply_json_extract(
        df,
        JsonExtractOperation(
            input_column="props", json_path="$.k", target_type="integer", output_column="k"
        ),
    )
    got = {r.id: r.k for r in out.collect()}
    assert got == {1: 42, 2: None, 3: None}
    nested = apply_json_extract(
        df, JsonExtractOperation(input_column="props", json_path="$.tags.env", output_column="env")
    )
    assert {r.id: r.env for r in nested.collect()} == {1: "prod", 2: None, 3: None}
    with pytest.raises(SpecError, match="must start"):
        JsonExtractOperation(input_column="props", json_path="k")
