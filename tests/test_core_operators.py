"""Per-operator unit tests for the core expression operators, pinned to
the reference's semantic fine print (SURVEY §2.3)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row

from openetlagent_spark.model import (
    ArithmeticOperation,
    AssignationOperation,
    CastingOperation,
    ComparisonOperation,
    ConcatenationOperation,
    EqualityOperation,
    SpecError,
    SwitchingOperation,
)
from openetlagent_spark.operators import (
    apply_arithmetic,
    apply_assignation,
    apply_casting,
    apply_comparison,
    apply_concatenation,
    apply_equality,
    apply_switching,
)


def test_equality_copies_column(spark):
    df = spark.createDataFrame([Row(a=1), Row(a=2)])
    out = apply_equality(df, EqualityOperation(input_column="a", output_column="b"))
    assert out.columns == ["a", "b"]
    assert [r.b for r in out.orderBy("a").collect()] == [1, 2]


def test_equality_missing_column_names_available(spark):
    from openetlagent_spark.runner import apply_operations

    df = spark.createDataFrame([Row(a=1)])
    with pytest.raises(ValueError, match=r"\['nope'\].*Available columns.*'a'"):
        apply_operations(df, [EqualityOperation(input_column="nope", output_column="b")], spark)


def test_concatenation_null_propagates(spark):
    # Reference uses Polars concat_str: ANY null input -> null result
    # (app/operations/concatenation.py:10-13).  concat_ws would skip nulls.
    df = spark.createDataFrame(
        [Row(a="x", b="y"), Row(a="x", b=None)],
        "a string, b string",
    )
    op = ConcatenationOperation(input_columns=["a", "b"], separator="-", output_column="c")
    rows = {r.a: r.c for r in apply_concatenation(df, op).collect()}
    assert rows["x"] in ("x-y", None)
    got = sorted([r.c for r in apply_concatenation(df, op).collect()], key=lambda v: (v is None, v))
    assert got == ["x-y", None]


def test_concatenation_casts_numbers(spark):
    df = spark.createDataFrame([Row(a=1, b=2.5)])
    op = ConcatenationOperation(input_columns=["a", "b"], separator="_", output_column="c")
    assert apply_concatenation(df, op).collect()[0].c == "1_2.5"


def test_assignation_literal(spark):
    df = spark.createDataFrame([Row(a=1)])
    out = apply_assignation(df, AssignationOperation(value="UNKNOWN", output_column="status"))
    assert out.collect()[0].status == "UNKNOWN"


def test_casting_string_to_date_iso(spark):
    df = spark.createDataFrame([Row(d="2024-01-15")])
    out = apply_casting(df, CastingOperation(input_column="d", target_type="date", output_column="dt"))
    assert out.collect()[0].dt == datetime.date(2024, 1, 15)


def test_casting_strict_raises_on_bad_value(spark):
    # Polars raises on bad casts (app/operations/casting.py:17-19); Spark
    # silently nulls — strict mode reproduces the raise at action time.
    df = spark.createDataFrame([Row(v="12x")])
    out = apply_casting(df, CastingOperation(input_column="v", target_type="integer", output_column="i"))
    with pytest.raises(Exception, match="Failed to cast"):
        out.collect()


def test_casting_non_strict_nulls(spark):
    df = spark.createDataFrame([Row(v="12x"), Row(v="7")])
    out = apply_casting(
        df,
        CastingOperation(input_column="v", target_type="integer", output_column="i"),
        strict=False,
    )
    got = {r.v: r.i for r in out.collect()}
    assert got == {"12x": None, "7": 7}


def test_casting_boolean_tightened_to_polars_set(spark):
    df = spark.createDataFrame([Row(v="true"), Row(v="false")])
    out = apply_casting(df, CastingOperation(input_column="v", target_type="boolean", output_column="b"))
    got = {r.v: r.b for r in out.collect()}
    assert got == {"true": True, "false": False}
    # 'yes' is accepted by Spark's native cast but not Polars'; strict mode raises.
    df2 = spark.createDataFrame([Row(v="yes")])
    out2 = apply_casting(df2, CastingOperation(input_column="v", target_type="boolean", output_column="b"))
    with pytest.raises(Exception, match="Failed to cast"):
        out2.collect()


def test_arithmetic_int_division_yields_double(spark):
    df = spark.createDataFrame([Row(a=7, b=2)])
    out = apply_arithmetic(
        df, ArithmeticOperation(input_columns=["a", "b"], operator="/", output_column="q")
    )
    row = out.collect()[0]
    assert row.q == 3.5
    assert dict(out.dtypes)["q"] == "double"


@pytest.mark.parametrize(
    "operator,expected", [("+", 9), ("-", 5), ("*", 14)]
)
def test_arithmetic_ops(spark, operator, expected):
    df = spark.createDataFrame([Row(a=7, b=2)])
    out = apply_arithmetic(
        df, ArithmeticOperation(input_columns=["a", "b"], operator=operator, output_column="r")
    )
    assert out.collect()[0].r == expected


def test_arithmetic_requires_exactly_two_columns():
    with pytest.raises(SpecError, match="exactly two"):
        ArithmeticOperation(input_columns=["a"], operator="+", output_column="r")


def test_comparison_is_projection_not_filter(spark):
    df = spark.createDataFrame([Row(p=150.0), Row(p=50.0)])
    out = apply_comparison(
        df, ComparisonOperation(input_column="p", operator=">", value=100, output_column="high")
    )
    assert out.count() == 2  # no rows removed (SURVEY §2.2)
    got = {r.p: r.high for r in out.collect()}
    assert got == {150.0: True, 50.0: False}


def test_switching_maps_to_source_columns_with_literal_default(spark):
    # Mapping values are COLUMN names; default may be a literal
    # (reference: app/models.py:60-76; summary pipeline uses default 0.0).
    df = spark.createDataFrame(
        [
            Row(cat="Electronics", profit=10.0, zero=0.0),
            Row(cat="Furniture", profit=20.0, zero=0.0),
            Row(cat="Other", profit=30.0, zero=0.0),
        ]
    )
    op = SwitchingOperation(
        switch_column="cat",
        mapping={"Electronics": "profit"},
        default_value=0.0,
        output_column="electronics_profit",
    )
    got = {r.cat: r.electronics_profit for r in apply_switching(df, op).collect()}
    assert got == {"Electronics": 10.0, "Furniture": 0.0, "Other": 0.0}


def test_switching_default_column(spark):
    df = spark.createDataFrame([Row(k="a", x=1.0, y=9.0), Row(k="z", x=1.0, y=9.0)])
    op = SwitchingOperation(
        switch_column="k", mapping={"a": "x"}, default_column="y", output_column="o"
    )
    got = {r.k: r.o for r in apply_switching(df, op).collect()}
    assert got == {"a": 1.0, "z": 9.0}


def test_switching_non_string_mapping_keys(spark):
    # Mapping keys may be any YAML scalar, matched by equality against
    # the switch column (reference: app/models.py:63, SURVEY §2.3.4).
    df = spark.createDataFrame([Row(code=1, a=10.0, b=20.0), Row(code=2, a=10.0, b=20.0), Row(code=9, a=10.0, b=20.0)])
    op = SwitchingOperation(
        switch_column="code", mapping={1: "a", 2: "b"}, default_value=-1.0, output_column="v"
    )
    got = {r.code: r.v for r in apply_switching(df, op).collect()}
    assert got == {1: 10.0, 2: 20.0, 9: -1.0}


def test_switching_requires_exactly_one_default():
    with pytest.raises(SpecError, match="exactly one"):
        SwitchingOperation(switch_column="k", mapping={}, output_column="o")
    with pytest.raises(SpecError, match="exactly one"):
        SwitchingOperation(
            switch_column="k", mapping={}, default_column="x", default_value=0.0, output_column="o"
        )
