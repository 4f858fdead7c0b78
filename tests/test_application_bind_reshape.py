"""Tests for application (sandboxed lambda: compiled Column or pandas
UDF), bind (join semantics), fold/unfold (reshape) — the reference's
trickiest parity points."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import types as T

from openetlagent_spark.model import (
    ApplicationOperation,
    BindOperation,
    FoldOperation,
    UnfoldOperation,
)
from openetlagent_spark.operators import (
    apply_application,
    apply_bind,
    apply_fold,
    apply_unfold,
    compile_lambda,
)
from openetlagent_spark.operators.application import (
    apply_application_udf,
    compile_application,
)

# --- application -----------------------------------------------------------


def test_application_dollar_strip(spark):
    # The reference flagship's lambda (pipelines/enriched_output_def.yaml:44-48).
    df = spark.createDataFrame([Row(unit_price="$1050.00"), Row(unit_price="$25.50")])
    op = ApplicationOperation(
        input_columns=["unit_price"],
        function_str="lambda r: r['unit_price'].replace('$', '')",
        output_column="unit_price_clean",
        return_type="string",
    )
    got = sorted(r.unit_price_clean for r in apply_application(df, op).collect())
    assert got == ["1050.00", "25.50"]


def test_application_infers_return_type(spark):
    df = spark.createDataFrame([Row(a=3, b=4)])
    op = ApplicationOperation(
        input_columns=["a", "b"],
        function_str="lambda r: float(r['a'] * r['b'])",
        output_column="prod",
    )
    out = apply_application(df, op)
    assert dict(out.dtypes)["prod"] == "double"
    assert out.collect()[0].prod == 12.0


def test_application_sandbox_blocks_builtins():
    fn = compile_lambda("lambda r: __import__('os')")
    with pytest.raises(Exception):
        fn({"x": 1})


def test_application_sandbox_allows_core_types(spark):
    df = spark.createDataFrame([Row(s="abc")])
    op = ApplicationOperation(
        input_columns=["s"],
        function_str="lambda r: str(len(r['s'])) ",
        output_column="n",
        return_type="string",
    )
    assert apply_application(df, op).collect()[0].n == "3"


# --- application: compiled path against the UDF path ----------------------
#
# Every construct in the compiled subset runs both ways over generated
# rows holding NULLs, NaN, ±0.0, int32/int64 extremes and empty and
# non-ASCII strings; the rows must be equal, or both paths must raise.

DIFF_SCHEMA = T.StructType([
    T.StructField("s", T.StringType()),
    T.StructField("i", T.IntegerType()),
    T.StructField("l", T.LongType()),
    T.StructField("d", T.DoubleType()),
])

# construct -> [(lambda, input_columns, return_type)]
SUBSET_LAMBDAS = {
    "column": [
        ("lambda r: r['s']", ["s", "i"], "string"),
        ("lambda r: r['l']", ["l"], "integer"),
        ("lambda r: r['i']", ["i", "d"], "integer"),
    ],
    "literal": [
        ("lambda r: -7", ["s"], "integer"),
        ("lambda r: 'x'", ["d"], None),
    ],
    "replace": [
        ("lambda r: r['s'].replace('$', '')", ["s"], "string"),
        ("lambda r: r['s'].replace('a', 'é😀').replace('é', '')", ["s", "l"], None),
    ],
    "conditional": [
        ("lambda r: 999 if r['i'] == 105 else r['l']", ["i", "l"], "integer"),
        ("lambda r: r['s'] if r['d'] > 0.5 else 'low'", ["s", "d"], "string"),
        ("lambda r: True if r['s'] == '' else r['l'] < 0", ["s", "l"], "boolean"),
    ],
    "equality": [
        ("lambda r: r['l'] == 105", ["l"], "boolean"),
        ("lambda r: r['i'] != -1", ["i", "s"], "boolean"),
        ("lambda r: r['s'] == 'a'", ["s"], "boolean"),
        ("lambda r: r['d'] == 0", ["d"], "boolean"),
        ("lambda r: 0.5 != r['d']", ["d", "s"], "boolean"),
    ],
    "ordering": [
        ("lambda r: r['l'] >= -3", ["l", "i"], "boolean"),
        ("lambda r: r['d'] < 0.5", ["d"], "boolean"),
        ("lambda r: r['d'] > -1", ["d", "i"], "boolean"),
        ("lambda r: r['s'] <= 'b'", ["s"], "boolean"),
        ("lambda r: 2.5 < r['i']", ["i"], "boolean"),
    ],
    "boolop": [
        ("lambda r: r['i'] > 0 and r['s'] < 'm'", ["i", "s"], "boolean"),
        ("lambda r: not (r['l'] == 0 or r['d'] != 1.5)", ["l", "d"], "boolean"),
    ],
}

_TEXT = st.text(alphabet="$ab é日😀\t", max_size=5)
_INT32 = st.sampled_from([0, -1, 1, 105, 2**31 - 1, -2**31]) | st.integers(-2**31, 2**31 - 1)
_INT64 = (st.sampled_from([0, 105, 2**53 + 1, 2**63 - 1, -2**63])
          | st.integers(-2**63, 2**63 - 1))
_DOUBLE = (st.sampled_from([0.0, -0.0, math.nan, 0.5, 1.5, -1.0, math.inf])
           | st.floats(allow_nan=True, allow_infinity=True))


@st.composite
def _diff_rows(draw):
    nulls = draw(st.booleans())

    def maybe(strategy):
        return (st.none() | strategy) if nulls else strategy

    row = st.tuples(maybe(_TEXT), maybe(_INT32), maybe(_INT64), maybe(_DOUBLE))
    return draw(st.lists(row, max_size=8))


def _outcome(df, op, path):
    try:
        return [r[op.output_column] for r in path(df, op).collect()], None
    except Exception as exc:  # a raising lambda fails the action
        return None, exc


def _outcomes(df, ops, path):
    """Each op's ``(values, None)`` or ``(None, error)``: all ops in one
    job, each alone when that job raises."""
    out = df
    for op in ops:
        out = path(out, op)
    try:
        rows = out.select(*[op.output_column for op in ops]).collect()
    except Exception:
        return [_outcome(df, op, path) for op in ops]
    return [([r[i] for r in rows], None) for i in range(len(ops))]


def _udf_reads_long_as_float(rows, cols) -> bool:
    """pandas hands the UDF a 64-bit column as float64 when its batch
    holds a NULL, and an all-numeric row as float64 when any column is;
    a value beyond ±2^53 is then rounded (or leaves int64 and fails the
    batch).  The compiled path keeps it exact."""
    if "l" not in cols or not any(r[2] is not None and abs(r[2]) > 2**53 for r in rows):
        return False
    nulls = any(r[1] is None or r[2] is None for r in rows)
    return nulls or ("s" not in cols and "d" in cols)


@pytest.mark.parametrize("construct", sorted(SUBSET_LAMBDAS))
@settings(max_examples=5, derandomize=True, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(rows=_diff_rows())
@example(rows=[("", 2**31 - 1, 2**63 - 1, -0.0), ("日😀", -2**31, -2**63, math.nan),
               ("$a$", 105, 105, math.inf), ("b", 0, 0, 0.5)])
@example(rows=[(None, None, None, None), ("a", 105, 2**53 + 1, 0.0), ("$", -1, 105, math.nan)])
def test_application_compiled_matches_udf(spark, construct, rows):
    ops = [ApplicationOperation(input_columns=cols, function_str=fn, return_type=rtype,
                                output_column=f"out{k}")
           for k, (fn, cols, rtype) in enumerate(SUBSET_LAMBDAS[construct])]
    for op in ops:
        assert compile_application(op, DIFF_SCHEMA) is not None, op.function_str
    # one partition, so the rows share one Arrow batch on the UDF path
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), DIFF_SCHEMA)
    udf_runs = _outcomes(df, ops, apply_application_udf)
    compiled_runs = _outcomes(df, ops, apply_application)
    for op, (want, want_err), (got, got_err) in zip(ops, udf_runs, compiled_runs):
        ctx = (op.function_str, rows)
        if want_err is not None:
            if got_err is None:
                # only the float64 rounding may fail the UDF batch alone
                assert _udf_reads_long_as_float(rows, op.input_columns), (ctx, want_err)
                assert "Arrow" in str(want_err), want_err
            continue
        assert got_err is None, (ctx, got_err)
        if _udf_reads_long_as_float(rows, op.input_columns):
            assert all(w == g or w == int(float(g)) for w, g in zip(want, got)), (ctx, want, got)
        else:
            assert got == want, ctx


def test_application_compiled_replace_on_null_raises_named(spark):
    df = spark.createDataFrame([("$1",), (None,)], "unit_price string")
    op = ApplicationOperation(
        input_columns=["unit_price"],
        function_str="lambda r: r['unit_price'].replace('$', '')",
        return_type="string", output_column="clean")
    with pytest.raises(Exception) as udf_err:
        apply_application_udf(df, op).collect()
    assert "AttributeError" in str(udf_err.value)
    with pytest.raises(Exception) as err:
        apply_application(df, op).collect()
    msg = str(err.value)
    assert "USER_RAISED_EXCEPTION" in msg and "'.replace' on a NULL in column 'unit_price'" in msg
    assert op.function_str in msg and "Traceback" not in msg


def test_application_compiled_eq_ne_with_null_ints(spark):
    # pandas reads the NULL as NaN, so the UDF answers False / True, never NULL
    df = spark.createDataFrame([(7,), (None,), (8,)], "q bigint").coalesce(1)
    for fn, want in [("lambda r: r['q'] == 7", [True, False, False]),
                     ("lambda r: r['q'] != 7", [False, True, True])]:
        op = ApplicationOperation(input_columns=["q"], function_str=fn,
                                  return_type="boolean", output_column="o")
        assert compile_application(op, df.schema) is not None
        assert [r.o for r in apply_application(df, op).collect()] == want
        assert [r.o for r in apply_application_udf(df, op).collect()] == want


def test_application_compiled_keeps_long_exact_where_udf_rounds(spark):
    df = spark.createDataFrame([(2**53 + 1,), (None,)], "q bigint").coalesce(1)
    op = ApplicationOperation(input_columns=["q"], function_str="lambda r: r['q']",
                              return_type="integer", output_column="o")
    assert [r.o for r in apply_application(df, op).collect()] == [2**53 + 1, None]
    assert [r.o for r in apply_application_udf(df, op).collect()] == [2**53, None]


FLOW_SCHEMA = T.StructType([
    T.StructField("order_id", T.LongType()),
    T.StructField("quantity", T.LongType()),
    T.StructField("unit_price", T.StringType()),
    T.StructField("o_totalprice", T.DoubleType()),
    T.StructField("p_name", T.StringType()),
])


@pytest.mark.parametrize("fn,cols,rtype", [
    ("lambda r: r['unit_price'].replace('$', '')", ["unit_price"], "string"),
    ("lambda r: 999 if r['order_id'] == 105 else r['quantity']", ["order_id", "quantity"], "integer"),
])
def test_application_subset_covers_benchmark_flow_lambdas(spark, fn, cols, rtype):
    op = ApplicationOperation(input_columns=cols, function_str=fn, return_type=rtype,
                              output_column="o")
    assert compile_application(op, FLOW_SCHEMA) is not None


# Constructs kept out of the subset: each differs from Python somewhere.
OUTSIDE_SUBSET = [
    ("lambda r: r['unit_price'].strip()", "string"),       # Unicode whitespace vs spaces
    ("lambda r: r['unit_price'].replace('', '-')", "string"),
    ("lambda r: round(r['o_totalprice'])", "integer"),     # half-even vs half-up
    ("lambda r: str(r['o_totalprice'])", "string"),
    ("lambda r: r['quantity'] / 2", "float"),
    ("lambda r: r['quantity'] // 2", "integer"),
    ("lambda r: r['quantity'] % 2", "integer"),
    ("lambda r: r['quantity'] + 1", "integer"),            # numpy wraps, ANSI raises
    ("lambda r: r['unit_price'].upper()", "string"),
    ("lambda r: r['unit_price'].lower()", "string"),
    ("lambda r: r['unit_price'] and r['quantity']", "integer"),
    ("lambda r: r['quantity'] or 0", "integer"),
    ("lambda r: (r['o_totalprice'] * 100).round(0)", "integer"),
    ("lambda r: r['quantity'] == 9007199254740993", "boolean"),  # not exact as float64
    ("lambda r: r['unit_price'] == '\\ud800'", "boolean"),  # no Spark string holds it
    ("lambda r: r['order_id'] == 105", None),              # the probe types it by row
    ("lambda r: r['o_totalprice']", "float"),              # the UDF turns NaN into NULL
    ("lambda r: r['missing']", "string"),
    ("lambda r, s=1: r['unit_price']", "string"),
]


@pytest.mark.parametrize("fn,rtype", OUTSIDE_SUBSET)
def test_application_outside_subset_stays_udf(spark, fn, rtype):
    op = ApplicationOperation(input_columns=["order_id", "quantity", "unit_price", "o_totalprice"],
                              function_str=fn, return_type=rtype, output_column="o")
    assert compile_application(op, FLOW_SCHEMA) is None


def test_application_outside_subset_plans_arrow_udf(spark):
    df = spark.createDataFrame([(" a ",)], "unit_price string")
    op = ApplicationOperation(input_columns=["unit_price"],
                              function_str="lambda r: r['unit_price'].strip()",
                              return_type="string", output_column="o")
    out = apply_application(df, op)
    assert "ArrowEvalPython" in out._jdf.queryExecution().executedPlan().toString()
    assert out.collect()[0].o == "a"


# --- bind ------------------------------------------------------------------


def _left(spark):
    return spark.createDataFrame(
        [
            Row(order_id=101, customer_id=1, country="LEFTLAND"),
            Row(order_id=102, customer_id=2, country="LEFTLAND"),
            Row(order_id=103, customer_id=9, country="LEFTLAND"),
        ]
    )


def _right(spark):
    return spark.createDataFrame(
        [
            Row(customer_id=1, customer_name="Alice", country="USA"),
            Row(customer_id=2, customer_name="Bob", country="UK"),
        ]
    )


def test_bind_left_join_drops_right_key_and_suffixes_collisions(spark):
    # Polars: right key dropped; colliding columns renamed `_right`
    # (SURVEY §2.3.2; pipelines depend on `country_right` etc.)
    op = BindOperation(
        right_file_path="customers",
        left_on="customer_id",
        right_on="customer_id",
        how="left",
        columns_to_add=["customer_name", "country"],
    )
    out = apply_bind(_left(spark), op, spark, {"customers": _right(spark)})
    assert set(out.columns) == {"order_id", "customer_id", "country", "customer_name", "country_right"}
    rows = {r.order_id: r for r in out.collect()}
    assert rows[101].customer_name == "Alice" and rows[101].country_right == "USA"
    assert rows[103].customer_name is None  # unmatched left row survives
    assert out.count() == 3


def test_bind_inner_join(spark):
    op = BindOperation(
        right_file_path="customers",
        left_on="customer_id",
        right_on="customer_id",
        how="inner",
        columns_to_add=["customer_name"],
    )
    out = apply_bind(_left(spark), op, spark, {"customers": _right(spark)})
    assert out.count() == 2


def test_bind_outer_join_coalesces_key(spark):
    right = spark.createDataFrame([Row(customer_id=2, customer_name="Bob"), Row(customer_id=7, customer_name="Eve")])
    op = BindOperation(
        right_file_path="x",
        left_on="customer_id",
        right_on="customer_id",
        how="outer",
        columns_to_add=["customer_name"],
    )
    out = apply_bind(_left(spark), op, spark, {"x": right})
    keys = sorted(r.customer_id for r in out.collect())
    assert keys == [1, 2, 7, 9]


def test_bind_cross_join(spark):
    right = spark.createDataFrame([Row(tag="a"), Row(tag="b")])
    op = BindOperation(right_file_path="x", how="cross", columns_to_add=["tag"])
    out = apply_bind(_left(spark), op, spark, {"x": right})
    assert out.count() == 6


def test_bind_reads_csv_with_declared_schema(spark, tmp_path):
    p = tmp_path / "dim.csv"
    p.write_text("k,v\n1,one\n2,two\n")
    op = BindOperation(
        right_file_path=str(p),
        right_schema_columns={"k": "integer", "v": "string"},
        left_on="customer_id",
        right_on="k",
        how="left",
        columns_to_add=["v"],
    )
    out = apply_bind(_left(spark), op, spark)
    rows = {r.order_id: r.v for r in out.collect()}
    assert rows == {101: "one", 102: "two", 103: None}


def test_bind_collision_with_left_join_key_gets_suffixed(spark):
    # A right column named like the LEFT join key must still be suffixed
    # (it is a data column, not the key — the key is right_on).
    left = spark.createDataFrame([Row(customer_id=1, x="l")])
    right = spark.createDataFrame([Row(rid=1, customer_id=999, y="r")])
    op = BindOperation(
        right_file_path="x",
        left_on="customer_id",
        right_on="rid",
        how="left",
        columns_to_add=["customer_id", "y"],
    )
    out = apply_bind(left, op, spark, {"x": right})
    assert set(out.columns) == {"customer_id", "x", "customer_id_right", "y"}
    r = out.collect()[0]
    assert r.customer_id == 1 and r.customer_id_right == 999


def test_bind_right_key_in_columns_to_add_deduped(spark):
    left = spark.createDataFrame([Row(k=1, x="l")])
    right = spark.createDataFrame([Row(k=1, y="r")])
    op = BindOperation(
        right_file_path="x", left_on="k", right_on="k", how="inner",
        columns_to_add=["k", "y"],
    )
    out = apply_bind(left, op, spark, {"x": right})
    assert out.columns.count("k") == 1
    assert set(out.columns) == {"k", "x", "y"}


def test_bind_missing_column_error_names_available(spark):
    op = BindOperation(
        right_file_path="x",
        left_on="customer_id",
        right_on="customer_id",
        how="left",
        columns_to_add=["nope"],
    )
    with pytest.raises(ValueError, match=r"\['nope'\]"):
        apply_bind(_left(spark), op, spark, {"x": _right(spark)})


# --- fold / unfold ---------------------------------------------------------


def test_fold_basic(spark):
    df = spark.createDataFrame([Row(id=1, x=10.0, y=20.0)])
    op = FoldOperation(
        id_columns=["id"], value_columns=["x", "y"], key_column_name="k", value_column_name="v"
    )
    out = apply_fold(df, op).orderBy("k").collect()
    assert [(r.id, r.k, r.v) for r in out] == [(1, "x", 10.0), (1, "y", 20.0)]


def test_fold_id_value_overlap_replicates_rows(spark):
    # Committed reference pipeline folds its own id columns, replicating
    # each row len(value_columns)× (pipelines/summary_output_def.yaml:71-97).
    df = spark.createDataFrame([Row(region="USA", a=1.0, b=2.0, c=3.0)])
    op = FoldOperation(
        id_columns=["region", "a"],
        value_columns=["a", "b", "c"],
        key_column_name="k",
        value_column_name="v",
    )
    out = apply_fold(df, op)
    assert out.count() == 3
    assert set(out.columns) == {"region", "a", "k", "v"}


def test_fold_mixed_types_supercast_to_string(spark):
    df = spark.createDataFrame([Row(id=1, num=5, txt="hello")])
    op = FoldOperation(
        id_columns=["id"], value_columns=["num", "txt"], key_column_name="k", value_column_name="v"
    )
    out = apply_fold(df, op)
    assert dict(out.dtypes)["v"] == "string"
    got = {r.k: r.v for r in out.collect()}
    assert got == {"num": "5", "txt": "hello"}


def test_fold_numeric_mix_supercasts_to_double(spark):
    df = spark.createDataFrame([Row(id=1, i=5, f=2.5)])
    op = FoldOperation(
        id_columns=["id"], value_columns=["i", "f"], key_column_name="k", value_column_name="v"
    )
    out = apply_fold(df, op)
    assert dict(out.dtypes)["v"] == "double"


def test_unfold_pivot_first_deterministic(spark):
    # Duplicate (index, key): FIRST wins (app/operations/unfold.py:34);
    # deterministic via the order column.
    df = spark.createDataFrame(
        [
            Row(id=1, k="a", v=10.0, seq=1),
            Row(id=1, k="a", v=99.0, seq=2),  # duplicate -> first (seq=1) wins
            Row(id=1, k="b", v=20.0, seq=3),
            Row(id=2, k="a", v=30.0, seq=4),
        ]
    )
    op = UnfoldOperation(
        index_columns=["id"], key_column="k", value_column="v", order_column="seq"
    )
    out = {r.id: r for r in apply_unfold(df, op).collect()}
    assert out[1].a == 10.0 and out[1].b == 20.0
    assert out[2].a == 30.0 and out[2].b is None


def test_unfold_without_order_column_uses_scan_order(spark):
    df = spark.createDataFrame([Row(id=1, k="a", v=1.0), Row(id=1, k="a", v=2.0)]).coalesce(1)
    op = UnfoldOperation(index_columns=["id"], key_column="k", value_column="v")
    assert apply_unfold(df, op).collect()[0].a == 1.0


def test_fold_then_unfold_roundtrip(spark):
    df = spark.createDataFrame([Row(id=1, x=10.0, y=20.0), Row(id=2, x=30.0, y=40.0)])
    folded = apply_fold(
        df,
        FoldOperation(id_columns=["id"], value_columns=["x", "y"], key_column_name="k", value_column_name="v"),
    )
    unfolded = apply_unfold(
        folded, UnfoldOperation(index_columns=["id"], key_column="k", value_column="v")
    )
    got = {r.id: (r.x, r.y) for r in unfolded.collect()}
    assert got == {1: (10.0, 20.0), 2: (30.0, 40.0)}


def test_bind_multikey_join(spark):
    from openetlagent_spark.model import BindOperation
    from openetlagent_spark.operators import apply_bind

    left = spark.createDataFrame(
        [Row(k1=1, k2="a", v=10), Row(k1=1, k2="b", v=20), Row(k1=2, k2="a", v=30)]
    )
    right = spark.createDataFrame(
        [Row(k1=1, k2="a", extra="x"), Row(k1=2, k2="a", extra="y"), Row(k1=9, k2="z", extra="n")]
    )
    op = BindOperation(
        right_file_path="r", left_on=["k1", "k2"], right_on=["k1", "k2"], how="inner",
        columns_to_add=["extra"],
    )
    out = apply_bind(left, op, spark, {"r": right})
    got = sorted((r.k1, r.k2, r.v, r.extra) for r in out.collect())
    assert got == [(1, "a", 10, "x"), (2, "a", 30, "y")]
    # both right key columns dropped, no duplicates
    assert out.columns == ["k1", "k2", "v", "extra"]


def test_bind_multikey_outer_coalesces_all_keys(spark):
    from openetlagent_spark.model import BindOperation
    from openetlagent_spark.operators import apply_bind

    left = spark.createDataFrame([Row(k1=1, k2="a", v=10)])
    right = spark.createDataFrame([Row(k1=2, k2="b", extra="y")])
    op = BindOperation(
        right_file_path="r", left_on=["k1", "k2"], right_on=["k1", "k2"], how="outer",
        columns_to_add=["extra"],
    )
    got = sorted(
        (r.k1, r.k2, r.v, r.extra) for r in apply_bind(left, op, spark, {"r": right}).collect()
    )
    assert got == [(1, "a", 10, None), (2, "b", None, "y")]


def test_bind_key_count_mismatch_raises():
    from openetlagent_spark.model import BindOperation, SpecError

    with pytest.raises(SpecError, match="key counts differ"):
        BindOperation(left_on=["a", "b"], right_on="a", how="inner")


def test_bind_salted_join_matches_unsalted(spark):
    from openetlagent_spark.model import BindOperation
    from openetlagent_spark.operators import apply_bind

    # Skewed left: one hot key with many rows.
    left = spark.createDataFrame(
        [Row(k=1, v=i) for i in range(200)] + [Row(k=2, v=-1), Row(k=3, v=-2)]
    )
    right = spark.createDataFrame([Row(k=1, name="hot"), Row(k=2, name="cold")])

    plain = BindOperation(
        right_file_path="r", left_on="k", right_on="k", how="left", columns_to_add=["name"]
    )
    salted = BindOperation(
        right_file_path="r", left_on="k", right_on="k", how="left", columns_to_add=["name"],
        skew_salt=8,
    )
    want = sorted(
        (r.k, r.v, r.name) for r in apply_bind(left, plain, spark, {"r": right}).collect()
    )
    got = sorted(
        (r.k, r.v, r.name) for r in apply_bind(left, salted, spark, {"r": right}).collect()
    )
    assert got == want
    assert len(got) == 202


def test_bind_salt_invalid_how_raises():
    from openetlagent_spark.model import BindOperation, SpecError

    with pytest.raises(SpecError, match="skew_salt"):
        BindOperation(left_on="k", right_on="k", how="outer", skew_salt=4)


# --- side inputs named by a pipeline key ----------------------------------


def _named_inputs(spark, tmp_path):
    """One named input per format over the same rows; the parquet one
    declares an int64 column as float."""
    from openetlagent_spark.model import ColumnDefinition, FileDefinition, FileSchema

    def fd(path, fmt, **cols):
        schema = FileSchema(name=fmt, columns={c: ColumnDefinition(t) for c, t in cols.items()})
        return FileDefinition(path=str(path), format=fmt, file_schema=schema)

    rows = spark.createDataFrame([Row(k=1, name="a b c"), Row(k=2, name="d e f")])
    for fmt in ("csv", "json", "parquet", "orc"):
        rows.write.mode("overwrite").option("header", True).format(fmt).save(str(tmp_path / fmt))
    (tmp_path / "lines.txt").write_text("a b c\nx y z\n")
    (tmp_path / "media").mkdir()
    (tmp_path / "media" / "one.bin").write_bytes(b"\x00\x01")
    return {
        "csv": fd(tmp_path / "csv", "csv", k="integer", name="string"),
        "json": fd(tmp_path / "json", "json", k="integer", name="string"),
        "parquet": fd(tmp_path / "parquet", "parquet", k="float", name="string"),
        "orc": fd(tmp_path / "orc", "orc", k="integer"),
        "text": fd(tmp_path / "lines.txt", "text", line="string"),
        "binary": fd(tmp_path / "media", "binary", content="binary", length="integer"),
    }


def test_resolve_side_reads_a_named_input_like_a_flow_source(spark, tmp_path):
    from openetlagent_spark.operators.bind import resolve_side
    from openetlagent_spark.sources import scan_data

    inputs = _named_inputs(spark, tmp_path)
    for key, fd in inputs.items():
        side = resolve_side(spark, key, {"ignored": "string"}, inputs)
        source = scan_data(spark, fd)
        assert side.schema == source.schema, key
        assert sorted(side.collect()) == sorted(source.collect()), key
    assert dict(resolve_side(spark, "parquet", None, inputs).dtypes)["k"] == "double"


def test_contamination_against_a_named_text_benchmark(spark, tmp_path):
    from openetlagent_spark.model import ContaminationOperation
    from openetlagent_spark.runner import apply_operations

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b c"), Row(doc_id=2, text="p q r")]
    )
    op = ContaminationOperation(
        benchmark_path="text", benchmark_text_column="line", rate_threshold=0.5
    )
    out = apply_operations(docs, [op], spark, _named_inputs(spark, tmp_path))
    assert {r["doc_id"]: r["contaminated"] for r in out.collect()} == {1: True, 2: False}
