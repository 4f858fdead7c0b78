"""The op registry: spec classes (model.OPERATION_TYPES), their one
dispatcher entry each (operators.OPERATION_DISPATCHER), the runner's
lookup, the typed parse of spec fields, and the operator docs.  No test
here launches a Spark job."""

from __future__ import annotations

import os
import re

import pytest
import yaml

from openetlagent_spark import runner
from openetlagent_spark.model import (
    OPERATION_TYPES,
    Operation,
    SpecError,
    UnionOperation,
    _operation_types,
    parse_operation,
)
from openetlagent_spark.operators import OPERATION_DISPATCHER, ReadsInputs

DOCS = os.path.join(os.path.dirname(__file__), "..", "docs", "OPERATORS.md")

# the op types that read a named pipeline input
INPUT_OPS = {
    "bind", "union", "asof_join", "range_join", "similarity",
    "contamination", "incremental_dedup", "merge", "snapshot_diff",
    "fk_check", "bloom_gate", "cms_counts", "sql_transform",
}


def test_operation_types_keyed_by_class_default():
    assert len(OPERATION_TYPES) == 98
    for name, cls in OPERATION_TYPES.items():
        assert cls.__dataclass_fields__["operation_type"].default == name


def test_duplicate_operation_type_refused():
    from dataclasses import dataclass

    @dataclass
    class _Twin(Operation):
        operation_type: str = "limit"

    with pytest.raises(TypeError, match=r"^_Twin: operation_type 'limit' is empty or taken$"):
        _operation_types()


def test_runner_passes_spark_and_inputs_to_exactly_the_input_ops(monkeypatch):
    calls = {}

    def stub(name):
        def fn(df, op, *extra):
            calls[name] = extra
            return df
        return fn

    for name, entry in OPERATION_DISPATCHER.items():
        fn = stub(name)
        monkeypatch.setitem(
            OPERATION_DISPATCHER, name,
            ReadsInputs(fn) if isinstance(entry, ReadsInputs) else fn,
        )
    df, spark, inputs = object(), object(), {"orders": object()}
    for name, cls in OPERATION_TYPES.items():
        op = cls.__new__(cls)  # class defaults only; no __post_init__ guard
        assert runner.apply_operations(df, [op], spark, inputs) is df
    assert set(calls) == set(OPERATION_TYPES)
    assert {n for n, extra in calls.items() if extra} == INPUT_OPS
    assert all(extra == (spark, inputs) for n, extra in calls.items() if n in INPUT_OPS)


def test_runner_error_texts():
    df, spark = object(), object()
    with pytest.raises(ValueError, match=r"^Unknown operation type: 'nope'$"):
        runner.apply_operations(df, [Operation(operation_type="nope")], spark)
    op = UnionOperation(right_input="archive")
    with pytest.raises(
        ValueError,
        match=re.escape("union: right input 'archive' not found in pipeline inputs ['orders']"),
    ):
        runner.apply_operations(df, [op], spark, {"orders": object()})
    with pytest.raises(
        ValueError,
        match=re.escape("union: right input 'archive' not found in pipeline inputs []"),
    ):
        runner.apply_operations(df, [op], spark, None)


def test_operator_docs_cover_every_type_and_parse():
    with open(DOCS) as fh:
        blocks = re.findall(r"```yaml\n(.*?)```", fh.read(), re.S)
    documented = set()
    for block in blocks:
        for raw in yaml.safe_load(block):
            documented.add(parse_operation(raw).operation_type)
    assert set(OPERATION_TYPES) <= documented, sorted(set(OPERATION_TYPES) - documented)


# one refused value per annotation kind in use: (op type, field, value, expected)
MISTYPED = [
    ("equality", "input_column", 5, "str"),
    ("limit", "n", "10", "int"),
    ("limit", "n", True, "int"),
    ("sample", "fraction", "0.5", "float"),
    ("sample", "fraction", False, "float"),
    ("profile", "approx", "yes", "bool"),
    ("equality", "output_column", 3, "str | None"),
    ("repartition", "num_partitions", "8", "int | None"),
    ("histogram", "lo", "0", "float | None"),
    ("concatenation", "input_columns", "a", "list[str]"),
    ("concatenation", "input_columns", ["a", 1], "list[str]"),
    ("sort", "descending", [1], "list[bool]"),
    ("mixture", "weights", {"web": "0.5"}, "dict[str, float]"),
    ("bind", "right_schema_columns", {1: "integer"}, "dict[str, str]"),
    ("switching", "mapping", {"A": 1}, "dict[Any, str]"),
    ("bind", "left_on", 1, "str | list[str]"),
    ("bind", "left_on", ["cid", None], "str | list[str]"),
]


@pytest.mark.parametrize("op_type,field,value,expected", MISTYPED)
def test_parse_refuses_mistyped_field(op_type, field, value, expected):
    msg = (
        f"Invalid spec for {op_type}: field '{field}' expects {expected}, "
        f"got {value!r} ({type(value).__name__})"
    )
    with pytest.raises(SpecError, match=f"^{re.escape(msg)}$"):
        parse_operation({"operation_type": op_type, field: value})


def test_parse_accepts_int_for_float_any_and_either_union_arm():
    assert parse_operation({"operation_type": "sample", "fraction": 1}).fraction == 1
    op = parse_operation(
        {"operation_type": "switching", "switch_column": "c",
         "mapping": {1: "x", "b": "y"}, "default_value": [1, {"k": None}]}
    )
    assert op.default_value == [1, {"k": None}]
    for on in ("cid", ["cid", "region"]):
        op = parse_operation(
            {"operation_type": "bind", "right_file_path": "c", "left_on": on,
             "right_on": on, "columns_to_add": ["name"]}
        )
        assert op.left_on == on
    op = parse_operation({"operation_type": "histogram", "input_column": "v", "lo": None})
    assert op.lo is None
