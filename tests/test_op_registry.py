"""The op registry: spec classes (model.OPERATION_TYPES), their one
dispatcher entry each (operators.OPERATION_DISPATCHER), the runner's
lookup, the typed parse of spec fields, and the operator docs.  No test
here launches a Spark job."""

from __future__ import annotations

import ast
import copy
import dataclasses
import functools
import math
import os
import re
import typing

from typing import Annotated, Any, Literal

import pytest
import yaml

from openetlagent_spark import runner
from openetlagent_spark.model import (
    OPERATION_TYPES,
    Bound,
    NonEmpty,
    Operation,
    SpecError,
    UnionOperation,
    _conforms,
    _field_types,
    _input_fields,
    _operation_types,
    columns_read,
    parse_operation,
)
from openetlagent_spark.operators import OPERATION_DISPATCHER, ReadsInputs

DOCS = os.path.join(os.path.dirname(__file__), "..", "docs", "OPERATORS.md")
PLANS = os.path.join(os.path.dirname(__file__), "..", "openetlagent_spark", "plans")

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


class _EveryColumn(list):
    def __contains__(self, name):
        return True


class _Frame:
    """A frame stub: the runner reads only its ``columns``."""

    def __init__(self, columns):
        self.columns = columns


def _with_defaults(cls):
    """A spec holding its class defaults, built without the field check."""
    op = cls.__new__(cls)
    for f in dataclasses.fields(cls):
        default = f.default_factory() if f.default is dataclasses.MISSING else f.default
        setattr(op, f.name, default)
    return op


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
    df, spark, inputs = _Frame(_EveryColumn()), object(), {"orders": object()}
    for name, cls in OPERATION_TYPES.items():
        op = _with_defaults(cls)  # no __post_init__ guard
        assert runner.apply_operations(df, [op], spark, inputs) is df
    assert set(calls) == set(OPERATION_TYPES)
    assert {n for n, extra in calls.items() if extra} == INPUT_OPS
    assert all(extra == (spark, inputs) for n, extra in calls.items() if n in INPUT_OPS)


def test_plans_reach_operators_only_through_the_runner():
    """Every harness plan runs its ops through ``apply_operations``: no
    plan module imports from ``operators`` or names an ``apply_*``
    operator function."""
    modules = sorted(f for f in os.listdir(PLANS) if f.endswith(".py"))
    assert "harness_queries.py" in modules
    for module in modules:
        with open(os.path.join(PLANS, module)) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            names = []
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                paths = [node.module or ""] if isinstance(node, ast.ImportFrom) else []
                paths += [a.name for a in node.names]
                assert not any("operators" in p.split(".") for p in paths), (module, node.lineno)
                names = [a.asname or a.name for a in node.names] + [a.name for a in node.names]
            elif isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            named = [n for n in names if n.startswith("apply_") and n != "apply_operations"]
            assert not named, (module, node.lineno, named)


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


@functools.cache
def _documented_specs() -> dict[str, dict]:
    """The first docs/OPERATORS.md example of each op type: a spec that
    parses, used as the base that one field at a time is varied on."""
    with open(DOCS) as fh:
        blocks = re.findall(r"```yaml\n(.*?)```", fh.read(), re.S)
    found: dict[str, dict] = {}
    for block in blocks:
        for raw in yaml.safe_load(block):
            found.setdefault(raw["operation_type"], raw)
    return found


def _number_type(tp) -> type:
    return float if float in typing.get_args(tp) or tp is float else int


def _bound_values(bound: Bound, num: type) -> tuple[list, list]:
    """(the values at each end of ``bound`` that it admits, the first
    values past each end)."""
    def step(x, up):
        return x + (1 if up else -1) if num is int else math.nextafter(x, math.inf if up else -math.inf)

    lo = num(bound.lo)
    ok = [step(lo, True) if bound.lo_open else lo]
    bad = [lo if bound.lo_open else step(lo, False)]
    if bound.hi is not None:
        hi = num(bound.hi)
        ok.append(step(hi, False) if bound.hi_open else hi)
        bad.append(hi if bound.hi_open else step(hi, True))
    if num is float:
        bad.append(math.nan)
    return ok, bad


def _contract_values(tp, sample) -> tuple[list, list]:
    """(accepted, refused) values for the contract declared on ``tp``:
    each marker's boundary, each ``Literal`` member, and the same one
    level down for list elements and dict values."""
    origin, args = typing.get_origin(tp), typing.get_args(tp)
    if origin is Annotated:
        ok, bad = _contract_values(args[0], sample)
        for mark in tp.__metadata__:
            if isinstance(mark, NonEmpty):
                ok.append(sample)
                bad += [type(sample)(), None]
            elif isinstance(mark, Bound):
                b_ok, b_bad = _bound_values(mark, _number_type(args[0]))
                ok += b_ok
                bad += b_bad
        return ok, bad
    if origin is Literal:
        return list(args), [f"not-{args[0]}"]
    if origin is list:
        ok, bad = _contract_values(args[0], None)
        return [[v] for v in ok], [[v] for v in bad]
    if origin is dict:
        ok, bad = _contract_values(args[1], None)
        return [{"k": v} for v in ok], [{"k": v} for v in bad]
    return [], []


# fields that the documented example does not satisfy a spec's own
# (mode-dependent or cross-field) rules for, at every accepted value
EXTRA = {
    ("chunk", "chunk_size"): {"overlap": 0},
    ("dedup", "strategy"): {"id_column": "id", "text_column": "t", "vector_column": "v"},
    ("dedup", "mode"): {
        "strategy": "minhash", "id_column": "id", "text_column": "t", "score_column": "s",
    },
    ("expectations", "mode"): {"rules": [{"column": "c", "check": "not_null"}]},
    ("range_join", "kind"): dict.fromkeys(
        ["key", "time_column", "id_column", "right_file_path", "left_on", "right_on",
         "start_column", "end_column", "left_id_column", "right_id_column",
         "left_start_column", "left_end_column"], "c"
    ) | {"value_columns": ["v"]},
    ("window", "frame_type"): {"order_by": ["ts"], "descending": [], "frame": []},
}
# a one-entry dict the percentages rule refuses: the boundary entry
# plus the rest of the 100
ACCEPTED_OVERRIDES = {("split_assign", "splits", "{'k': 1}"): {"k": 1, "rest": 99}}


def _contract_table():
    docs = _documented_specs()
    for op_type, cls in sorted(OPERATION_TYPES.items()):
        for name, tp in _field_types(cls).items():
            base = {k: v for k, v in docs[op_type].items() if k != "operation_type"}
            sample = base.get(name) or getattr(cls(**base), name)
            ok, bad = _contract_values(tp, sample)
            for value in ok:
                yield op_type, name, ACCEPTED_OVERRIDES.get((op_type, name, repr(value)), value), True
            for value in bad:
                yield op_type, name, value, False


CONTRACT = list(_contract_table())


def test_contract_table_covers_every_declared_field():
    declared = {(t, f) for t, f, _, _ in CONTRACT}
    assert len(declared) >= 150
    assert sum(not accepted for *_, accepted in CONTRACT) >= 250
    for op_type, field in [("limit", "n"), ("concatenation", "separator")]:
        assert (op_type, field) not in declared  # undeclared fields stay open
    # an index geometry of 0 (nprobe: 0 would probe no list and return
    # nothing) is refused at parse time, the field named
    for field in ("n_planes", "n_tables", "n_centroids", "nprobe"):
        assert ("similarity", field, 0, False) in CONTRACT
        assert ("similarity", field, 1, True) in CONTRACT


@pytest.mark.parametrize(
    "op_type,field,value,accepted", CONTRACT, ids=lambda v: repr(v)[:40]
)
def test_declared_contract_boundaries(op_type, field, value, accepted):
    raw = {**_documented_specs()[op_type], **EXTRA.get((op_type, field), {}), field: value}
    raw = copy.deepcopy(raw)
    if accepted:
        assert getattr(parse_operation(raw), field) == value
        return
    with pytest.raises(SpecError, match=rf"\b{op_type}\b.*\b{field}\b"):
        parse_operation(raw)


def _mistyped(tp):
    """A value whose type ``tp`` refuses."""
    return next(v for v in (5, "5", [object()], None) if not _conforms(v, tp))


@pytest.mark.parametrize("op_type", sorted(OPERATION_TYPES))
def test_construction_checks_field_types(op_type):
    """Every spec class runs the base check at ``cls(...)``, not only
    through the parser (``LimitOperation(n="5")`` built at the parent):
    no subclass can skip it."""
    cls = OPERATION_TYPES[op_type]
    hints = _field_types(cls)
    own = [n for n in hints if n not in ("output_column", "operation_type")]
    name = next((n for n in own if hints[n] is not Any), "output_column")
    value = _mistyped(hints[name])
    with pytest.raises(SpecError, match=rf"^Invalid spec for {op_type}: field '{name}' expects "):
        cls(**{name: value})


def test_spec_checks_cannot_bypass_the_field_check():
    from dataclasses import dataclass

    with pytest.raises(TypeError, match="put spec checks in check()"):
        @dataclass
        class _Bypass(Operation):
            operation_type: str = "bypass"

            def __post_init__(self) -> None:
                pass


# the op types whose columns all depend on a mode or on other fields,
# sit in nested values or on a side frame, or that read no column
UNDECLARED_READS = {
    "assignation", "limit", "union", "dedup", "range_join", "mixture",
    "provenance", "sql_transform", "expectations",
}
INPUT_FIELDS = [
    (op_type, name)
    for op_type, cls in sorted(OPERATION_TYPES.items())
    for name in _input_fields(cls)
]


def test_input_column_fields_cover_every_reading_op():
    assert {t for t, _ in INPUT_FIELDS} == set(OPERATION_TYPES) - UNDECLARED_READS
    assert len(INPUT_FIELDS) >= 160


def _pointing_at(value, column):
    """``value`` with its first column name replaced by ``column``."""
    if isinstance(value, dict):
        return {**value, next(iter(value), "k"): column}
    if isinstance(value, list):
        return [column, *value[1:]]
    return column


@pytest.mark.parametrize("op_type,field", INPUT_FIELDS)
def test_runner_names_a_missing_input_column_before_the_op_runs(op_type, field, monkeypatch):
    def op_ran(*args):
        raise AssertionError(f"{op_type} ran")

    entry = OPERATION_DISPATCHER[op_type]
    monkeypatch.setitem(
        OPERATION_DISPATCHER, op_type,
        ReadsInputs(op_ran) if isinstance(entry, ReadsInputs) else op_ran,
    )
    op = parse_operation(copy.deepcopy(_documented_specs()[op_type]))
    available = [c for c in columns_read(op) if c != "nope"]
    op = copy.copy(op)
    setattr(op, field, _pointing_at(getattr(op, field), "nope"))
    msg = (
        f"Operation '{op_type}': input column(s) ['nope'] not found. "
        f"Available columns: {available}"
    )
    with pytest.raises(ValueError, match=f"^{re.escape(msg)}$"):
        runner.apply_operations(_Frame(available), [op], object(), {})
