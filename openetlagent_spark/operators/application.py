"""``application``: row-wise sandboxed Python lambda.

The reference compiles an untrusted lambda string with a restricted
``eval`` (only float/int/str/list/dict/set/tuple/True/False/None in
scope — app/operations/application.py:14-19) and maps it row-at-a-time
over a struct of the input columns (app/operations/application.py:26-29,
self-described as "potentially slow").  The lambda receives a dict-like
row (``r['col']``), exactly the reference's calling convention
(app/instruct_prompt.py:81).

Two execution paths, chosen from the lambda's text, the input schema
and the declared ``return_type`` alone:

- **Compiled** (``compile_application``): a lambda inside a small
  subset — column reads, literals, ``.replace`` with a non-empty
  literal, conditional expressions, comparisons against a literal,
  ``and``/``or``/``not`` over comparisons — is translated into one
  Spark ``Column``.  It runs in the JVM: no Python worker, no Arrow
  transfer.  Every construct in the subset returns what the UDF path
  returns, NULL included, or raises where it raises (see
  tests/test_application_bind_reshape.py's differential tests).  The
  one deliberate difference: pandas reads an integer column through
  float64 when its batch holds a NULL, so the UDF path rounds 64-bit
  values beyond ±2^53 there (or fails the batch); the compiled path
  keeps them exact.
- **UDF** (``apply_application_udf``): everything else runs the same
  restricted-eval lambda as an Arrow-batched pandas UDF over a struct
  column.  Each job holding one pays a Python-worker round trip that
  does not grow with the data: 0.32–0.39 s per job at 20, 20,000 and
  200,000 rows on a warm local[4] JVM (4-core x86 host), against
  0.08–0.12 s for the same job run only in the JVM.

Return type: Polars infers it; Spark needs a declared type.  We accept a
declared ``return_type`` on the spec.  Without one, a compiled string
lambda is typed from its expression; the UDF path infers by probing the
lambda on a 1-row sample (``df.limit(1)`` — one tiny job, the lazy
analogue of the reference's trial-execution probe at app/main.py:255),
else ``string``.
"""

from __future__ import annotations

import ast
from typing import Any, Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import ApplicationOperation
from ..types import logical_to_spark

# The reference's exact sandbox surface (app/operations/application.py:14-17).
SANDBOX_BUILTINS: dict[str, Any] = {
    "float": float,
    "int": int,
    "str": str,
    "list": list,
    "dict": dict,
    "set": set,
    "tuple": tuple,
    "True": True,
    "False": False,
    "None": None,
    # len/abs/round/min/max are pervasive in generated lambdas and are
    # side-effect-free; the reference prompt warns builtins beyond the
    # core set are "unreliable" (app/instruct_prompt.py:80) — we make
    # these reliable.
    "len": len,
    "abs": abs,
    "round": round,
    "min": min,
    "max": max,
}


def compile_lambda(function_str: str) -> Callable[[Any], Any]:
    """Compile the lambda string in the restricted sandbox
    (reference: app/operations/application.py:14-19)."""
    try:
        fn = eval(function_str, {"__builtins__": SANDBOX_BUILTINS}, {})
    except Exception as exc:
        raise ValueError(f"Failed to compile application lambda {function_str!r}: {exc}") from exc
    if not callable(fn):
        raise ValueError(f"application function_str must evaluate to a callable, got {function_str!r}")
    return fn


_PYTHON_TO_SPARK: list[tuple[type, T.DataType]] = [
    (bool, T.BooleanType()),
    (int, T.LongType()),
    (float, T.DoubleType()),
    (str, T.StringType()),
]


def _infer_return_type(df: DataFrame, op: ApplicationOperation, fn: Callable) -> T.DataType:
    if op.return_type is not None:
        return logical_to_spark(op.return_type)
    probe = df.select(*op.input_columns).limit(1).collect()
    if probe:
        try:
            result = fn(probe[0].asDict())
            for py_type, spark_type in _PYTHON_TO_SPARK:
                if isinstance(result, py_type):
                    return spark_type
        except Exception:
            pass
    return T.StringType()


# Compiled subset.  Expression kinds: "str", "int" and "bool" may be a
# lambda's result; "num" (a double column) only feeds a comparison.
# (A collated string compares case- or accent-insensitively, so only the
# default binary collation, whose byte order is Python's code point
# order, is a "str".)
_KIND_OF_TYPE = {
    T.StringType(): "str",
    T.ByteType(): "int", T.ShortType(): "int", T.IntegerType(): "int", T.LongType(): "int",
    T.DoubleType(): "num",
}
_RESULT_TYPES = {"str": T.StringType(), "int": T.LongType(), "bool": T.BooleanType()}
# Numeric literals stay below 2^53: exact as float64, so a 64-bit value
# the UDF path reads through float64 (rounded) orders against them as the
# exact value does.
_MAX_LITERAL = 2**53
_COMPARE = {
    ast.Eq: ("==", Column.__eq__), ast.NotEq: ("!=", Column.__ne__),
    ast.Lt: ("<", Column.__lt__), ast.LtE: ("<=", Column.__le__),
    ast.Gt: (">", Column.__gt__), ast.GtE: (">=", Column.__ge__),
}
_FLIPPED = {ast.Lt: ast.Gt, ast.LtE: ast.GtE, ast.Gt: ast.Lt, ast.GtE: ast.LtE,
            ast.Eq: ast.Eq, ast.NotEq: ast.NotEq}


class _Unsupported(Exception):
    """The lambda falls outside the compiled subset."""


class _LambdaCompiler:
    """Translates one lambda body into a Spark ``Column`` that matches
    the UDF path row for row.  NULL contract (what the UDF does, since
    pandas carries a NULL as ``None`` in a string column and ``NaN`` in
    a numeric one): ``==`` against a NULL is ``False``, ``!=`` is
    ``True``, a numeric ordering is ``False``; a string ordering and
    ``.replace`` on a NULL raise (``TypeError`` / ``AttributeError`` in
    Python), here through ``raise_error`` with a message naming the
    lambda and the column."""

    def __init__(self, op: ApplicationOperation, schema: T.StructType, arg: str):
        self.op = op
        self.arg = arg
        self.kinds = {
            f.name: _KIND_OF_TYPE[f.dataType]
            for f in schema.fields
            if f.name in op.input_columns and f.dataType in _KIND_OF_TYPE
        }

    def _raise_on_null(self, node: ast.expr, col: Column, what: str, ok: Column) -> Column:
        name = self._column_name(node)
        where = f"in column {name!r}" if name is not None else f"from {ast.unparse(node)}"
        msg = f"application lambda {self.op.function_str!r}: {what} on a NULL {where}"
        return F.when(col.isNull(), F.raise_error(F.lit(msg))).otherwise(ok)

    def _column_name(self, node: ast.expr) -> str | None:
        if (isinstance(node, ast.Subscript) and isinstance(node.value, ast.Name)
                and node.value.id == self.arg and isinstance(node.slice, ast.Constant)
                and isinstance(node.slice.value, str)):
            return node.slice.value
        return None

    @staticmethod
    def _literal(node: ast.expr):
        """The Python value of a literal node, else ``_Unsupported``."""
        if (isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub)
                and isinstance(node.operand, ast.Constant)
                and type(node.operand.value) in (int, float)):
            value = -node.operand.value
        elif isinstance(node, ast.Constant):
            value = node.value
        else:
            raise _Unsupported(ast.unparse(node))
        if type(value) in (int, float) and not abs(value) < _MAX_LITERAL:
            raise _Unsupported(f"literal {value!r} is not exact as float64")
        if type(value) not in (str, int, float, bool):
            raise _Unsupported(f"literal {value!r}")
        if type(value) is str and not value.isascii():
            try:
                value.encode("utf-8")  # a lone surrogate has no Spark string
            except UnicodeEncodeError:
                raise _Unsupported(f"literal {value!r}") from None
        return value

    def expr(self, node: ast.expr) -> tuple[Column, str]:
        name = self._column_name(node)
        if name is not None:
            if name not in self.kinds:
                raise _Unsupported(f"column {name!r}")
            return F.col("`" + name.replace("`", "``") + "`"), self.kinds[name]
        if isinstance(node, (ast.Compare, ast.BoolOp)) or (
                isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.Not)):
            return self.boolean(node), "bool"
        if isinstance(node, (ast.Constant, ast.UnaryOp)):
            value = self._literal(node)
            kind = {bool: "bool", int: "int", str: "str"}.get(type(value))
            if kind is None:
                raise _Unsupported(f"float literal {value!r} outside a comparison")
            return F.lit(value), kind
        if isinstance(node, ast.Call):
            return self._replace(node), "str"
        if isinstance(node, ast.IfExp):
            test = self.boolean(node.test)
            body, body_kind = self.expr(node.body)
            orelse, else_kind = self.expr(node.orelse)
            if body_kind != else_kind or body_kind == "num":
                raise _Unsupported("conditional branches of different kinds")
            return F.when(test, body).otherwise(orelse), body_kind
        raise _Unsupported(ast.unparse(node))

    def _replace(self, node: ast.Call) -> Column:
        func = node.func
        if not (isinstance(func, ast.Attribute) and func.attr == "replace"
                and len(node.args) == 2 and not node.keywords):
            raise _Unsupported(ast.unparse(node))
        old, new = (self._literal(a) for a in node.args)
        # str.replace('', x) inserts x between characters; Spark's
        # replace leaves the string unchanged
        if type(old) is not str or type(new) is not str or not old:
            raise _Unsupported(ast.unparse(node))
        target, kind = self.expr(func.value)
        if kind != "str":
            raise _Unsupported(ast.unparse(node))
        return self._raise_on_null(func.value, target, "'.replace'",
                                   F.replace(target, F.lit(old), F.lit(new)))

    def boolean(self, node: ast.expr) -> Column:
        """A never-NULL boolean Column (short-circuit ``and``/``or`` as
        CASE, so a raising right operand is skipped as in Python)."""
        if isinstance(node, ast.Compare):
            return self._compare(node)
        if isinstance(node, ast.BoolOp):
            out = self.boolean(node.values[-1])
            for value in reversed(node.values[:-1]):
                left = self.boolean(value)
                if isinstance(node.op, ast.And):
                    out = F.when(left, out).otherwise(F.lit(False))
                else:
                    out = F.when(left, F.lit(True)).otherwise(out)
            return out
        if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.Not):
            return ~self.boolean(node.operand)
        # bool literals/columns: Python truthiness of other kinds
        # (strings, numbers, NULL) does not map onto Spark booleans
        raise _Unsupported(ast.unparse(node))

    def _compare(self, node: ast.Compare) -> Column:
        if len(node.ops) != 1 or type(node.ops[0]) not in _COMPARE:
            raise _Unsupported(ast.unparse(node))
        op, left, right = type(node.ops[0]), node.left, node.comparators[0]
        if isinstance(left, (ast.Constant, ast.UnaryOp)):
            op, left, right = _FLIPPED[op], right, left
        value = self._literal(right)
        col, kind = self.expr(left)
        if not (kind == "str" and type(value) is str
                or kind in ("int", "num") and type(value) in (int, float)):
            raise _Unsupported(ast.unparse(node))
        symbol, compare = _COMPARE[op]
        cmp = compare(col, F.lit(value))
        if op is ast.Eq:
            return F.coalesce(cmp, F.lit(False))
        if op is ast.NotEq:
            return F.coalesce(cmp, F.lit(True))
        if kind == "str":
            return self._raise_on_null(left, col, f"'{symbol}'", cmp)
        if kind == "num":
            # Spark orders NaN above every double; Python's NaN compares False
            cmp = F.when(F.isnan(col), F.lit(False)).otherwise(cmp)
        return F.coalesce(cmp, F.lit(False))


def compile_application(op: ApplicationOperation, schema: T.StructType) -> Column | None:
    """The lambda as one Spark ``Column`` when it falls inside the
    compiled subset (module docstring), else ``None``.  Decided from the
    lambda's text, the input schema and ``return_type`` only."""
    try:
        tree = ast.parse(op.function_str.strip(), mode="eval").body
    except SyntaxError:
        return None
    if not isinstance(tree, ast.Lambda):
        return None
    args = tree.args
    if (len(args.args) != 1 or args.posonlyargs or args.kwonlyargs or args.vararg
            or args.kwarg or args.defaults):
        return None
    try:
        col, kind = _LambdaCompiler(op, schema, args.args[0].arg).expr(tree.body)
    except _Unsupported:
        return None
    if kind not in _RESULT_TYPES:
        return None
    if op.return_type is None:
        # the UDF path's probe types a string result as string whatever
        # the sample row; other kinds depend on the row, so they stay there
        return col if kind == "str" else None
    declared = logical_to_spark(op.return_type)
    if declared != _RESULT_TYPES[kind]:
        return None
    return col.cast(declared)


def apply_application_udf(df: DataFrame, op: ApplicationOperation) -> DataFrame:
    """The lambda as an Arrow-batched pandas UDF — the path for every
    lambda outside the compiled subset, and the reference the compiled
    path is tested against."""
    fn = compile_lambda(op.function_str)
    return_type = _infer_return_type(df, op, fn)

    def batch_fn(batch: pd.DataFrame) -> pd.Series:
        # Each row arrives as a pandas Series supporting r['col'] — the
        # reference's dict-like calling convention.
        return batch.apply(fn, axis=1)

    udf = F.pandas_udf(batch_fn, returnType=return_type)
    struct = F.struct(*[F.col(c) for c in op.input_columns])
    return df.withColumn(op.output_column, udf(struct))


def apply_application(df: DataFrame, op: ApplicationOperation) -> DataFrame:
    compile_lambda(op.function_str)  # the sandbox check, on either path
    col = compile_application(op, df.schema)
    if col is None:
        return apply_application_udf(df, op)
    return df.withColumn(op.output_column, col)
