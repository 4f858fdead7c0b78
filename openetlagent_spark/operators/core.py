"""Core column-expression operators.

Each ``apply_*`` takes (DataFrame, op-spec) and returns a new DataFrame
with the op appended to the lazy plan — Catalyst collapses adjacent
projections (CollapseProject), so a long chain of these compiles into a
single whole-stage-codegen'd projection instead of the reference's
per-op materialization (reference: app/main.py:402-412).

Semantics parity notes are cited per-operator against the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..model import (
    ArithmeticOperation,
    AssignationOperation,
    CastingOperation,
    ComparisonOperation,
    ConcatenationOperation,
    EqualityOperation,
    SwitchingOperation,
)
from ..types import logical_to_spark
from .base import comparison_column


def apply_equality(df: DataFrame, op: EqualityOperation) -> DataFrame:
    """Copy a column under a new name, keeping the original
    (reference: app/operations/equality.py:4-12)."""
    return df.withColumn(op.output_column, F.col(op.input_column))


def apply_concatenation(df: DataFrame, op: ConcatenationOperation) -> DataFrame:
    """String-concat N columns with a separator, each cast to string.

    NULL-PROPAGATING: any null input makes the result null — the
    reference uses Polars ``concat_str`` whose default does exactly this
    (app/operations/concatenation.py:10-13).  Spark's ``concat_ws``
    *skips* nulls and would diverge, so we use ``F.concat`` with the
    separator interleaved as literals.
    """
    parts = []
    for i, c in enumerate(op.input_columns):
        if i > 0 and op.separator:
            parts.append(F.lit(op.separator))
        parts.append(F.col(c).cast("string"))
    return df.withColumn(op.output_column, F.concat(*parts))


def apply_assignation(df: DataFrame, op: AssignationOperation) -> DataFrame:
    """Constant column from a literal (reference:
    app/operations/asignation.py:6-22 — filename typo is the reference's).
    """
    return df.withColumn(op.output_column, F.lit(op.value))


def apply_casting(df: DataFrame, op: CastingOperation, *, strict: bool = True) -> DataFrame:
    """Cast a column to a logical type.

    The reference raises on a failed cast (Polars strict cast, wrapped at
    app/operations/casting.py:17-19) while Spark's non-ANSI cast silently
    nulls.  We reproduce raise-on-bad-cast *without* an extra job by
    guarding the cast with ``raise_error`` on rows where a non-null input
    casts to null — the error surfaces lazily at action time inside the
    executors, which is the scalable analogue of Polars' eager raise.

    Dates parse strictly as ISO ``yyyy-MM-dd`` from strings
    (reference pipelines cast ISO strings: config.yaml:12).
    """
    src = F.col(op.input_column)
    target = logical_to_spark(op.target_type)
    src_type = dict(zip(df.columns, [f.dataType for f in df.schema.fields]))[op.input_column]

    # Build a null-on-failure cast first (try_*), then layer the strict
    # raise on top — this keeps behavior identical whether or not the
    # session runs in ANSI mode (Spark 4 defaults to ANSI).
    if op.target_type == "date" and src_type.simpleString() == "string":
        cast_expr = F.try_to_date(src, "yyyy-MM-dd")
    elif op.target_type == "boolean" and src_type.simpleString() == "string":
        # Polars accepts only true/false strings; Spark additionally maps
        # t/f/y/n/yes/no/0/1.  Tighten to Polars' set for parity.
        lowered = F.lower(src)
        cast_expr = (
            F.when(lowered == "true", F.lit(True))
            .when(lowered == "false", F.lit(False))
            .otherwise(F.lit(None).cast("boolean"))
        )
    else:
        cast_expr = src.try_cast(target)

    if strict:
        cast_expr = F.when(
            src.isNotNull() & cast_expr.isNull(),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"Failed to cast column '{op.input_column}' to "
                        f"{op.target_type}: bad value '"
                    ),
                    src.cast("string"),
                    F.lit("'"),
                )
            ).cast(target),
        ).otherwise(cast_expr)

    return df.withColumn(op.output_column or op.input_column, cast_expr)


def apply_arithmetic(df: DataFrame, op: ArithmeticOperation) -> DataFrame:
    """Binary + - * / between exactly two columns
    (reference: app/operations/arithmetic.py:4-28).  int/int ``/``
    yields double in both engines; int×float promotes to double.
    """
    left, right = (F.col(c) for c in op.input_columns)
    if op.operator == "+":
        expr = left + right
    elif op.operator == "-":
        expr = left - right
    elif op.operator == "*":
        expr = left * right
    else:
        # IEEE-754 division parity with the reference (Polars): x/0 is
        # ±inf (sign includes the ZERO's sign: 1.0/-0.0 = -inf) and 0/0
        # is NaN.  Spark diverges in BOTH modes (ANSI raises, non-ANSI
        # nulls), so build the IEEE result explicitly; null operands stay
        # null like any arithmetic.  Negative zero compares equal to 0,
        # so its sign is recovered from the string form ("-0.0").
        neg_zero = right.cast("string").startswith("-")
        signed_inf = F.when(neg_zero, F.lit(float("-inf"))).otherwise(F.lit(float("inf")))
        expr = (
            F.when(left.isNull() | right.isNull(), F.lit(None).cast("double"))
            .when(right != 0, F.try_divide(left, right))
            .when(left > 0, signed_inf)
            .when(left < 0, -signed_inf)
            .otherwise(F.lit(float("nan")))
        )
    return df.withColumn(op.output_column, expr)


def apply_comparison(df: DataFrame, op: ComparisonOperation) -> DataFrame:
    """Compare a column against a literal → boolean COLUMN (a projection,
    not a filter — no reference operator removes rows, SURVEY §2.2;
    reference impl: app/operations/comparison.py:6-42)."""
    return df.withColumn(
        op.output_column, comparison_column(F.col(op.input_column), op.operator, op.value)
    )


def apply_switching(df: DataFrame, op: SwitchingOperation) -> DataFrame:
    """Multi-way CASE: look up ``switch_column``'s value in ``mapping``
    and copy from the mapped *source column*; unmatched rows fall back to
    ``default_column`` or the literal ``default_value`` (exactly one —
    reference validator app/models.py:67-76; when/then chain at
    app/operations/switching.py:26-52)."""
    switch = F.col(op.switch_column)
    expr = None
    for key, source_col in op.mapping.items():
        cond = switch == F.lit(key)
        expr = F.when(cond, F.col(source_col)) if expr is None else expr.when(cond, F.col(source_col))
    default = (
        F.col(op.default_column) if op.default_column is not None else F.lit(op.default_value)
    )
    expr = default if expr is None else expr.otherwise(default)
    return df.withColumn(op.output_column, expr)
