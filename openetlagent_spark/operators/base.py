"""Shared operator helpers.

A missing input column raises a ValueError naming the missing column
AND the available columns — these messages are load-bearing in the
reference (the feedback channel that lets an LLM generator
self-correct, reference: app/main.py:276-278 and e.g.
app/operations/equality.py:8-9).  The runner checks the columns each
spec declares it reads (``model.InputColumn``) before the op runs; the
operators check only what a spec cannot declare: side-frame columns,
columns named inside nested values, and mode-dependent ones.  A direct
Python caller of an ``apply_*`` function skips the runner, so a
missing column surfaces as whatever Spark raises, usually its analysis
error.  Validation is pure metadata (``df.columns``) — no Spark job is
triggered.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def require_columns(df: DataFrame, columns: list[str] | tuple[str, ...], op_name: str) -> None:
    available = df.columns
    missing = [c for c in columns if c not in available]
    if missing:
        raise ValueError(
            f"Operation '{op_name}': input column(s) {missing} not found. "
            f"Available columns: {available}"
        )


def comparison_column(col: Column, operator: str, value) -> Column:
    """Shared predicate builder for comparison/filter ops
    (reference match/case: app/operations/comparison.py:21-35)."""
    lit = F.lit(value)
    if operator == "==":
        return col == lit
    if operator == "!=":
        return col != lit
    if operator == ">":
        return col > lit
    if operator == "<":
        return col < lit
    if operator == ">=":
        return col >= lit
    if operator == "<=":
        return col <= lit
    raise ValueError(f"Unsupported comparison operator {operator!r}")
