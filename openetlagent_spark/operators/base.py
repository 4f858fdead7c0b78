"""Shared operator helpers.

A missing input column raises a ValueError naming the missing column
AND the available columns — these messages are load-bearing in the
reference (the feedback channel that lets an LLM generator
self-correct, reference: app/main.py:276-278 and e.g.
app/operations/equality.py:8-9).  The runner checks the columns each
spec declares it reads (``model.InputColumn``) before the op runs; the
operators check only what a spec cannot declare: side-frame columns,
columns named inside nested values, and mode-dependent ones.
Validation is pure metadata (``df.columns``) — no Spark job is
triggered.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import FileDefinition
from ..sources import scan_data

# A flow's named inputs: each key maps to a declared file, scanned like
# a flow source, or to an in-memory frame, used as it is.
Inputs = dict[str, FileDefinition | DataFrame]


def read_input(spark: SparkSession, source: FileDefinition | DataFrame) -> DataFrame:
    """The frame behind one named input."""
    return source if isinstance(source, DataFrame) else scan_data(spark, source)


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
