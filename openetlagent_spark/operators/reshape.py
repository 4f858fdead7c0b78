"""``fold`` (unpivot, wide→long) and ``unfold`` (pivot, long→wide).

Reference semantics:
- fold: melt ``value_columns`` into (key, value) pairs keeping
  ``id_columns``; id/value overlap is legal — a committed pipeline folds
  its own id columns (pipelines/summary_output_def.yaml:71-97), so each
  input row yields len(value_columns) output rows (reference impl:
  app/operations/fold.py:25-30).  Polars supercasts mixed-type value
  columns automatically; Spark needs an explicit common type.
- unfold: pivot unique ``key_column`` values into columns holding
  ``value_column`` grouped by ``index_columns``; duplicates resolved by
  FIRST, hard-coded (app/operations/unfold.py:34).

Scale design:
- fold is built as explode-of-struct-array: a narrow, shuffle-free,
  whole-stage-codegen'd transform that also permits id/value overlap
  (Spark's native ``unpivot`` rejects overlapping ids/values).
- unfold's "first" is nondeterministic under distributed execution, so
  we make it deterministic: ``min_by(value, order)`` over an explicit
  ``order_column``, else over a stable per-row id captured before the
  shuffle.  Pivot key discovery is a distinct job; we cap it at
  ``MAX_PIVOT_KEYS`` so a high-cardinality key fails fast instead of
  OOMing the driver at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import FoldOperation, UnfoldOperation

MAX_PIVOT_KEYS = 10_000

_NUMERIC_ORDER = ["tinyint", "smallint", "int", "bigint", "float", "double"]


def _common_type(types: list[T.DataType]) -> str:
    """Polars-style supercast for melt: identical types kept; numeric mix
    promotes to the widest numeric; anything else becomes string."""
    names = [t.simpleString() for t in types]
    if len(set(names)) == 1:
        return names[0]
    if all(n in _NUMERIC_ORDER for n in names):
        return _NUMERIC_ORDER[max(_NUMERIC_ORDER.index(n) for n in names)]
    return "string"


def apply_fold(df: DataFrame, op: FoldOperation) -> DataFrame:
    field_types = {f.name: f.dataType for f in df.schema.fields}
    common = _common_type([field_types[c] for c in op.value_columns])

    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias(op.key_column_name),
                F.col(c).cast(common).alias(op.value_column_name),
            )
            for c in op.value_columns
        ]
    )
    exploded = df.select(*op.id_columns, F.explode(pairs).alias("__fold__"))
    return exploded.select(
        *op.id_columns,
        F.col(f"__fold__.{op.key_column_name}").alias(op.key_column_name),
        F.col(f"__fold__.{op.value_column_name}").alias(op.value_column_name),
    )


def apply_unfold(df: DataFrame, op: UnfoldOperation) -> DataFrame:
    if op.order_column is not None:
        ordered = df
        order_col = op.order_column
    else:
        # Stable per-row id giving "first" a well-defined meaning: ids
        # increase with partition index and position, so min_by(value, id)
        # picks the first row in scan order — the reference's single-node
        # row order (app/operations/unfold.py:34).
        order_col = "__unfold_order__"
        ordered = df.withColumn(order_col, F.monotonically_increasing_id())

    keys = distinct_pivot_keys(df, op.key_column)
    return (
        ordered.groupBy(*op.index_columns)
        .pivot(op.key_column, values=keys)
        .agg(F.min_by(F.col(op.value_column), F.col(order_col)))
    )


def distinct_pivot_keys(df: DataFrame, key_column: str, limit: int = MAX_PIVOT_KEYS) -> list:
    """Explicit pivot-key discovery for 100 TB hygiene: collect at most
    ``limit`` distinct keys and fail fast beyond it, instead of letting
    ``pivot(col)`` collect an unbounded distinct set onto the driver."""
    rows = df.select(key_column).distinct().limit(limit + 1).collect()
    if len(rows) > limit:
        raise ValueError(
            f"unfold: key column '{key_column}' has more than {limit} distinct "
            "values; refusing to pivot (driver-side key explosion)"
        )
    return sorted([r[0] for r in rows], key=lambda v: (v is None, str(v)))
