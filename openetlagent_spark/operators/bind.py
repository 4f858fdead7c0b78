"""``bind``: join against an external file or named pipeline input.

Reference behavior (app/operations/bind.py:7-59): resolve the right side
by input-key or direct path (10-17), read it with the declared schema
(32-37), project to ``{right_on} ∪ columns_to_add`` (51-52 — manual
build-side pruning), join on a single equi-key (55).  Polars join
semantics the Spark engine must reproduce (SURVEY §2.3.2): the right key
column is dropped, and any other right column colliding with a left name
is renamed ``{col}_right`` — committed reference pipelines depend on the
suffix (pipelines/enriched_output_def.yaml:37-39).

Scale design:
- The right side stays a lazy scan; Catalyst prunes columns and pushes
  filters into it.
- Small right sides are broadcast: a broadcast-hinted named frame, else
  a file-size heuristic (< ``BROADCAST_FILE_BYTES``).  On a cluster AQE
  additionally converts shuffle joins to broadcast at runtime.
- ``outer`` joins coalesce the two key columns into ``left_on`` so the
  key survives unmatched right rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import BindOperation
from ..sources.io import read_csv_with_declared_schema
from ..types import schema_to_struct
from .base import Inputs, read_input, require_columns

BROADCAST_FILE_BYTES = 256 * 1024 * 1024  # pre-compression parquet/csv bytes


def _and_all(conds) -> "F.Column":
    out = None
    for c in conds:
        out = c if out is None else out & c
    return out


def _file_size(path: str) -> int | None:
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(dirpath, f))
                for dirpath, _, files in os.walk(path)
                for f in files
            )
        return os.path.getsize(path)
    except OSError:
        return None


def resolve_side(
    spark: SparkSession,
    path_or_key: str,
    schema_columns: dict[str, str] | None,
    inputs: Inputs | None,
) -> DataFrame:
    """Resolve a secondary frame by named input key first, then direct
    path (reference: app/operations/bind.py:10-17).  A named input is
    read by ``read_input``; a path is read by its extension with
    ``schema_columns``.  Shared by bind and the advanced two-sided
    operators (asof/range/similarity)."""
    if inputs and path_or_key in inputs:
        return read_input(spark, inputs[path_or_key])
    struct = schema_to_struct(schema_columns) if schema_columns else None
    path = path_or_key
    ext = os.path.splitext(path)[1].lower().lstrip(".")
    fmt = ext if ext in ("csv", "json", "parquet", "orc") else "csv"

    reader = spark.read
    if fmt == "csv":
        if struct is None:
            return reader.option("header", True).option("inferSchema", True).csv(path)
        return read_csv_with_declared_schema(spark, path, struct)
    if fmt == "json":
        return reader.schema(struct).json(path) if struct else reader.json(path)
    if fmt == "orc":
        return reader.orc(path)
    return reader.parquet(path)


def apply_bind(
    df: DataFrame,
    op: BindOperation,
    spark: SparkSession,
    inputs: Inputs | None = None,
) -> DataFrame:
    """Join ``df`` with the resolved right side."""
    right_df = resolve_side(spark, op.right_file_path, op.right_schema_columns, inputs)

    lk, rk = op.left_keys(), op.right_keys()

    # Semi/anti joins filter left rows by key existence — no right
    # columns are added (engine extension beyond the reference's four
    # join types).
    if op.how in ("semi", "anti"):
        require_columns(right_df, rk, "bind")
        right = right_df.select(*rk)
        how = "left_semi" if op.how == "semi" else "left_anti"
        cond = _and_all(df[l] == right[r] for l, r in zip(lk, rk))
        return df.join(right, cond, how)

    # The right projection is {right_on} ∪ columns_to_add (a SET in the
    # reference, app/operations/bind.py:51-52) — dedupe so right_on
    # appearing in columns_to_add doesn't produce a duplicate column.
    add_cols = [c for c in op.columns_to_add if c not in rk or op.how == "cross"]
    if op.how != "cross":
        require_columns(right_df, rk + op.columns_to_add, "bind")
        right = right_df.select(*rk, *add_cols)
    else:
        require_columns(right_df, op.columns_to_add, "bind")
        right = right_df.select(*add_cols)

    # Polars-style collision handling: EVERY added right column that
    # collides with a left name gets `_right` (the join keys are
    # handled separately below and dropped after the join).
    left_cols = set(df.columns)
    renames = {c: f"{c}_right" for c in add_cols if c in left_cols}
    # A right key collides with itself when left and right use the same
    # name; it is dropped after the join, so rename it out of the way.
    key_aliases = []
    for r in rk:
        if op.how != "cross" and r in left_cols:
            alias = f"__bind_key_{r}__"
            renames[r] = alias
            key_aliases.append(alias)
        else:
            key_aliases.append(r)
    for old, new in renames.items():
        right = right.withColumnRenamed(old, new)

    # Broadcast decision: a small right file gets a hint; a named frame
    # has no file size and keeps whatever hint its caller gave it.
    source = inputs.get(op.right_file_path) if inputs else None
    if isinstance(source, DataFrame):
        broadcast = False
    else:
        size = _file_size(source.path if source else op.right_file_path)
        broadcast = size is not None and size < BROADCAST_FILE_BYTES
    if broadcast:
        right = F.broadcast(right)

    if op.how == "cross":
        return df.crossJoin(right)

    how = {"left": "left", "inner": "inner", "outer": "full_outer"}[op.how]

    if op.skew_salt > 1 and not broadcast:
        # Skew salting: spread one hot key over N shuffle partitions by
        # appending a pseudo-random salt to the left rows and
        # replicating the (small) right side N×.  Same join semantics —
        # every left row has exactly one salt, every right row matches
        # all salts — at the cost of an N× right-side blowup, so salt
        # only non-broadcast joins where one side's keys are skewed.
        # (AQE's skew-join split handles sort-merge skew automatically;
        # explicit salting also covers aggregate-style buildups AQE
        # can't split.)
        n = op.skew_salt
        left = df.withColumn(
            "__skew_salt__", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n))
        )
        salts = spark.range(n).select(F.col("id").alias("__skew_salt_r__"))
        right = right.crossJoin(salts)
        cond = _and_all(left[l] == right[a] for l, a in zip(lk, key_aliases))
        cond = cond & (left["__skew_salt__"] == right["__skew_salt_r__"])
        # No outer-coalesce here: the model validator restricts salting
        # to inner/left joins, where the left key always survives.
        joined = left.join(right, cond, how)
        for a in key_aliases:
            joined = joined.drop(right[a])
        return joined.drop("__skew_salt__", "__skew_salt_r__")

    cond = _and_all(df[l] == right[a] for l, a in zip(lk, key_aliases))
    joined = df.join(right, cond, how)

    if op.how == "outer":
        # Keep the keys for unmatched right rows: coalesce into left_on.
        for l, a in zip(lk, key_aliases):
            joined = joined.withColumn(l, F.coalesce(df[l], right[a]))
    for a in key_aliases:
        joined = joined.drop(right[a])
    return joined
