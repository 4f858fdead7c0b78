"""Flow executor: compile a ``PipelineFlow`` into ONE lazy DataFrame.

The reference interprets its op list eagerly, materializing a full
DataFrame after every op (app/main.py:397-429).  The key architectural
inversion here (SURVEY §7.1): fold the whole op list over a lazy
DataFrame — Catalyst then collapses adjacent projections, prunes
columns through joins, and pushes filters into the scans.  Identical
semantics, one optimized distributed plan, no intermediate
materialization.

Also implements the engine-level conventions:
- input-column check: before each op, the columns its spec declares
  it reads (``model.columns_read``) must be on the current frame; the
  error names the missing and the available columns;
- temp-column drop: an ``assignation`` op whose output column is named
  ``_x_`` (leading AND trailing underscore) is dropped after all ops
  run (reference drops assignation outputs only: app/main.py:413-416);
- save-time schema-ordered projection + validation (via sources/io.py
  and validate.py).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from .model import (
    AssignationOperation,
    Operation,
    PipelineConfig,
    PipelineFlow,
    columns_read,
)
from .operators import OPERATION_DISPATCHER, ReadsInputs
from .operators.base import Inputs, require_columns
from .sources import save_data, scan_data
from .validate import validate_schema

_TEMP_COLUMN = re.compile(r"^_.+_$")


def apply_operations(
    df: DataFrame,
    operations: list[Operation],
    spark: SparkSession,
    inputs: Inputs | None = None,
    *,
    drop_temp_columns: bool = True,
) -> DataFrame:
    """Fold the op list over the lazy DataFrame (reference loop:
    app/main.py:397-429 — ours builds one plan instead of executing
    per-op).

    ``inputs`` maps each named input an op reads (bind's
    ``right_file_path``, union's ``right_input``, sql_transform's
    ``views``, ...) to a ``FileDefinition``, scanned like a flow source,
    or to an in-memory ``DataFrame``, used as it is.  Bind adds no
    broadcast hint to an in-memory frame: a caller that wants one
    passes ``F.broadcast(frame)``.

    ``drop_temp_columns=False`` keeps ``_x_`` temp columns alive —
    required when a caller applies ops one at a time (the generator's
    trial loop): temps must survive across calls and only drop after the
    FULL flow, matching the reference's end-of-pipeline drop
    (app/main.py:413-427)."""
    current = df
    temp_columns: list[str] = []
    for op in operations:
        entry = OPERATION_DISPATCHER.get(op.operation_type)
        if entry is None:
            raise ValueError(f"Unknown operation type: {op.operation_type!r}")
        columns = columns_read(op)
        if columns:
            require_columns(current, columns, op.operation_type)
        if isinstance(entry, ReadsInputs):
            current = entry.fn(current, op, spark, inputs)
        else:
            current = entry(current, op)
        # Only ASSIGNATION outputs participate in the temp-column sweep —
        # the reference drops exactly those (app/main.py:413-416); a
        # casting/equality output that happens to be named `_x_` survives.
        out = getattr(op, "output_column", None)
        if isinstance(op, AssignationOperation) and out and _TEMP_COLUMN.match(out):
            temp_columns.append(out)

    if not drop_temp_columns:
        return current
    drops = [c for c in temp_columns if c in current.columns]
    return current.drop(*drops) if drops else current


def drop_temp_columns(df: DataFrame) -> DataFrame:
    """Drop all ``_x_``-named columns (the end-of-flow temp sweep for
    callers that built the chain incrementally)."""
    drops = [c for c in df.columns if _TEMP_COLUMN.match(c)]
    return df.drop(*drops) if drops else df


def run_flow(
    spark: SparkSession,
    config: PipelineConfig,
    flow: PipelineFlow,
    output_key: str,
    *,
    save: bool = True,
    single_file: bool = False,
) -> tuple[DataFrame, bool, list[str]]:
    """Execute one flow against one declared output: scan → ops →
    validate → (optionally) save.  Returns (result_df, ok, feedback) —
    the reference's success/feedback contract (app/main.py:571-588)."""
    if flow.source not in config.inputs:
        raise ValueError(
            f"flow source '{flow.source}' not in config inputs {sorted(config.inputs)}"
        )
    out_def = config.outputs[output_key]
    df = scan_data(spark, config.inputs[flow.source])
    result = apply_operations(df, flow.operations, spark, config.inputs)
    ok, feedback = validate_schema(result, out_def)
    if save and ok:
        save_data(result, out_def, single_file=single_file)
    return result, ok, feedback


def probe(df: DataFrame, n: int = 3) -> tuple[dict[str, str], list[dict]]:
    """The cheap trial-probe hook an external LLM generator consumes
    (reference: live schema + head(3) sample at app/main.py:137,144):
    schema from metadata (free), sample via limit(n) (tiny job)."""
    schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    sample = [r.asDict(recursive=True) for r in df.limit(n).collect()]
    return schema, sample
