"""Tests for the step-by-step generation loop with scripted fake
completions (the LLM is external by design — reference entry path C
re-built around a pluggable ``complete`` callable)."""

from __future__ import annotations

import re

import pytest

from openetlagent_spark.generator import (
    extract_yaml_block,
    generate_pipeline_step_by_step,
    select_source,
)
from openetlagent_spark.model import (
    ColumnDefinition,
    FileDefinition,
    FileSchema,
    PipelineConfig,
)
from openetlagent_spark.runner import apply_operations
from openetlagent_spark.sources import scan_data


@pytest.fixture()
def config(tmp_path):
    (tmp_path / "orders.csv").write_text(
        "order_id,qty,price\n1,2,10.0\n2,3,5.5\n3,1,99.0\n"
    )
    return PipelineConfig(
        inputs={
            "orders": FileDefinition(
                path=str(tmp_path / "orders.csv"),
                format="csv",
                file_schema=FileSchema(
                    name="orders",
                    columns={
                        "order_id": ColumnDefinition("integer"),
                        "qty": ColumnDefinition("integer"),
                        "price": ColumnDefinition("float"),
                    },
                ),
            )
        },
        outputs={
            "totals": FileDefinition(
                path=str(tmp_path / "out"),
                format="csv",
                file_schema=FileSchema(
                    name="totals",
                    columns={
                        "order_id": ColumnDefinition("integer"),
                        "total": ColumnDefinition("float"),
                        "is_big": ColumnDefinition("boolean"),
                    },
                ),
            )
        },
    )


def scripted(replies):
    replies = list(replies)

    def complete(prompt: str) -> str:
        assert replies, f"ran out of scripted replies; last prompt:\n{prompt[-400:]}"
        return replies.pop(0)

    return complete


def test_extract_yaml_block_variants():
    assert extract_yaml_block("```yaml\n- operation_type: done\n```") == {"operation_type": "done"}
    assert extract_yaml_block("- operation_type: done") == {"operation_type": "done"}
    with pytest.raises(Exception):
        extract_yaml_block("no yaml here at all: [")


def test_select_source_retries_then_falls_back(config):
    assert select_source(config, "totals", scripted(["nope", "orders"])) == "orders"
    assert (
        select_source(config, "totals", scripted(["bad"] * 6)) == "orders"
    )  # fallback to first input


def test_generation_happy_path_with_feedback_recovery(spark, config):
    replies = [
        "orders",  # source selection
        # step 0: references a missing column -> engine feedback retry
        "```yaml\n- operation_type: arithmetic\n  input_columns: [qty, unit_price]\n  operator: '*'\n  output_column: total\n```",
        # step 0 retry: correct op
        "```yaml\n- operation_type: arithmetic\n  input_columns: [qty, price]\n  operator: '*'\n  output_column: total\n```",
        # step 1: premature done -> schema-mismatch feedback (is_big missing)
        "```yaml\n- operation_type: done\n```",
        # step 1 retry: comparison flag
        "```yaml\n- operation_type: comparison\n  input_column: total\n  operator: '>'\n  value: 50\n  output_column: is_big\n```",
        # step 2: done, schema now matches
        "```yaml\n- operation_type: done\n```",
    ]
    result = generate_pipeline_step_by_step(spark, config, "totals", scripted(replies))
    assert result.success, result.transcript
    assert [op.operation_type for op in result.flow.operations] == ["arithmetic", "comparison"]

    # The generated flow actually runs and produces the target values.
    df = scan_data(spark, config.inputs["orders"])
    out = apply_operations(df, result.flow.operations, spark, config.inputs)
    got = {r.order_id: (r.total, r.is_big) for r in out.collect()}
    assert got == {1: (20.0, False), 2: (16.5, False), 3: (99.0, True)}


def test_generation_aborts_after_repeated_failures(spark, config):
    bad = "```yaml\n- operation_type: teleport\n```"
    replies = ["orders"] + [bad] * 6
    result = generate_pipeline_step_by_step(spark, config, "totals", scripted(replies))
    assert not result.success
    assert result.flow is None
    assert any("rejected" in t for t in result.transcript)


def _prompt_entries():
    """(types, fields) per ``- <type>: ... {fields}`` entry of the
    prompt's op list.  Fields are the names at the top level of the
    entry's first ``{...}`` block, split on ``,`` ``;`` ``+`` and ``OR``;
    nested values and parenthesised notes are skipped."""
    from openetlagent_spark.generator import OPERATION_DOCS

    listing = OPERATION_DOCS.split("fields:\n\n", 1)[1].split("\n\n", 1)[0]
    for entry in re.split(r"\n(?=- )", listing):
        types = re.match(r"- ([a-z0-9_ /]+):", entry).group(1).split(" / ")
        top, depth = "", 0
        for ch in entry[entry.index("{"):] if "{" in entry else "":
            depth += ch in "([{"
            if depth == 1 and ch not in "{}":
                top += ch
            depth -= ch in ")]}"
            if depth == 0:
                break
        names = [re.match(r"\s*(\w*)", seg).group(1) for seg in re.split(r"[,;+]|\bOR\b", top)]
        yield [t.strip() for t in types], [n for n in names if n]


def test_prompt_names_only_registered_types_and_their_fields():
    from openetlagent_spark.model import OPERATION_TYPES, _field_types

    entries = list(_prompt_entries())
    assert len(entries) > 40
    for types, names in entries:
        for op_type in types:
            assert op_type in OPERATION_TYPES, op_type
            unknown = set(names) - set(_field_types(OPERATION_TYPES[op_type]))
            assert not unknown, (op_type, sorted(unknown))
