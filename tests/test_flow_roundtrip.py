"""Flow YAML save/load round-trip (reference: save_pipeline_flow at
app/main.py:502-513 persists generated flows for replay on later runs)."""

from __future__ import annotations

from openetlagent_spark.model import (
    load_pipeline_flow,
    parse_operation,
    PipelineFlow,
    save_pipeline_flow,
)

OPS = [
    {"operation_type": "bind", "right_file_path": "customers", "left_on": "cid",
     "right_on": "cid", "how": "inner", "columns_to_add": ["name"]},
    {"operation_type": "switching", "switch_column": "cat",
     "mapping": {"A": "x"}, "default_value": 0.0, "output_column": "o"},
    {"operation_type": "aggregation", "group_by": ["name"],
     "aggregations": {"n": {"column": "*", "agg": "count"}}},
    {"operation_type": "repartition", "columns": ["name"], "num_partitions": 8},
]


def test_flow_yaml_roundtrip(tmp_path):
    flow = PipelineFlow(source="orders", operations=[parse_operation(o) for o in OPS])
    path = str(tmp_path / "flow.yaml")
    save_pipeline_flow(flow, path)
    back = load_pipeline_flow(path)
    assert back.source == "orders"
    assert [op.operation_type for op in back.operations] == [
        "bind", "switching", "aggregation", "repartition"
    ]
    assert back.operations[0].columns_to_add == ["name"]
    assert back.operations[1].mapping == {"A": "x"}
    assert back.operations[2].aggregations == {"n": {"column": "*", "agg": "count"}}
    assert back.operations[3].num_partitions == 8


def test_every_operation_type_is_executable():
    """Every YAML-parseable op type has one dispatcher entry, and the
    dispatcher holds no type the parser refuses."""
    from openetlagent_spark.model import OPERATION_TYPES
    from openetlagent_spark.operators import OPERATION_DISPATCHER

    assert set(OPERATION_TYPES) == set(OPERATION_DISPATCHER)


def test_flat_file_schema_raises_loudly(tmp_path):
    """A file_schema missing the 'columns' nesting (the flat
    {col: type} mis-write) must fail at CONFIG PARSE, not surface
    later as 'input column not found' with zero available columns."""
    import pytest

    from openetlagent_spark.model import SpecError, load_pipeline_config

    cfg = tmp_path / "config.yaml"
    cfg.write_text(
        "inputs:\n"
        "  events:\n"
        "    path: /tmp/x.parquet\n"
        "    format: parquet\n"
        "    file_schema:\n"
        "      event_id: {type: integer}\n"
        "outputs:\n"
        "  out:\n"
        "    path: /tmp/out\n"
        "    format: csv\n"
        "    file_schema:\n"
        "      name: out\n"
        "      columns:\n"
        "        event_id: {type: integer}\n"
    )
    with pytest.raises(SpecError, match="unknown key"):
        load_pipeline_config(str(cfg))


def test_name_only_file_schema_still_parses(tmp_path):
    """file_schema: {name: out} with no columns is a valid declared
    form (columns default empty) — the flat-schema guard must not
    reject it."""
    from openetlagent_spark.model import load_pipeline_config

    cfg = tmp_path / "config.yaml"
    cfg.write_text(
        "inputs:\n"
        "  events:\n"
        "    path: /tmp/x.parquet\n"
        "    format: parquet\n"
        "    file_schema:\n"
        "      name: events\n"
        "      columns:\n"
        "        event_id: {type: integer}\n"
        "outputs:\n"
        "  out:\n"
        "    path: /tmp/out\n"
        "    format: csv\n"
        "    file_schema:\n"
        "      name: out\n"
    )
    config = load_pipeline_config(str(cfg))
    assert config.outputs["out"].file_schema.columns == {}
