"""The benchmark's workloads: what each item runs and how its output is
checked.

Every item drives the engine through its public functions only, and
every call into a layer runs under a span and a Spark job group
``<pass>/<item>:<phase>`` (flow ops: ``<pass>/<output>/<i>:<op_type>``),
so jobs, stages and event-log task metrics are attributed per item and
per phase.  Phases ending in ``:action`` are the final action; all
other groups are driver build."""

from __future__ import annotations

import csv
import glob
import importlib.util
import os

import yaml

FLOWS = ["enriched_orders", "profit_by_region_category",
         "country_sales_summary", "refresh_audit"]

# name -> what runs; sizes are the generated inputs' sizes.  ``warm`` is
# the number of untimed passes after the verify pass: iterative's driver
# build keeps getting faster for several passes after its cold one;
# flows' passes cost about 7 s each and run without (see BASELINE.md).
WORKLOADS = {
    "iterative": {
        "kind": "harness",
        "embeddings": 500,  # the test data's row count at sf0.001 and sf0.01
        "items": ["ann_store_append"],
        "warm": 3,
    },
    "flows": {
        "kind": "flows",
        "warm": 0,
        "orders": 20_000,
        "customers": 2_000,
        "products": 200,
        "items": FLOWS,
    },
}

# span name -> phase; the layer metrics are these spans' self times
SPAN_PHASE = {
    "plans.build": "build",
    "model.load": "build",
    "sources.scan": "build",
    "validate.schema": "build",
    "exec.action": "action",
    "sources.save": "action",
    "session.free_ckpt": "free",
}


def load_check_oracle(root: str):
    """``scripts/check_oracle.py``'s normalizer and multiset, imported
    rather than copied."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class HarnessItem:
    """One ``HARNESS_QUERIES`` entry: build the plan, then a noop write."""

    def __init__(self, name: str, sf_dir: str):
        from openetlagent_spark.plans import HARNESS_QUERIES

        self.name = name
        self.sf_dir = sf_dir
        self.fn = HARNESS_QUERIES[name]

    def run(self, b, tag: str, per_op: bool = False) -> list[str]:
        spark, tr = b.spark, b.tracer
        b.group(f"{tag}/{self.name}:build")
        with tr.span("plans.build"):
            df = self.fn(spark, self.sf_dir)
        b.group(f"{tag}/{self.name}:action")
        with tr.span("exec.action"):
            df.write.format("noop").mode("overwrite").save()
        return []

    def verify(self, b) -> list[str]:
        """Exact comparison against the item's DuckDB oracle."""
        from openetlagent_spark.plans import HARNESS_ORACLES

        co = b.check_oracle
        b.group(f"v/{self.name}:build")
        df = self.fn(b.spark, self.sf_dir)
        b.group(f"v/{self.name}:action")
        got = df.toPandas()
        want = b.duckdb.cursor().execute(HARNESS_ORACLES[self.name]).df()
        if len(got) != len(want):
            return [f"{self.name}: {len(got)} rows, oracle has {len(want)}"]
        if sorted(got.columns) != sorted(want.columns):
            return [f"{self.name}: columns {sorted(got.columns)} != {sorted(want.columns)}"]
        if co.pdf_to_multiset(got, co.normalize_exact) != co.pdf_to_multiset(want, co.normalize_exact):
            return [f"{self.name}: values differ from the oracle"]
        return []


class FlowItem:
    """One flow of ``examples/config.yaml`` through the CLI path: model
    load, CSV scan, the op fold, schema validation, CSV save."""

    def __init__(self, name: str, config_path: str, flow_path: str):
        self.name = name
        self.config_path = config_path
        self.flow_path = flow_path

    def run(self, b, tag: str, per_op: bool = False) -> list[str]:
        from openetlagent_spark.model import load_pipeline_config, load_pipeline_flow
        from openetlagent_spark.runner import apply_operations
        from openetlagent_spark.sources import save_data, scan_data
        from openetlagent_spark.validate import validate_schema

        spark, tr = b.spark, b.tracer
        b.group(f"{tag}/{self.name}:build")
        with tr.span("model.load"):
            config = load_pipeline_config(self.config_path)
            flow = load_pipeline_flow(self.flow_path)
        b.group(f"{tag}/{self.name}:scan")
        with tr.span("sources.scan"):
            df = scan_data(spark, config.inputs[flow.source])
        if per_op:
            # one op per call, each under its own tag; temp columns are
            # kept, and the save's declared-schema projection drops them
            for i, op in enumerate(flow.operations):
                b.group(f"{tag}/{self.name}/{i}:{op.operation_type}")
                with tr.span(f"runner.op.{op.operation_type}"):
                    df = apply_operations(df, [op], spark, config.inputs,
                                          drop_temp_columns=False)
        else:
            b.group(f"{tag}/{self.name}:apply")
            with tr.span("runner.apply"):
                df = apply_operations(df, flow.operations, spark, config.inputs)
        b.group(f"{tag}/{self.name}:build")
        out_def = config.outputs[self.name]
        with tr.span("validate.schema"):
            ok, feedback = validate_schema(df, out_def)
        if not ok:
            return [f"{self.name}: {msg}" for msg in feedback]
        b.group(f"{tag}/{self.name}:action")
        with tr.span("sources.save"):
            save_data(df, out_def)
        self.out_dir = out_def.path
        return []

    def verify(self, b) -> list[str]:
        """Run once, then check the written CSV's rows against the
        counts the generator knows."""
        problems = self.run(b, "v")
        if problems:
            return problems
        rows = read_csv_dir(self.out_dir)
        n = b.expected["orders"]
        want = {
            "enriched_orders": n,
            "profit_by_region_category": 11 * n,
            "country_sales_summary": b.expected["countries"],
            "refresh_audit": None,
        }[self.name]
        if want is not None:
            return [] if len(rows) == want else [f"{self.name}: {len(rows)} rows, expected {want}"]
        got = {r["diff_status"]: int(r["n"]) for r in rows if int(r["n"])}
        exp = {"removed": 1, "changed": 1, "unchanged": n - 2}
        return [] if got == exp else [f"{self.name}: diff counts {got}, expected {exp}"]


def read_csv_dir(path: str) -> list[dict]:
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "part-*.csv"))):
        with open(part, newline="") as fh:
            rows.extend(csv.DictReader(fh))
    return rows


def written(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files a save left under ``path``."""
    files = glob.glob(os.path.join(path, "part-*"))
    return sum(os.path.getsize(f) for f in files), len(files)


def write_flow_config(root: str, in_dir: str, out_dir: str, path: str) -> None:
    """``examples/config.yaml`` with inputs pointed at the generated CSVs
    and outputs at ``out_dir``, limited to the benchmarked flows."""
    with open(os.path.join(root, "examples", "config.yaml")) as fh:
        cfg = yaml.safe_load(fh)
    for key, fd in cfg["inputs"].items():
        fd["path"] = os.path.join(in_dir, f"{key}.csv")
    cfg["outputs"] = {k: v for k, v in cfg["outputs"].items() if k in FLOWS}
    for key, fd in cfg["outputs"].items():
        fd["path"] = os.path.join(out_dir, key)
    with open(path, "w") as fh:
        yaml.safe_dump(cfg, fh, sort_keys=False)
