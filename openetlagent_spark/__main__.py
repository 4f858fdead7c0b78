"""CLI entry: ``python -m openetlagent_spark config.yaml``.

Mirrors the reference's batch workflow (app/main.py:516-620): load the
central config, and for each declared output execute the pre-authored
flow ``<pipelines_dir>/<output_key>.yaml`` — scan → one lazy op chain →
schema validation → save.  Exit code 1 if any output fails validation
or lacks a flow file.

LLM step-by-step generation (the reference's entry path C) is
external by design (BASELINE.json north star); the generator-facing
hooks it needs are ``runner.probe`` (live schema + sample rows) and
single-op trial application via ``apply_operations`` on a prefix chain.
"""

from __future__ import annotations

import argparse
import logging
import os
import sys

from .model import load_pipeline_config, load_pipeline_flow
from .runner import run_flow
from .session import get_spark

logger = logging.getLogger("openetlagent_spark")


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="openetlagent_spark",
        description="Run declared ETL pipelines on Spark.",
    )
    parser.add_argument("config", help="central config YAML (inputs + outputs)")
    parser.add_argument(
        "--pipelines-dir",
        default="pipelines",
        help="directory holding <output_key>.yaml flow files (default: pipelines)",
    )
    parser.add_argument(
        "--single-file",
        action="store_true",
        help="coalesce each output to one file (small outputs / reference parity)",
    )
    parser.add_argument("--master", default=None, help="Spark master (default local[ncpus])")
    parser.add_argument(
        "--explain",
        action="store_true",
        help="print each flow's optimized physical plan (joins, pushdown, "
        "shuffles) WITHOUT running its action or writing anything — the "
        "scale-hygiene preflight for a new pipeline; also prints how many "
        "Spark jobs building the plan launched (eager operator steps)",
    )
    args = parser.parse_args(argv)

    logging.basicConfig(level=logging.INFO, format="%(levelname)s %(name)s: %(message)s")
    config = load_pipeline_config(args.config)
    spark = get_spark("openetlagent-spark-cli", master=args.master)

    overall_success = True
    for output_key in config.outputs:
        flow_path = os.path.join(args.pipelines_dir, f"{output_key}.yaml")
        if not os.path.exists(flow_path):
            logger.error("no flow file for output '%s' (expected %s)", output_key, flow_path)
            overall_success = False
            continue
        try:
            flow = load_pipeline_flow(flow_path)
            if args.explain:
                # operators with eager steps (checkpoints, probes,
                # collects) run Spark jobs while the plan is built
                group = f"explain/{output_key}"
                sc = spark.sparkContext
                sc.setJobGroup(group, f"plan {output_key}")
                try:
                    result, _, _ = run_flow(spark, config, flow, output_key, save=False)
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                print(f"=== {output_key} ===")
                result.explain("formatted")
                jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                print(f"planning {output_key} launched {jobs} Spark job(s)")
                continue
            _, ok, feedback = run_flow(
                spark, config, flow, output_key, save=True, single_file=args.single_file
            )
        except Exception as exc:
            logger.error("output '%s' failed: %s", output_key, exc)
            overall_success = False
            continue
        if ok:
            logger.info("output '%s' written to %s", output_key, config.outputs[output_key].path)
        else:
            for msg in feedback:
                logger.error("output '%s': %s", output_key, msg)
            overall_success = False

    return 0 if overall_success else 1


if __name__ == "__main__":
    sys.exit(main())
