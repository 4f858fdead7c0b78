"""The CLI (``python -m openetlagent_spark``)."""

from __future__ import annotations

import os
import re

from openetlagent_spark import __main__ as cli

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the four flows the benchmark runs build their plans without a job;
# duplicate_order_pairs' ngram dedup checkpoints while it plans
BENCHMARK_FLOWS = ["enriched_orders", "profit_by_region_category",
                   "country_sales_summary", "refresh_audit"]


def test_explain_reports_the_jobs_planning_launched(spark, capsys, monkeypatch):
    monkeypatch.chdir(ROOT)
    # the test session as it is: get_spark would reset its confs
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    assert cli.main(["examples/config.yaml", "--pipelines-dir", "examples/pipelines",
                     "--explain"]) == 0
    out = capsys.readouterr().out
    jobs = {k: int(n) for k, n in
            re.findall(r"^planning (\w+) launched (\d+) Spark job\(s\)$", out, re.M)}
    assert set(jobs) == set(BENCHMARK_FLOWS) | {"duplicate_order_pairs"}
    assert {k: jobs[k] for k in BENCHMARK_FLOWS} == dict.fromkeys(BENCHMARK_FLOWS, 0)
    assert jobs["duplicate_order_pairs"] >= 1
    assert out.count("== Physical Plan ==") == len(jobs)
