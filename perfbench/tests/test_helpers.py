"""Unit tests for the benchmark's own helpers (no Spark session)."""

from __future__ import annotations

import hashlib
import os
import statistics

import pytest

import evlog
import gen
import stats
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))


def test_median_and_quartiles_match_statistics():
    vals = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5, 8.0, 7.0]
    assert stats.median(vals) == statistics.median(vals)
    assert stats.quartiles(vals) == (
        statistics.quantiles(vals, n=4)[0], statistics.median(vals),
        statistics.quantiles(vals, n=4)[2])
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert stats.spread(vals) == pytest.approx((q3 - q1) / q2)


def test_quartiles_of_one_value_and_empty_median():
    assert stats.quartiles([2.5]) == (2.5, 2.5, 2.5)
    assert stats.spread([2.5]) == 0.0
    with pytest.raises(ValueError):
        stats.median([])


def _span(sid, name, start, end, parent=None):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, "item", 0.0, 10.0),
        _span(1, "build", 1.0, 4.0, 0),
        _span(2, "action", 3.0, 6.0, 0),  # overlaps build by 1s
        _span(3, "inner", 1.5, 2.0, 1),
        _span(4, "item", 20.0, 21.0),
    ]
    st = stats.self_times(spans)
    assert st["item"] == pytest.approx(10.0 - 5.0 + 1.0)  # children cover [1, 6]
    assert st["build"] == pytest.approx(3.0 - 0.5)
    assert st["action"] == pytest.approx(3.0)
    assert st["inner"] == pytest.approx(0.5)


def test_self_time_clips_children_to_parent():
    spans = [_span(0, "p", 0.0, 1.0), _span(1, "c", 0.5, 2.0, 0)]
    assert stats.self_times(spans)["p"] == pytest.approx(0.5)


def test_tracer_records_nesting_and_item():
    tr = Tracer()
    with tr.span("off"):
        pass
    assert tr.spans == []
    tr.enabled = True
    with tr.span("item", "q1"):
        with tr.span("plans.build"):
            pass
    assert [s["name"] for s in tr.spans] == ["item", "plans.build"]
    assert tr.spans[1]["parent"] == 0 and tr.spans[1]["item"] == "q1"
    assert all(s["end"] >= s["start"] for s in tr.spans)


def test_event_log_parser_on_captured_log():
    """``eventlog_small.jsonl`` was captured from a local session: one
    job with no group, a two-stage shuffle job under ``g/a:build`` and
    a parquet write under ``g/a:action``."""
    with open(os.path.join(HERE, "eventlog_small.jsonl")) as fh:
        groups = evlog.metrics_by_group(fh)
    build, action = groups["g/a:build"], groups["g/a:action"]
    assert build["jobs"] == 1 and action["jobs"] == 1
    assert groups[None]["jobs"] == 1
    assert build["shuffle_write_bytes"] > 0
    assert build["shuffle_read_bytes"] == build["shuffle_write_bytes"]
    assert action["output_bytes"] > 0 and build["output_bytes"] == 0
    for g in (build, action):
        assert g["tasks"] >= 1
        assert g["executor_run_s"] > 0 and g["executor_cpu_s"] > 0


def test_task_metrics_units():
    tm = {"Executor Run Time": 1500, "Executor CPU Time": 2_000_000_000,
          "JVM GC Time": 30, "Disk Bytes Spilled": 7,
          "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 6},
          "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
          "Input Metrics": {"Bytes Read": 100}, "Output Metrics": {"Bytes Written": 9}}
    m = evlog.task_metrics(tm)
    assert m == {"executor_run_s": 1.5, "executor_cpu_s": 2.0, "gc_s": 0.03,
                 "shuffle_read_bytes": 11, "shuffle_write_bytes": 11,
                 "spill_bytes": 7, "input_bytes": 100, "output_bytes": 9}
    assert evlog.task_metrics({})["executor_run_s"] == 0.0


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_generators_are_deterministic(tmp_path):
    for seed, sub in ((7, "a"), (7, "b"), (8, "c")):
        gen.make_embeddings(str(tmp_path / sub / "t"))
        gen.make_flow_inputs(str(tmp_path / sub / "f"), 500, 50, 20, seed)
    a, b, c = (_digest(str(tmp_path / s / "f")) for s in "abc")
    assert a == b != c
    a, b, c = (_digest(str(tmp_path / s / "t")) for s in "abc")
    assert a == b == c  # the iterative inputs do not follow the seed


def _embeddings(path: str):
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    return t.schema.remove_metadata(), np.stack(t.column("embedding").to_numpy(zero_copy_only=False))


@pytest.mark.skipif(not os.environ.get("SPARK_GRAFT_SF_DIR"),
                    reason="SPARK_GRAFT_SF_DIR names no test-data directory")
def test_embeddings_match_the_test_data(tmp_path):
    """The generated table has the test data's schema, row count and
    vector shape: ``SPARK_GRAFT_SF_DIR=<testdata>/sf0.01 pytest ...``."""
    gen.make_embeddings(str(tmp_path))
    want_schema, want = _embeddings(os.path.join(os.environ["SPARK_GRAFT_SF_DIR"],
                                                 "embeddings.parquet"))
    got_schema, got = _embeddings(str(tmp_path / "embeddings.parquet"))
    assert got_schema == want_schema
    assert got.shape == want.shape and got.dtype == want.dtype
    assert abs(got.std() - want.std()) < 0.01
    assert (abs(1 - (got ** 2).sum(axis=1)) < 1e-5).all()
    assert (abs(1 - (want ** 2).sum(axis=1)) < 1e-5).all()


def test_flow_inputs_fit_the_refresh_audit_edits(tmp_path):
    exp = gen.make_flow_inputs(str(tmp_path), 300, 40, 10, 3)
    with open(tmp_path / "orders.csv") as fh:
        rows = [line.split(",") for line in fh.read().splitlines()[1:]]
    assert len(rows) == exp["orders"] == 300
    ids = {int(r[0]): int(r[4]) for r in rows}
    assert 103 in ids and 105 in ids and ids[105] != 999
    assert 1 <= exp["countries"] <= len(gen.COUNTRIES)
    with open(tmp_path / "products.csv") as fh:
        names = [line.split(",")[0] for line in fh.read().splitlines()[1:]]
    assert len(names) == len(set(names)) == 10
