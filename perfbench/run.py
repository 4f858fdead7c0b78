#!/usr/bin/env python3
"""End-to-end benchmark of the engine, with a traced per-layer split.

Run from the repository root:

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 12 --trace 0

Workloads (``perfbench/workloads.py``):

* ``iterative`` — a harness query whose driver build launches a chain
  of eager Spark jobs (Lloyd rounds, checkpoints, store writes from
  driver threads) over a fixed embeddings table shaped like the test
  data's at sf0.01;
* ``flows`` — the ``examples/config.yaml`` flows through the CLI path
  (model load, CSV scan, op fold, validation, CSV save) over generated
  orders/customers/products CSVs.

One run is a closed loop with one client on ``local[<cpus>]``: start a
session, generate the inputs from ``--seed``, run one untimed
verify-and-warm pass that checks every item's output and the workload's
untimed warm passes, then timed passes (item order permuted by the seed)
until ``--seconds`` have passed and at least ``MIN_PASSES`` ran.  The
last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics: ``setup_s``, seconds from
process start to a session that has run its first job, and ``wall_s``,
one pass over the items taken as the sum of each item's median time over
the timed passes.  ``--trace 1`` turns on Spark's event log, runs the
warm passes (at least one), then untraced and traced passes in the order
u t t u (flows apply their ops one at a time in all of them), and
reports the per-layer metrics: span self times, job/stage/task counts
from ``statusTracker`` per job group, and event-log task metrics split
into build and action.
Spans are written to ``.bench_out/traces/``.  Exit status is 0 only when
every item ran and passed its check.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from collections import defaultdict  # noqa: E402

MIN_PASSES = 3  # timed passes, whatever --seconds says
DEADLINE_S = 170  # the whole command
SMOKE = {"flows": {"orders": 3_000, "customers": 300}}  # iterative is already small


# ---------------------------------------------------------------- environment

def configure_env(root: str, run_dir: str, trace: bool) -> None:
    """Point every scratch path of Python, the JVM and Spark into
    ``run_dir``, before pyspark is imported."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    submit = []
    if trace:
        evdir = os.path.join(run_dir, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{evdir}",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    if root not in sys.path:
        sys.path.insert(0, root)


def start_session():
    """``get_spark`` plus a first trivial job; returns (spark,
    get_spark seconds, seconds since process start)."""
    from openetlagent_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t
    spark.range(1).count()
    return spark, get_spark_s, time.time() - T_START


# ---------------------------------------------------------------- the run

class Bench:
    """What items need while they run: the session, the tracer, job
    groups used by the current item, and checking helpers."""

    def __init__(self, spark, tracer, root: str):
        self.spark = spark
        self.tracer = tracer
        self.root = root
        self.groups: list[str] = []
        self.inputs: dict = {}  # generated input sizes, for the report
        self.expected: dict = {}  # flows: counts the outputs must have
        self.input_bytes = 0  # flows: bytes of the input CSVs
        self.duckdb = None  # harness: DuckDB views over the generated tables
        self.check_oracle = None  # harness: scripts/check_oracle.py

    def group(self, name: str) -> None:
        self.groups.append(name)
        self.spark.sparkContext.setJobGroup(name, name)


def make_items(b: Bench, workload: str, run_dir: str, seed: int, smoke: bool) -> list:
    import gen
    import workloads as wl

    spec = dict(wl.WORKLOADS[workload], **(SMOKE.get(workload, {}) if smoke else {}))
    data = os.path.join(run_dir, "data")
    if spec["kind"] == "harness":
        rows = gen.make_embeddings(data, spec["embeddings"])
        import duckdb

        b.duckdb = duckdb.connect()
        b.duckdb.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{data}/embeddings.parquet')")
        b.check_oracle = wl.load_check_oracle(b.root)
        b.inputs = {"embeddings": rows}
        return [wl.HarnessItem(name, data) for name in spec["items"]]
    b.expected = gen.make_flow_inputs(data, spec["orders"], spec["customers"],
                                      spec["products"], seed)
    b.input_bytes = sum(os.path.getsize(os.path.join(data, f"{k}.csv"))
                        for k in ("orders", "customers", "products"))
    b.inputs = dict(b.expected)
    cfg = os.path.join(run_dir, "config.yaml")
    wl.write_flow_config(b.root, data, os.path.join(run_dir, "out"), cfg)
    return [wl.FlowItem(name, cfg, os.path.join(b.root, "examples", "pipelines", f"{name}.yaml"))
            for name in spec["items"]]


def free_checkpoints(b: Bench, tag: str, name: str) -> int:
    from openetlagent_spark.session import free_local_checkpoints

    b.group(f"{tag}/{name}:free")
    with b.tracer.span("session.free_ckpt"):
        b.spark.catalog.clearCache()
        return free_local_checkpoints(b.spark)


def job_counts(b: Bench, acc: dict) -> None:
    """Add the current item's jobs, stages and tasks, per group, read
    from ``statusTracker``."""
    st = b.spark.sparkContext.statusTracker()
    for g in dict.fromkeys(b.groups):
        phase = g.rsplit(":", 1)[1]
        jobs = st.getJobIdsForGroup(g)
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            stages.update(info.stageIds if info else ())
        acc["exec.jobs"] += len(jobs)
        if phase != "action":
            acc["plans.build_jobs"] += len(jobs)
        if phase == "scan":
            acc["sources.scan_jobs"] += len(jobs)
        if g.count("/") == 2 or phase == "apply":
            acc["runner.apply_jobs"] += len(jobs)
        for s in stages:
            si = st.getStageInfo(s)
            if si is not None:
                acc["exec.stages"] += 1
                acc["exec.tasks"] += si.numTasks
                acc["exec.tasks_failed"] += si.numFailedTasks


def run_pass(b: Bench, items: list, tag: str, traced: bool, per_op: bool,
             acc: dict, item_s: dict) -> tuple[float, int]:
    """One closed-loop pass over ``items``; appends each item's seconds
    to ``item_s[name]`` and returns (wall seconds, failed items).  Flows
    apply their ops one call each when ``per_op``."""
    import workloads as wl

    failed = 0
    st = b.spark.sparkContext.statusTracker()
    t0 = time.perf_counter()
    for item in items:
        b.groups = []
        if traced:
            untagged = set(st.getJobIdsForGroup(None))
        t = time.perf_counter()
        try:
            with b.tracer.span("item", item.name):
                problems = item.run(b, tag, per_op=per_op)
                freed = free_checkpoints(b, tag, item.name)
        except Exception as exc:  # an item that raises is a failed item
            problems = [f"{item.name}: {type(exc).__name__}: {str(exc)[:300]}"]
            freed = 0
        item_s[item.name].append(time.perf_counter() - t)
        if problems:
            failed += 1
            print("FAIL " + "; ".join(problems), file=sys.stderr)
        if traced:
            acc["exec.untagged_jobs"] += len(set(st.getJobIdsForGroup(None)) - untagged)
            acc["session.ckpt_freed"] += freed
            job_counts(b, acc)
            if isinstance(item, wl.FlowItem) and not problems:
                nbytes, nfiles = wl.written(item.out_dir)
                acc["sources.bytes_written"] += nbytes
                acc["sources.files_written"] += nfiles
    return time.perf_counter() - t0, failed


def verify_pass(b: Bench, items: list) -> int:
    """Run every item once and check its output; returns the number of
    items that raised or failed their check.  The pass is untimed and
    also warms the JVM, so the items run concurrently, one driver thread
    each; checkpoints are freed once all have finished."""
    from concurrent.futures import ThreadPoolExecutor

    def check(item) -> list[str]:
        try:
            return item.verify(b)
        except Exception as exc:  # an item that raises is a failed item
            return [f"{item.name}: {type(exc).__name__}: {str(exc)[:300]}"]

    with ThreadPoolExecutor(max_workers=len(items)) as pool:
        results = list(pool.map(check, items))
    free_checkpoints(b, "v", "all")
    for problems in results:
        if problems:
            print("VERIFY FAIL " + "; ".join(problems), file=sys.stderr)
    return sum(1 for problems in results if problems)


def layer_metrics(b: Bench, tag: str, wall: float, spans: list[dict],
                  acc: dict, groups: dict) -> dict[str, float]:
    """Per-layer metrics of one traced pass."""
    import stats
    import workloads as wl
    from evlog import TASK_METRICS

    self_t = stats.self_times(spans)
    m = {k: float(v) for k, v in acc.items()}
    phase_s = defaultdict(float)
    for name, secs in self_t.items():
        phase = wl.SPAN_PHASE.get(name, "build" if name.startswith("runner.") else None)
        if phase:
            phase_s[phase] += secs
    m["plans.build_s"] = phase_s["build"]
    m["plans.build_share"] = phase_s["build"] / wall
    m["exec.action_s"] = phase_s["action"]
    m["session.free_ckpt_s"] = phase_s["free"]
    for name in ("model.load", "validate.schema", "sources.scan", "sources.save"):
        m[f"{name}_share"] = self_t.get(name, 0.0) / wall
    op_s = {k: v for k, v in self_t.items() if k.startswith("runner.op.")}
    m["runner.apply_share"] = sum(op_s.values()) / wall
    for op in FLOW_OPS:
        m[f"runner.op.{op}_share"] = op_s.get(f"runner.op.{op}", 0.0) / wall
    m["sources.write_amp"] = (m.get("sources.bytes_written", 0.0) / b.input_bytes
                              if b.input_bytes else 0.0)

    split = {"build": defaultdict(float), "action": defaultdict(float)}
    for g, vals in groups.items():
        if g is None or not g.startswith(f"{tag}/"):
            continue
        phase = g.rsplit(":", 1)[1]
        side = split["action" if phase == "action" else "build"]
        for k, v in vals.items():
            side[k] += v
    for k in TASK_METRICS:
        total = split["build"][k] + split["action"][k]
        if k.endswith("_s"):
            m[f"spark.{k}"] = total
            m[f"spark.{k[:-2]}.build_share"] = split["build"][k] / total if total else 0.0
        else:
            m[f"spark.{k}.build"] = split["build"][k]
            m[f"spark.{k}.action"] = split["action"][k]
    m["trace.wall_s"] = wall
    return m


def host_probe() -> float:
    """Seconds a fixed pure-Python loop takes: the host's single-thread
    speed at this moment, reported beside the timings so that a slow
    stretch of a shared host can be told from a slower engine."""
    t = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i
    return time.perf_counter() - t


def pass_estimate(item_s: dict) -> float:
    """One pass over the items: the sum of each item's median seconds,
    which keeps a burst that slows one item once out of the estimate."""
    import stats

    return sum(stats.median(ts) for ts in item_s.values())


# op types of the benchmarked flows, each reported as runner.op.<type>_share
FLOW_OPS = ["bind", "casting", "application", "arithmetic", "comparison",
            "assignation", "switching", "equality", "fold", "aggregation",
            "window", "filter", "snapshot_diff"]


def worker(a) -> int:
    configure_env(a.root, a.run_dir, a.trace)
    os.chdir(a.run_dir)
    spark, get_spark_s, setup_s = start_session()

    import stats
    import workloads as wl
    from spans import Tracer

    tracer = Tracer()
    b = Bench(spark, tracer, a.root)
    phase_s = {"setup": setup_s}
    t = time.perf_counter()
    items = make_items(b, a.workload, a.run_dir, a.seed, a.smoke)
    phase_s["generate"] = time.perf_counter() - t
    t = time.perf_counter()
    attempted, failed = len(items), verify_pass(b, items)
    phase_s["verify"] = time.perf_counter() - t

    rng = random.Random(a.seed)
    per_op = bool(a.trace)  # the traced run's u passes run the t passes' plan

    walls = {"w": [], "u": [], "t": []}
    item_s = {side: defaultdict(list) for side in walls}
    per_pass = []  # (tag, wall, span slice, counters) of traced passes
    probes = []
    # untimed warm passes w, at least one in the traced run; then timed
    # passes, in the traced run in the order u t t u, which cancels a
    # linear drift
    warm = max(wl.WORKLOADS[a.workload]["warm"], a.trace)
    min_passes = MIN_PASSES + 1 if a.trace else MIN_PASSES
    t = t_begin = time.perf_counter()
    k = 0
    while k < warm + min_passes or time.perf_counter() - t_begin < a.seconds:
        if k == warm:
            phase_s["warm"] = time.perf_counter() - t
            t_begin = time.perf_counter()
        j = k - warm
        side = "w" if j < 0 else ("t" if j % 4 in (1, 2) else "u") if a.trace else "u"
        if side != "w":
            probes.append(host_probe())
        order = items[:]
        rng.shuffle(order)
        traced = side == "t"
        tag = f"{side}{k}"
        tracer.enabled = traced
        first_span = len(tracer.spans)
        acc = defaultdict(float)
        wall, bad = run_pass(b, order, tag, traced, per_op, acc, item_s[side])
        tracer.enabled = False
        walls[side].append(wall)
        attempted += len(order)
        failed += bad
        if traced:
            per_pass.append((tag, wall, tracer.spans[first_span:], acc))
        k += 1

    phase_s["timed"] = time.perf_counter() - t_begin
    spark.stop()

    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "inputs": b.inputs, "phase_s": phase_s}
    if not a.trace:
        result["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": pass_estimate(item_s["u"]), "unit": "s"},
        }
        result["samples"] = {"wall_s": len(walls["u"]), "pass_walls_s": walls["u"],
                             "host_probe_s": probes,
                             "item_s": {k: stats.median(v) for k, v in item_s["u"].items()}}
    else:
        from evlog import read_event_log

        evdir = os.path.join(a.run_dir, "eventlog")
        logs = [os.path.join(evdir, f) for f in os.listdir(evdir)]
        groups = read_event_log(logs[0]) if len(logs) == 1 else {}
        rows = [layer_metrics(b, tag, wall, spans, acc, groups)
                for tag, wall, spans, acc in per_pass]
        metrics = {name: stats.median([r.get(name, 0.0) for r in rows])
                   for name in LAYER_UNITS if name not in ("session.get_spark_s", "trace.overhead")}
        metrics["session.get_spark_s"] = get_spark_s
        metrics["trace.overhead"] = pass_estimate(item_s["t"]) / pass_estimate(item_s["u"]) - 1
        result["metrics"] = {n: {"value": metrics[n], "unit": LAYER_UNITS[n]} for n in LAYER_UNITS}
        result["samples"] = {"traced_passes": len(walls["t"]), "untraced_passes": len(walls["u"]),
                             "pass_walls_s": walls}
        if not groups:
            result["correct"] = False
            print(f"expected one event log in {evdir}, found {len(logs)}", file=sys.stderr)
        os.makedirs(a.trace_dir, exist_ok=True)
        tracer.dump(os.path.join(a.trace_dir, f"{a.workload}-seed{a.seed}.spans.jsonl"))
    with open(os.path.join(a.run_dir, "result.json"), "w") as fh:
        json.dump(result, fh)
    return 0


LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.free_ckpt_s": "s",
    "session.ckpt_freed": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_share": "ratio",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.tasks_failed": "count",
    "exec.untagged_jobs": "count",
    "spark.executor_run_s": "s",
    "spark.executor_run.build_share": "ratio",
    "spark.executor_cpu_s": "s",
    "spark.executor_cpu.build_share": "ratio",
    "spark.gc_s": "s",
    "spark.gc.build_share": "ratio",
    **{f"spark.{k}.{side}": "bytes"
       for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                 "input_bytes", "output_bytes")
       for side in ("build", "action")},
    "model.load_share": "ratio",
    "runner.apply_share": "ratio",
    "runner.apply_jobs": "count",
    "validate.schema_share": "ratio",
    "sources.scan_share": "ratio",
    "sources.scan_jobs": "count",
    "sources.save_share": "ratio",
    "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "sources.write_amp": "ratio",
    **{f"runner.op.{op}_share": "ratio" for op in FLOW_OPS},
    "trace.wall_s": "s",
    "trace.overhead": "ratio",
}


# ---------------------------------------------------------------- supervisor

def _become_subreaper() -> None:
    """Adopt orphaned descendants (the JVM and its Python workers) so
    they can be reaped and waited for."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _run_group(cmd: list[str], timeout: float) -> int | None:
    """Run ``cmd`` in its own process group, its stdout sent to our
    stderr.  Once it exits (or is killed at ``timeout``), kill what is
    left of its group (the JVM) and wait until every descendant has
    exited, including the Python worker daemon, which puts itself in a
    group of its own and exits when the JVM is gone.  Returns the exit
    code, or None on timeout."""
    # fixed string hashing: set and dict orders in the driver repeat across runs
    env = dict(os.environ, PYTHONHASHSEED="0")
    proc = subprocess.Popen(cmd, stdout=sys.stderr.fileno(), start_new_session=True, env=env)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        code = None
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    deadline = time.time() + 20
    while time.time() < deadline:
        try:
            if not os.waitpid(-1, os.WNOHANG)[0]:
                time.sleep(0.02)
        except ChildProcessError:
            break  # no children left
    return code


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=["iterative", "flows"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true",
                   help="smallest inputs (flows: a few thousand orders)")
    p.add_argument("--worker", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--run-dir", help=argparse.SUPPRESS)
    p.add_argument("--root", default=os.getcwd(), help=argparse.SUPPRESS)
    p.add_argument("--trace-dir", help=argparse.SUPPRESS)
    a = p.parse_args(argv)
    if a.worker:
        return worker(a)
    if a.workload is None:
        p.error("--workload is required")

    root = os.path.abspath(a.root)
    if not os.path.isfile(os.path.join(root, "openetlagent_spark", "session.py")):
        print(f"no engine source under {root}: run from the repository root",
              file=sys.stderr)
        return 2
    _become_subreaper()
    out_base = os.path.join(root, ".bench_out")
    run_dir = os.path.join(out_base, f"run-{a.workload}-s{a.seed}-p{os.getpid()}")
    os.makedirs(run_dir)
    try:
        cmd = [sys.executable, os.path.abspath(__file__), "--root", root,
               "--run-dir", run_dir, "--worker", "--workload", a.workload,
               "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--trace-dir", os.path.join(out_base, "traces")]
        if a.smoke:
            cmd.append("--smoke")
        code = _run_group(cmd, DEADLINE_S - (time.time() - T_START))
        res_path = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.exists(res_path):
            print(f"benchmark worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(res_path) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"workload": a.workload, "seed": a.seed, "inputs": res["inputs"],
                      "samples": res["samples"], "phase_s": res["phase_s"],
                      "total_s": time.time() - T_START}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
