"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]``; the same settings translate to a
multi-executor cluster: AQE on (runtime re-planning, skew-join
splitting, shuffle-partition coalescing), reasonable shuffle
parallelism, Arrow enabled for the pandas-UDF paths.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import shlex
import shutil
import subprocess
import sys
import time

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Why this process's driver JVM runs without the class-data archive:
# set once, when get_spark launches the JVM (one JVM per process).
_archive_skip_reason = "the driver JVM was not launched by get_spark"


def get_spark(app_name: str = "openetlagent-spark", master: str | None = None) -> SparkSession:
    """Build or reuse the session.  When this process has no driver JVM
    yet, the JVM starts from the class-data archive that an earlier
    session on this machine recorded (see :class:`ClassArchive`), or
    records one for later sessions; the archive state goes to stderr
    once."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark still DEFAULTS parquet timestamps to legacy INT96, which
        # carries no min/max statistics and no filter pushdown — every
        # time-range scan over an INT96-written table reads everything.
        # INT64 micros restores stats, row-group skipping, and pushdown
        # (see tests/test_sorted_layout.py for the measured difference).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # UI off by default (headless bench/CI); SPARK_GRAFT_UI=1 turns it
        # on for profiling sessions (scripts/profile_query.py reads the
        # REST API for per-stage attribution — guide §7.1)
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") == "1" else "false",
        )
        # PySpark 4's DataFrame debugging captures the Python call site
        # on EVERY Column/DataFrame op (a stack walk + py4j round-trip
        # per op, pyspark/errors/utils.py _with_origin) purely to
        # enrich error messages.  On expression-heavy plans this is the
        # single largest DRIVER cost: sq8_topk's 64-dim quantize/fold
        # construction measured 19.5s with it on vs 2.7s off (r13
        # profiling, ~30k py4j round-trips removed).  The driver is
        # serial at any cluster size, so this is a scale win, not a
        # local[] tune.  SPARK_GRAFT_DF_DEBUG=1 restores the capture
        # when debugging an actual error site.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            "true" if os.environ.get("SPARK_GRAFT_DF_DEBUG") == "1" else "false",
        )
        # console progress bars interleave \r-terminated fragments into
        # harness stdout and corrupt line-oriented log parsing
        .config("spark.ui.showConsoleProgress", "false")
    )
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        spark = builder.getOrCreate()  # the running JVM is reused as it is
    else:
        spark = _launch(builder)
    _quiet_bounded_window_warning(spark)
    return spark


def _launch(builder) -> SparkSession:
    global _archive_skip_reason
    archive, _archive_skip_reason = ClassArchive.locate()
    if archive is None:
        spark = builder.getOrCreate()
    else:
        spark = archive.launch(builder)
    state = class_archive_state(spark)
    if archive is not None and state.startswith("skipped"):
        archive.discard()  # stale: the next session records a fresh one
    print(f"openetlagent_spark: driver class-data archive: {state}", file=sys.stderr)
    return spark


def class_archive_state(spark: SparkSession) -> str:
    """Whether the driver JVM started from a class-data archive, read
    from the JVM itself: ``mapped``, ``recording`` (this session
    records the class list that its exit turns into an archive) or
    ``skipped: <reason>``.

    ``UseSharedSpaces`` is the JVM's runtime flag, which HotSpot clears
    when no archive maps: a stale archive (another classpath or JVM) is
    refused silently and the JVM runs on, so the flag passed says
    nothing."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )

    def vm_option(name: str) -> str:
        return mx.getVMOption(name).getValue()

    if vm_option("DumpLoadedClassList"):
        return "recording"
    archive = vm_option("SharedArchiveFile")
    if archive:
        if vm_option("UseSharedSpaces") == "true":
            return "mapped"
        return f"skipped: the JVM did not map {archive} (recorded for another classpath or JVM)"
    return f"skipped: {_archive_skip_reason}"


class ClassArchive:
    """An AppCDS archive of the classes the driver JVM loads, kept in
    ``$XDG_CACHE_HOME/openetlagent_spark/`` (default ``~/.cache``):
    150–175 MB, and it halves the JVM's start-up and first job.

    JDK 17 cannot record an archive as a side effect of a run
    (``-XX:+AutoCreateSharedArchive`` is JDK 19), so a session without
    one records the classes it loads (``-XX:DumpLoadedClassList``) and,
    at interpreter exit, after its JVM has exited, builds a static
    archive from that list in a separate JVM with the driver's exact
    classpath and module options (about 40 s, once per machine).  The
    archive is published only after a trial JVM maps it, by an atomic
    rename, with its size recorded beside it; a later session passes it
    through ``spark.driver.extraJavaOptions`` only when the size still
    matches, so a file cut short never reaches the JVM (a cut dynamic
    archive crashes JDK 17 with SIGBUS).

    The file name is a fingerprint of the JVM and of the jar set; the
    JVM itself refuses an archive recorded for another classpath.  JDK
    17 also refuses to dump when a non-empty directory is on the
    classpath, and the launcher puts the conf dir first, so sessions
    that use the archive launch with ``SPARK_CONF_DIR`` at an empty
    directory of the cache.  That changes nothing while the effective
    conf dir holds only ``*.template`` files, which Spark never reads;
    otherwise the archive is skipped."""

    BUILD_TIMEOUT_S = 90  # per JVM run of the build; a failure is remembered
    # The list is in load order and start-up comes first: start-up and a
    # first job load about 13,300 classes, the four example flows 15,000;
    # the cap keeps the build near 45 s after a longer first session.
    MAX_CLASSES = 16_000

    def __init__(self, cache_dir: str, key: str):
        self.cache_dir = cache_dir
        self.path = os.path.join(cache_dir, f"driver-{key}.jsa")
        self.meta_path = self.path + ".json"
        self.conf_dir = os.path.join(cache_dir, "conf")

    @classmethod
    def locate(cls) -> tuple[ClassArchive | None, str]:
        """The archive for this JVM and jar set, or None and why not."""
        from pyspark.find_spark_home import _find_spark_home

        submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
        if "driver-java-options" in submit_args or "extraJavaOptions" in submit_args:
            return None, "PYSPARK_SUBMIT_ARGS sets the driver's Java options"
        spark_home = _find_spark_home()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        try:
            real = sorted(n for n in os.listdir(conf_dir) if not n.endswith(".template"))
        except FileNotFoundError:
            real = []
        if real:
            return None, f"conf dir {conf_dir} holds {real[0]}, which is read from the classpath"
        java_home = os.environ.get("JAVA_HOME")
        java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
        if not java or not os.path.exists(java):
            return None, "no java executable found"
        java = os.path.realpath(java)
        java_home = java_home or os.path.dirname(os.path.dirname(java))
        digest = hashlib.sha256(java.encode())
        try:
            with open(os.path.join(java_home, "release"), "rb") as fh:
                digest.update(fh.read())
            jars = os.path.join(spark_home, "jars")
            for entry in sorted(os.scandir(jars), key=lambda e: e.name):
                st = entry.stat()
                digest.update(f"\0{entry.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
        except OSError as exc:
            return None, f"cannot fingerprint the JVM and jars: {exc}"
        cache_dir = os.path.join(
            os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
            "openetlagent_spark",
        )
        archive = cls(cache_dir, digest.hexdigest()[:16])
        try:
            os.makedirs(archive.conf_dir, exist_ok=True)
        except OSError as exc:
            return None, f"cache dir not writable: {exc}"
        if not os.access(cache_dir, os.W_OK):
            return None, f"cache dir {cache_dir} not writable"
        failed = archive.meta().get("failed")
        if failed:
            return None, f"building the archive failed ({failed}); delete {cache_dir} to retry"
        return archive, ""

    def meta(self) -> dict:
        try:
            with open(self.meta_path) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return {}

    def usable(self) -> bool:
        """Published and whole: its size is the one recorded at build."""
        try:
            return os.path.getsize(self.path) == self.meta().get("size")
        except OSError:
            return False

    def launch(self, builder) -> SparkSession:
        """Start the driver JVM from the archive, or record one."""
        recording = not self.usable()
        class_list = f"{self.path}.{os.getpid()}.classlist"
        opts = [f"-XX:DumpLoadedClassList={class_list}" if recording
                else f"-XX:SharedArchiveFile={self.path}",
                # JVM warnings (a refused archive among them) go to
                # stderr, never into the caller's stdout
                "-Xlog:disable", "-Xlog:all=warning:stderr"]
        builder.config("spark.driver.extraJavaOptions", shlex.join(opts))
        old_conf_dir = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            spark = builder.getOrCreate()
        finally:
            if old_conf_dir is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = old_conf_dir
        if recording:
            jvm = spark.sparkContext._jvm
            java = os.path.join(jvm.System.getProperty("java.home"), "bin", "java")
            classpath = jvm.System.getProperty("java.class.path")
            args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
            module_opts = [str(a) for a in args if str(a).startswith("--")]
            atexit.register(self._build_at_exit, SparkContext._gateway.proc, class_list,
                            [java, "-cp", classpath, *module_opts])
        return spark

    def discard(self) -> None:
        _remove(self.meta_path, self.path)

    def _build_at_exit(self, proc, class_list: str, java_cmd: list) -> None:
        """Let the driver JVM exit (closing its stdin ends the gateway
        and flushes the class list), then build and publish.  A failed
        build is remembered, so later sessions launch as before instead
        of recording again."""
        import fcntl

        try:
            proc.stdin.close()
            proc.wait(timeout=60)
            with open(os.path.join(self.cache_dir, "build.lock"), "w") as lock:
                try:
                    fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
                except BlockingIOError:
                    return  # another process is building it
                try:
                    size, build_s = self._build(class_list, java_cmd)
                except (OSError, subprocess.SubprocessError) as exc:
                    self._write_meta({"failed": str(exc)})
                    raise
            print(f"openetlagent_spark: recorded the driver class-data archive {self.path} "
                  f"({size / 1e6:.0f} MB) in {build_s:.1f} s", file=sys.stderr)
        except (OSError, subprocess.SubprocessError) as exc:
            print(f"openetlagent_spark: driver class-data archive not built: {exc}",
                  file=sys.stderr)
        finally:
            _remove(class_list)

    def _build(self, class_list: str, java_cmd: list) -> tuple[int, float]:
        """Dump, trial-map, publish; the caller holds the build lock."""
        classpath = java_cmd[2].split(os.pathsep)
        crowded = [d for d in classpath if os.path.isdir(d) and os.listdir(d)]
        if crowded:
            raise OSError(f"non-empty directory {crowded[0]} on the classpath")
        with open(class_list) as fh:
            lines = fh.readlines()
        with open(class_list, "w") as fh:
            fh.writelines(lines[: self.MAX_CLASSES])
        tmp = self.path + ".tmp"
        t = time.perf_counter()
        try:
            self._run([*java_cmd, "-Xshare:dump", f"-XX:SharedClassListFile={class_list}",
                       f"-XX:SharedArchiveFile={tmp}"])
            self._run([*java_cmd, "-Xshare:on", f"-XX:SharedArchiveFile={tmp}", "-version"])
            build_s = time.perf_counter() - t
            size = os.path.getsize(tmp)
            self._write_meta({"size": size, "build_s": round(build_s, 1)})
            os.replace(tmp, self.path)
        finally:
            _remove(tmp)
        return size, build_s

    def _write_meta(self, meta: dict) -> None:
        with open(self.meta_path + ".tmp", "w") as fh:
            json.dump(meta, fh)
        os.replace(self.meta_path + ".tmp", self.meta_path)

    def _run(self, cmd: list) -> None:
        out = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, timeout=self.BUILD_TIMEOUT_S)
        if out.returncode != 0:
            tail = out.stdout.decode(errors="replace").strip().splitlines()[-3:]
            raise subprocess.SubprocessError(
                f"{os.path.basename(cmd[0])} exited {out.returncode}: " + " | ".join(tail))


def _remove(*paths: str) -> None:
    for path in paths:
        try:
            os.remove(path)
        except OSError:
            pass


def _quiet_bounded_window_warning(spark: SparkSession) -> None:
    """Raise the WindowExec logger to ERROR.

    The repo's only empty-partition-spec windows run on BOUNDED
    post-aggregate frames — q_top_p_sources (|sources| rows,
    plans/analytics.py) and tokenize_ids' vocab ranking (top_k rows,
    functions/text.py) — but WindowExec cannot see that and logs
    "moving all data to a single partition" on every run, which reads
    like a scale bug in sweep logs.  The warning cannot be fixed
    plan-side: Catalyst folds a constant partition key back to an
    empty spec (verified on this Spark), so the spec is empty by the
    time WindowExec checks it.  Suppression is deliberately NARROW
    (one logger, WARN→ERROR) and the scale argument lives at each call
    site + PLANS.md; new code must still justify any global window
    there, not rely on the silence.  Because the logger level is
    session-global, a user flow that WANTS the single-partition
    warning for its own windows keeps it with
    ``SPARK_GRAFT_KEEP_WINDOW_WARNING=1`` (ADVICE r07) — the opt-out
    exists so this convenience cannot hide a real scale bug in user
    code.  Best-effort: log4j2 internals are not API-stable, so
    failures are ignored."""
    if os.environ.get("SPARK_GRAFT_KEEP_WINDOW_WARNING", "") not in ("", "0"):
        return
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass


def materialize(df, eager: bool = True):
    """The engine's shared materialization boundary — every operator
    that re-reads an intermediate (dedup banding bases, CC labels,
    prefix-scan inputs, …) goes through here instead of calling
    ``localCheckpoint`` directly.

    Strategy comes from the session conf ``spark.openetlagent.materialize``:

    - ``localCheckpoint`` (default): executor-local checkpoint blocks.
      Fastest, lineage-truncating, and blocks are freed deterministically
      by :func:`free_local_checkpoints`.  CLUSTER CAVEAT: the blocks are
      UNREPLICATED and lineage is gone — losing any executor (including
      dynamic de-allocation) fails the job unrecoverably instead of
      recomputing.  Right for single-JVM/local and for clusters with
      stable executors + external shuffle; wrong under aggressive
      dynamic allocation or spot instances.
    - ``checkpoint``: reliable checkpoint to the configured checkpoint
      dir (``sparkContext.setCheckpointDir`` — HDFS/S3 on a cluster).
      Survives executor loss; costs a write+read of the intermediate.
      The production fallback the localCheckpoint caveat points at.

    Both truncate lineage: callers rely on it, both for iterative
    plans that would double per round (connected components) and for
    boundaries whose consumers must never see a re-run (a sampled range
    split whose driver-collected offsets are joined back, a store that
    grows right after the boundary).
    """
    spark = df.sparkSession
    mode = spark.conf.get("spark.openetlagent.materialize", "localCheckpoint")
    if mode == "localCheckpoint":
        return df.localCheckpoint(eager=eager)
    if mode == "checkpoint":
        return df.checkpoint(eager=eager)
    raise ValueError(
        f"spark.openetlagent.materialize={mode!r}: expected "
        "localCheckpoint | checkpoint"
    )


def local_df(spark: SparkSession, rows: list, schema: str):
    """Build a DataFrame from a SMALL driver-local list as ONE
    partition, in the JVM alone: the rows travel as one JSON string
    literal, ``inline(from_json(…, 'array<struct<…>>', FAILFAST))`` over
    a one-row, one-partition ``range``.  ConstantFolding turns the
    parsed array into a single literal, so no Python RDD exists and no
    Python worker starts.

    ``spark.createDataFrame(rows)`` parallelizes local data into
    ``defaultParallelism`` Python-RDD slices even for a 16-row table,
    and a ``coalesce(1)`` before a single-file write then computes them
    sequentially in one task, each slice a Python-worker round trip.
    Even one slice needs a worker: measured on a 4-core host, writing a
    16×64 centroid table took 0.30 s from a one-slice Python RDD and
    0.12 s from this frame.  Store builders write 2–3 such layers per
    index.

    Values are the ones ``spark.createDataFrame(rows, schema)`` gives,
    NULLs included: floats travel as their shortest round-trip
    ``repr`` and Java parses them correctly rounded.  A value the
    schema cannot hold (an int beyond int32 for an ``int`` column, a
    float for an ``int``) fails the first action that reads the frame
    instead of turning into NULL.

    Only for BOUNDED driver-side state (meta rows, centroid tables,
    collected model weights): one partition is the point, not a
    limitation."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DataType

    struct = DataType.fromDDL(schema)
    names = struct.names
    if any(len(r) != len(names) for r in rows):
        raise ValueError(f"local_df: every row must hold {len(names)} values ({schema})")
    payload = json.dumps([dict(zip(names, r)) for r in rows])
    parsed = F.from_json(F.lit(payload), ArrayType(struct), {"mode": "FAILFAST"})
    return spark.range(0, 1, 1, 1).select(F.inline(parsed))


def run_concurrent_writes(thunks: list) -> None:
    """Run independent write actions concurrently from driver threads
    (guide §2.6: Spark happily schedules several jobs at once — actions
    are only sequential because driver code calls them sequentially).

    Store builders write 2–4 mutually-independent layers (meta,
    centroids, codebooks, lists/refine) to DISJOINT paths; serializing
    them stacks ~0.4s of job+commit overhead per tiny layer.  FIFO
    scheduling back-fills the big layer's task tail with the tiny
    jobs, so the wall cost of the tiny layers disappears.

    Callers must pass thunks whose writes are independent (no thunk
    reads a path another thunk writes).  Exceptions propagate: all
    thunks are awaited, the first failure re-raises.

    Each thunk runs under ``inheritable_thread_target``, so its jobs
    keep the caller's job group, description and session tags (a plain
    pool thread drops them, leaving the jobs untagged and
    uncancellable)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    if len(thunks) == 1:
        thunks[0]()
        return
    active = SparkSession.getActiveSession()
    inherit = inheritable_thread_target(active) if active is not None else inheritable_thread_target
    with ThreadPoolExecutor(max_workers=min(4, len(thunks))) as pool:
        futures = [pool.submit(inherit(t)) for t in thunks]
        errs = [f.exception() for f in futures]
    for e in errs:
        if e is not None:
            raise e


def free_local_checkpoints(spark: SparkSession) -> int:
    """Deterministically release every ``localCheckpoint`` block held
    by the session; returns the number of RDDs unpersisted.

    Operators here materialize reused intermediates with EAGER
    ``localCheckpoint`` (never bare ``persist``) so blocks are not
    pinned for the session — but the JVM may keep a reference alive
    past the Python result's garbage collection, so long-running
    loops (bench sweeps, harness runs) should call this BETWEEN
    queries, after each result is fully consumed, alongside
    ``spark.catalog.clearCache()``.

    Only locally-checkpointed RDDs are touched: each candidate must
    pass ``isLocallyCheckpointed()`` on the underlying RDD (the
    authoritative JVM API — checkpoint state, not a name match); the
    creation-site string is only a pre-filter.  A caller's own
    ``persist()``-ed frames are left alone.

    CONTRACT (assertion-strength, not advice): a checkpointed RDD,
    once unpersisted, is PERMANENTLY unrecomputable — its lineage was
    truncated at checkpoint time — so callers must not hold any live
    DataFrame built on a localCheckpoint across this call.  bench.py
    and the harness call it only between queries, after each result is
    fully consumed; do the same."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    it = jmap.keySet().iterator()
    freed = 0
    rdds = []
    while it.hasNext():
        rdds.append(jmap.get(it.next()))
    for jrdd in rdds:
        if jrdd is None:
            continue
        try:
            # JavaRDD → underlying RDD; isLocallyCheckpointed() is the
            # real predicate (version-stable API since Spark 1.x),
            # robust where the toString() call-site label is not
            is_local_ckpt = bool(jrdd.rdd().isLocallyCheckpointed())
        except Exception:
            # unexpected JVM surface: fall back to the label pre-filter
            is_local_ckpt = "localCheckpoint" in jrdd.toString()
        if is_local_ckpt:
            jrdd.unpersist(False)
            freed += 1
    return freed
