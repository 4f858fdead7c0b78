"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]``; the same settings translate to a
multi-executor cluster: AQE on (runtime re-planning, skew-join
splitting, shuffle-partition coalescing), reasonable shuffle
parallelism, Arrow enabled for the pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "openetlagent-spark", master: str | None = None) -> SparkSession:
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
    spark = builder.getOrCreate()
    _quiet_bounded_window_warning(spark)
    return spark


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


def materialize(df, eager: bool = True, require_truncation: bool = False):
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
    - ``persist``: storage-level cache — keeps lineage, so executor
      loss recomputes; but lineage is NOT truncated, so iterative
      algorithms whose plans double per round (connected components)
      refuse it (``require_truncation=True`` raises) — use
      ``checkpoint`` there.
    """
    spark = df.sparkSession
    mode = spark.conf.get("spark.openetlagent.materialize", "localCheckpoint")
    if mode == "localCheckpoint":
        return df.localCheckpoint(eager=eager)
    if mode == "checkpoint":
        return df.checkpoint(eager=eager)
    if mode == "persist":
        if require_truncation:
            raise ValueError(
                "spark.openetlagent.materialize=persist cannot serve an "
                "iterative lineage-truncation boundary (plan size doubles "
                "per round); set localCheckpoint or checkpoint"
            )
        out = df.persist()
        if eager:
            out.count()
        return out
    raise ValueError(
        f"spark.openetlagent.materialize={mode!r}: expected "
        "localCheckpoint | checkpoint | persist"
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
