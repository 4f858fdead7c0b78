"""Structured Streaming surface over event tables.

The reference has NO streaming (SURVEY §2.2); this module is the
engine's Spark-native extension for event data: file-source streams,
watermarked tumbling/sliding window aggregation, and custom stateful
sessionization via applyInPandasWithState.

Batch/stream parity: every transformation here also accepts a batch
DataFrame (same code path — Structured Streaming's unified API), which
is how the correctness harness exercises the window logic against a SQL
oracle, while the streaming tests drive the same plans through
``readStream`` + ``availableNow`` triggers.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from ..session import materialize
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _with_nanos_as_long(spark: SparkSession, read_fn):
    """Run a parquet read with nanosAsLong enabled, restoring the prior
    setting afterwards — the converted schema is captured at read time,
    so scoping the flag avoids silently changing how OTHER parquet reads
    in the session treat TIMESTAMP(NANOS) columns."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    previous = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        return read_fn()
    finally:
        if previous is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, previous)


def _parquet_ts_is_nanos(path: str, column: str = "ts") -> bool | None:
    """Whether ``column`` is TIMESTAMP(NANOS), read from the parquet
    footer on the DRIVER via pyarrow — no Spark job, so a nanos file
    never aborts a task (the old probe let ``spark.read.parquet`` fail a
    real footer-read task, spraying an executor ERROR stack trace into
    every log).  Returns None when the footer can't be inspected here
    (e.g. an object-store URI pyarrow lacks a filesystem for) — callers
    then fall back to the scoped-flag Spark read."""
    import os

    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        p = path
        if os.path.isdir(p):
            files = sorted(
                os.path.join(root, fn)
                for root, _, fns in os.walk(p)
                for fn in fns
                if fn.endswith(".parquet")
            )
            if not files:
                return None
            p = files[0]
        schema = pq.read_schema(p)
        if column not in schema.names:
            return None
        t = schema.field(column).type
        return pa.types.is_timestamp(t) and t.unit == "ns"
    except Exception:
        return None


def read_event_table(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of an event parquet whose timestamps may be
    nanosecond-precision (Spark's native reader rejects TIMESTAMP(NANOS);
    read them as longs and truncate to microseconds — the same ns→µs
    truncation DuckDB applies)."""
    if _parquet_ts_is_nanos(path) is False:
        return _normalize_ts(spark.read.parquet(path))
    df = _with_nanos_as_long(spark, lambda: spark.read.parquet(path))
    if not isinstance(df.schema["ts"].dataType, T.TimestampType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return _normalize_ts(df)


def _normalize_ts(df: DataFrame, column: str = "ts") -> DataFrame:
    """Parquet µs timestamps written without a timezone surface as
    TIMESTAMP_NTZ, which downstream epoch casts (``cast("double")``)
    reject.  The engine runs a UTC session, so NTZ → TIMESTAMP is a
    pure type change (identical wall-clock instant) that restores the
    classic timestamp behavior everywhere downstream."""
    if column in df.columns and isinstance(
        df.schema[column].dataType, T.TimestampNTZType
    ):
        df = df.withColumn(column, F.col(column).cast("timestamp"))
    return df


def read_event_stream(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_trigger: int | None = None,
    nanos: bool = False,
) -> DataFrame:
    """File-source event stream (parquet directory).  At scale this is
    the landing-zone pattern: readStream over an append-only directory,
    exactly-once per file, checkpointed consumption.

    ``nanos=True`` reads TIMESTAMP(NANOS) parquet (which Spark's reader
    rejects as timestamps): ts arrives as int64 nanos and is truncated
    to microseconds, same convention as read_event_table."""
    if nanos:
        schema = T.StructType(
            [
                f if f.name != "ts" else T.StructField("ts", T.LongType())
                for f in EVENT_SCHEMA.fields
            ]
        )
    else:
        schema = EVENT_SCHEMA

    if nanos:
        # Streaming reads NEW files on every microbatch, so the flag must
        # stay set for the stream's lifetime — deliberately NOT scoped
        # like the batch reader's (_with_nanos_as_long).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    if nanos:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def windowed_event_counts(
    events: DataFrame,
    *,
    window_duration: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling (or sliding) per-type window aggregate with a watermark
    for late-data handling.  Works identically on batch and streaming
    inputs; on a stream the watermark bounds state so 100 TB/day of
    events doesn't accumulate unbounded window state."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    win = F.window(F.col("ts"), window_duration, slide) if slide else F.window(F.col("ts"), window_duration)
    return (
        src.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_window_agg(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based sessions via Spark's NATIVE ``session_window`` — the
    built-in counterpart to the custom ``sessionize`` operator below.
    The native form merges windows inside the aggregation operator
    (no per-key Python state), works identically on batch and
    streaming inputs, and on a stream the watermark closes sessions
    and evicts their state, so state stays O(open sessions).

    Semantics note vs ``sessionize``: Spark's session window spans
    ``[first_event, last_event + gap)`` — the reported ``session_end``
    includes the trailing gap, and an event lands in a new session when
    its ts is ``>= last + gap`` (strict session_window contract).
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.col("user_id"), F.session_window(F.col("ts"), gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def write_stream_idempotent(
    df: DataFrame,
    path: str,
    *,
    checkpoint: str,
    partition_by: list[str] | None = None,
    available_now: bool = True,
    query_name: str = "sink",
):
    """Exactly-once parquet sink via foreachBatch: each micro-batch
    lands under ``path/batch_id=N`` with overwrite mode, so a replayed
    batch (failure between write and checkpoint commit) rewrites the
    SAME directory instead of duplicating rows — write idempotence +
    the checkpoint's batch tracking = end-to-end exactly-once.  The
    batch_id directory column doubles as an audit trail of stream
    progress.  Returns the StreamingQuery (caller awaits/stops)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        writer = batch_df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(f"{path}/batch_id={batch_id}")

    writer = (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    *,
    left_on: str = "user_id",
    right_on: str,
    columns_to_add: list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to a
    (possibly streaming) event frame.  The static side is re-read per
    micro-batch by Structured Streaming, so a slowly-changing dimension
    table picks up updates without restarting the query; Spark requires
    the stream to be the LEFT side for left joins.  Works identically
    on batch input (same lazy plan, one broadcast-able join).  Added
    columns colliding with a stream column are renamed ``{col}_right``
    (bind's convention); the join key never duplicates."""
    add_cols = [c for c in columns_to_add if c != right_on]
    right = dim.select(right_on, *add_cols)
    stream_cols = set(events.columns)
    for c in add_cols:
        if c in stream_cols:
            right = right.withColumnRenamed(c, f"{c}_right")
    key_alias = right_on
    if right_on in stream_cols:
        key_alias = f"__enrich_key_{right_on}__"
        right = right.withColumnRenamed(right_on, key_alias)
    joined = events.join(right, events[left_on] == right[key_alias], how)
    return joined.drop(right[key_alias])


def join_event_streams(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str = "user_id",
    left_time: str = "ts",
    right_time: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
    suffix: str = "_r",
) -> DataFrame:
    """Stream-stream interval join: pair each left event with the right
    events sharing ``key`` whose time falls in [left_time, left_time +
    within].  On streaming inputs both sides get watermarks and the
    time-range predicate — exactly what Structured Streaming requires
    to BOUND the join state (each side's buffered rows age out once the
    watermark passes the interval; without the range condition the
    state would grow forever).  On batch inputs the same plan is a
    plain range join, which is how the harness oracle-checks it.

    Every right-side column is renamed ``{col}{suffix}``, so the output
    schema is collision-free: left.* ++ renamed right (the join key's
    right copy is dropped)."""
    if left.isStreaming:
        left = left.withWatermark(left_time, watermark)
    if right.isStreaming:
        right = right.withWatermark(right_time, watermark)
    renamed = right
    for c in right.columns:
        renamed = renamed.withColumnRenamed(c, f"{c}{suffix}")
    cond = (
        (left[key] == renamed[f"{key}{suffix}"])
        & (renamed[f"{right_time}{suffix}"] >= left[left_time])
        & (renamed[f"{right_time}{suffix}"] <= left[left_time] + F.expr(f"INTERVAL {within}"))
    )
    return left.join(renamed, cond, how).drop(renamed[f"{key}{suffix}"])


def dedup_events(
    events: DataFrame,
    *,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
    order_col: str = "ts",
) -> DataFrame:
    """Exactly-once event dedup by key.

    On a stream: ``dropDuplicatesWithinWatermark`` — the dedup state for
    a key is dropped once the watermark passes it, so state stays
    bounded at (event rate × watermark horizon) no matter how long the
    stream runs; a duplicate arriving later than the watermark is the
    documented trade-off.

    On batch input: deterministic keep-min — the survivor is the row
    smallest under (``order_col``, then every remaining column), so the
    result is identical under any partitioning (``dropDuplicates`` picks
    an arbitrary survivor under distributed execution; ties across the
    FULL column list mean the candidate rows are indistinguishable, so
    the output is still unique).  Same keep-min pattern as
    functions.dedup.exact_dedup."""
    keys = keys or ["event_id"]
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    from pyspark.sql import Window

    order_cols = [c for c in [order_col] if c in events.columns] + [
        c for c in events.columns if c not in keys and c != order_col
    ]
    if not order_cols:
        # Every column is a key: duplicate rows are identical, so any
        # survivor is the same row — plain dropDuplicates is deterministic.
        return events.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc_nulls_first() for c in order_cols])
    return (
        events.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def admit_new_documents(
    docs: DataFrame,
    known: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    watermark_col: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming admission gate — the continuous form of
    functions.incremental.incremental_dedup(mode='filter'): admit only
    documents whose normalized-text fingerprint is neither in the static
    ``known`` corpus nor already seen in the stream.

    On a stream: the known side reduces to distinct fingerprints and
    joins LEFT ANTI (stream-static anti joins re-read the static side
    per micro-batch, so a growing corpus snapshot is picked up without
    restart); within-stream dups drop via watermarked
    ``dropDuplicatesWithinWatermark`` on the fingerprint — state stays
    bounded at (ingest rate × watermark horizon).  ``watermark_col``
    must name an event-time column on streaming input.

    On batch input: the exact plan the driver already hash-checks as
    the ``incremental_dedup`` harness query (keep-min survivor per
    fingerprint) — the parity test pins stream == batch admitted sets.
    """
    from ..functions.text import with_fingerprint

    fingered = with_fingerprint(docs, text_col)
    known_fps = (
        with_fingerprint(known, text_col).select("fingerprint").distinct()
    )
    fresh = fingered.join(known_fps, "fingerprint", "left_anti")
    if docs.isStreaming:
        if watermark_col is None:
            raise ValueError("streaming admission requires watermark_col (event time)")
        out = fresh.withWatermark(watermark_col, watermark).dropDuplicatesWithinWatermark(
            ["fingerprint"]
        )
        return out.drop("fingerprint")
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint").orderBy(id_col)
    return (
        fresh.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__", "fingerprint")
    )


_SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_start", T.DoubleType()),
        T.StructField("last_ts", T.DoubleType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)


def sessionize(
    events: DataFrame, *, gap_seconds: int = 1800, watermark: str = "2 hours"
) -> DataFrame:
    """Custom stateful operator: gap-based sessionization.

    Streaming path: applyInPandasWithState keyed by user_id — state is
    one open session per user, emitted when the inactivity gap passes or
    the group times out (the canonical custom-stateful-operator shape;
    state size is O(active users), bounded by the timeout).

    Batch path (non-streaming input): the classic lag/cumsum session
    assignment — same output schema, used by tests and the SQL oracle.
    """
    if not events.isStreaming:
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy("ts")
        gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
        marked = events.withColumn(
            "new_session", F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
        )
        sess = marked.withColumn("session_id", F.sum("new_session").over(w))
        return (
            sess.groupBy("user_id", "session_id")
            .agg(
                F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
            )
            .drop("session_id")
            .select("user_id", "session_start", "session_end", "n_events", "sum_value")
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            if state.exists:
                start, last, n, sv = state.get
                state.remove()
                yield pd.DataFrame(
                    {
                        "user_id": [user_id],
                        "session_start": [pd.Timestamp(start, unit="s")],
                        "session_end": [pd.Timestamp(last, unit="s")],
                        "n_events": [n],
                        "sum_value": [sv],
                    }
                )
            return

        rows = pd.concat(list(pdfs)).sort_values("ts")
        out: list[tuple[float, float, int, float]] = []
        if state.exists:
            start, last, n, sv = state.get
        else:
            start, last, n, sv = None, None, 0, 0.0
        for ts, value in zip(rows["ts"], rows["value"]):
            t = ts.timestamp()
            if start is None:
                start, last, n, sv = t, t, 1, float(value or 0.0)
            elif t - last > gap_seconds:
                out.append((start, last, n, sv))
                start, last, n, sv = t, t, 1, float(value or 0.0)
            else:
                last, n, sv = t, n + 1, sv + float(value or 0.0)
        state.update((start, last, n, sv))
        state.setTimeoutDuration(gap_seconds * 1000)
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out),
                    "session_start": [pd.Timestamp(s, unit="s") for s, _, _, _ in out],
                    "session_end": [pd.Timestamp(e, unit="s") for _, e, _, _ in out],
                    "n_events": [n for _, _, n, _ in out],
                    "sum_value": [v for _, _, _, v in out],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


RUNNING_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)


def _value_micros(v) -> int:
    """Mirror Spark's double→decimal(18,6) cast exactly: shortest
    round-trip decimal string, then HALF_UP at 6 dp — so the streaming
    state's integer accumulation lands on the same value as the batch
    leg's ``sum(cast(value as decimal(18,6)))``."""
    import decimal

    return int(
        decimal.Decimal(repr(float(v))).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
        * 1_000_000
    )


def _accumulate_totals(prev, pdfs) -> tuple[int, int, int]:
    """Fold one key's micro-batch chunk(s) into the running-totals
    state tuple ``(n, micros, n_vals)``.  Pure — the whole
    batch-boundary-independence argument of running_totals lives here:
    integer micro-unit sums are associative, so ANY split of a user's
    rows into micro-batches folds to the same state.  Exercised
    directly by the batch-parity test (the applyInPandasWithState
    worker is only transport around this)."""
    n, micros, n_vals = prev if prev is not None else (0, 0, 0)
    for pdf in pdfs:
        vals = pdf["value"].dropna()
        n += len(pdf)
        n_vals += len(vals)
        micros += sum(_value_micros(v) for v in vals)
    return n, micros, n_vals


def _totals_output_row(user_id, state: tuple[int, int, int]) -> pd.DataFrame:
    """Render one key's state as the emitted update row (NULL sum for
    an all-NULL user, matching SQL SUM)."""
    n, micros, n_vals = state
    return pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "sum_value": [micros / 1_000_000 if n_vals else None],
        }
    )


def running_totals(
    events: DataFrame,
    *,
    ttl_ms: int | None = None,
) -> DataFrame:
    """Per-user lifetime counters (event count + value sum) — the
    real-time feature-store pattern: every micro-batch emits each
    touched user's UPDATED totals.

    Streaming path: ``applyInPandasWithState`` (FlatMapGroupsWithState)
    around the pure fold ``_accumulate_totals``, one state row per
    user.  ``ttl_ms`` sets a processing-time timeout that drops an
    idle key's state without emitting, so abandoned keys age out of
    the store instead of growing it forever.  State size is O(live
    users).

    Stream/batch parity is exact by construction: values accumulate as
    integer micro-units produced by the SAME rounding the batch leg's
    ``cast(decimal(18,6))`` applies — ``Decimal(repr(v))`` (shortest
    round-trip representation, the same string Java's Double.toString
    yields) quantized HALF_UP — and a user whose values are all NULL
    reports a NULL sum on both legs (SUM-over-NULLs semantics), so the
    running double never depends on micro-batch boundaries or rounding
    mode.

    Batch path (non-streaming input): the same totals as one groupBy —
    used by tests (stream-parity) and the SQL oracle."""
    if not events.isStreaming:
        return (
            events.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
            )
            .select("user_id", "n_events", "sum_value")
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            # TTL expiry: drop the key's totals without emitting
            if state.exists:
                state.remove()
            return
        prev = tuple(int(x) for x in state.get) if state.exists else None
        st = _accumulate_totals(prev, pdfs)
        state.update(st)
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield _totals_output_row(user_id, st)

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_TOTALS_SCHEMA,
        stateStructType="n BIGINT, micros BIGINT, n_vals BIGINT",
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def quality_gate_stream(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_stop_hits: int = 2,
    annotate: bool = False,
) -> DataFrame:
    """Streaming quality gate — the continuous form of the Gopher rule
    battery (functions.text.gopher_rules): drop failing documents as
    they land, before anything stateful or stored sees them.

    The whole battery is stateless per-row JVM expressions, so the
    SAME plan runs on a stream (no watermark, no state store, any
    output mode) and on a batch frame — the parity test pins stream ==
    batch surviving sets.  ``annotate=True`` keeps the metrics and
    per-rule flags on the surviving rows (the audit-trail landing
    shape); the default drops them after filtering."""
    from ..functions.text import gopher_rules

    flagged = gopher_rules(
        docs, id_col, text_col, min_stop_hits=min_stop_hits, keep_all=True
    )
    kept = flagged.filter(F.col("gopher_pass"))
    if annotate:
        return kept
    metric_cols = [c for c in flagged.columns if c not in docs.columns]
    return kept.drop(*metric_cols)


def classifier_gate_stream(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.0,
    annotate: bool = False,
    **clf_kwargs,
) -> DataFrame:
    """Streaming MODEL gate — the continuous form of the hashed linear
    classifier (functions.classifier.classifier_score): score each
    document as it lands and drop below-threshold rows before anything
    stateful or stored sees them.  Like quality_gate_stream, the
    scorer is stateless per-row JVM expressions (weight literal, no
    join), so the SAME plan runs on a stream (no watermark, no state
    store, any output mode) and on a batch frame; the parity test pins
    stream == batch surviving sets.  ``annotate=True`` keeps
    (n_tokens, score, clf_pass) on survivors."""
    from ..functions.classifier import classifier_score

    flagged = classifier_score(
        docs, id_col, text_col, threshold=threshold, keep_all=True, **clf_kwargs,
    )
    kept = flagged.filter(F.col("clf_pass"))
    if annotate:
        return kept
    return kept.drop("n_tokens", "score", "clf_pass")


def expectations_gate_stream(
    df: DataFrame,
    rules: list[dict],
    *,
    annotate: bool = False,
) -> DataFrame:
    """Streaming DATA-QUALITY gate — the continuous form of the
    expectations rule battery (functions.expectations): quarantine
    rows violating FAIL-severity per-row rules as they land, before
    anything stateful or stored sees them.  Warn-severity rules
    annotate without quarantining (the Great-Expectations warn
    contract).  Aggregate-shaped rules (``unique``) have no per-row
    meaning and are rejected loudly — run those against the LANDED
    table with expectations_summary.

    Like quality_gate_stream, every check is a stateless per-row JVM
    expression, so the SAME plan runs on a stream (no watermark, no
    state store, any output mode) and on a batch frame — the parity
    test pins stream == batch surviving sets.  ``annotate=True`` keeps
    the per-rule ``ok_*`` flags and ``expect_pass`` on survivors (the
    audit-trail landing shape)."""
    from ..functions.expectations import expectations_annotate

    flagged = expectations_annotate(df, rules)
    kept = flagged.filter(F.col("expect_pass"))
    if annotate:
        return kept
    extra = [c for c in flagged.columns if c not in df.columns]
    return kept.drop(*extra)


def media_feature_stream(
    media: DataFrame,
    *,
    kind: str = "image",
    dim: int = 16,
    drop_undecodable: bool = True,
) -> DataFrame:
    """Streaming MULTIMODAL featurizer — the continuous form of
    extract_image_features / extract_audio_features: decode each media
    payload as it lands (built-in BMP/PNM/PNG or RIFF/WAVE codecs, no
    imaging/audio library) and emit the feature row, optionally
    dropping undecodable payloads (``n_pixels``/``n_samples`` = 0)
    before anything stateful or stored sees them.

    The decode is a stateless Arrow-batched mapInPandas stage — no
    watermark, no state store, any output mode — so the SAME plan runs
    on a stream and on a batch frame; the parity test pins stream ==
    batch feature sets.  At 100 TB this is the landing-zone ingest
    shape for crawled media: featurize + gate per micro-batch,
    downstream dedup/ANN stores consume the feature stream."""
    from ..functions.multimodal import extract_audio_features, extract_image_features

    if kind == "image":
        feats = extract_image_features(media, dim=dim)
        gate = F.col("n_pixels") > 0
    elif kind == "audio":
        feats = extract_audio_features(media, dim=dim)
        gate = F.col("n_samples") > 0
    else:
        raise ValueError(f"media_feature_stream: kind must be image/audio, got {kind!r}")
    return feats.filter(gate) if drop_undecodable else feats


def admit_stream_with_store(
    docs: DataFrame,
    store_path: str,
    out_path: str,
    *,
    checkpoint: str,
    strategy: str = "exact",
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
    query_name: str = "store_admission",
    **gate_kwargs,
):
    """The full PRODUCTION admission loop on a document stream: each
    micro-batch is gated against the persisted signature store
    (functions.incremental dedup_gate_from_store /
    neardup_gate_from_store, strategy exact/near), admitted documents
    land under ``out_path/batch_id=N`` (overwrite — replay-idempotent,
    cf. write_stream_idempotent), and the admitted batch's signatures
    APPEND to the store — so a duplicate arriving in a LATER
    micro-batch is rejected by the store the earlier batch grew,
    without any in-stream state.

    This is the foreachBatch composition of the batch gates: the store
    carries the cross-batch memory (restart-safe, shared across
    streams), the stream carries none.  Within one batch the gates'
    is_batch_dup verdicts dedup internally (keep-first).

    REPLAY SAFETY — the subtle failure is a crash between the store
    append and the checkpoint commit: on replay the batch would find
    its OWN signatures in the store, reject itself, and overwrite its
    landed output with nothing (losing the documents while the store
    keeps rejecting every future copy).  The handler therefore treats
    a completed landing (``batch_id=N/_SUCCESS``) as the batch's
    durable gate verdict: on replay it re-reads the landed admitted
    set instead of re-gating, and only redoes the store append — which
    may duplicate signature rows, and duplicates cannot change any
    collision answer.  Crash cases: before the landing write → clean
    re-gate (store untouched, appends run last); after the landing →
    landed set reused, append idempotent-for-verdicts."""
    from ..functions.incremental import (
        build_fingerprint_store,
        build_neardup_store,
        dedup_gate_from_store,
        neardup_gate_from_store,
    )

    if strategy not in ("exact", "near"):
        raise ValueError(f"strategy must be exact/near, got {strategy!r}")
    if strategy == "exact" and gate_kwargs:
        raise ValueError(
            f"strategy='exact' takes no extra gate parameters, got "
            f"{sorted(gate_kwargs)} — did you mean strategy='near'?"
        )

    def _landed(spark, path: str) -> bool:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(f"{path}/_SUCCESS")
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(p))

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        landing = f"{out_path}/batch_id={batch_id}"
        if _landed(spark, landing):
            # replayed batch whose gate verdict already landed: reuse
            # it — re-gating would see the batch's own store append
            admitted = spark.read.parquet(landing)
        else:
            if strategy == "exact":
                admitted = dedup_gate_from_store(
                    batch_df, spark, store_path, id_col, text_col, mode="filter"
                )
            else:
                admitted = neardup_gate_from_store(
                    batch_df, spark, store_path, id_col, text_col,
                    mode="filter", **gate_kwargs,
                )
            # one deterministic materialization feeds both the sink
            # write and the store append (a second action would re-run
            # the gate against the GROWN store)
            # the store grows right after this boundary, so a lineage
            # re-run would re-gate the batch against its OWN
            # fingerprints and silently drop rows
            admitted = admitted.transform(materialize)
            admitted.write.mode("overwrite").parquet(landing)
        if strategy == "exact":
            build_fingerprint_store(admitted, store_path, text_col, mode="append")
        else:
            build_neardup_store(
                admitted, store_path, id_col, text_col, mode="append",
                **{k: v for k, v in gate_kwargs.items()
                   if k in ("n", "bands", "rows_per_band", "seed")},
            )

    writer = (
        docs.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sketch_refresh_stream(
    events: DataFrame,
    store_path: str,
    out_path: str,
    *,
    checkpoint: str,
    kind: str = "hll",
    key_col: str | None = None,
    group_cols: list[str] | None = None,
    p: int = 8,
    w: int = 1024,
    d: int = 3,
    value_col: str | None = None,
    k: int = 1024,
    qs: list | None = None,
    ts_col: str | None = None,
    grain: int = 3600,
    available_now: bool = True,
    query_name: str = "sketch_refresh",
):
    """Per-micro-batch SKETCH-STORE refresh — the dashboard loop for
    the persisted distinct-count / frequency sketches (VERDICT r07
    item 8): each micro-batch writes its own register/counter
    GENERATION under ``store_path/gen=<batch_id>`` and re-serves the
    merged store snapshot to ``out_path/batch_id=<batch_id>``, so a
    distinct-users or term-frequency dashboard refreshes after every
    batch while the store stays the single cross-batch memory (the
    admit_stream_with_store composition, minus any gating).

    EXACTLY-ONCE without idempotence assumptions: the neardup
    admission stream can afford blind ``mode='append'`` only because
    MAX-merge shrugs off duplicate rows; CMS counters SUM-merge, so a
    replayed append would double-count.  Generation-keyed OVERWRITE
    closes that window for both kinds — a replayed batch rewrites the
    SAME ``gen=N`` directory with the same content, and the serving
    read merges generations exactly once regardless of how many times
    batch N ran.  (This is the partitioned-landing idiom of
    write_stream_idempotent applied to the store itself.)

    - ``kind='hll'``: generation = :func:`~..functions.sketch.hll_registers`
      rows; snapshot = the finalized per-group estimate
      (``group_cols, n_buckets_used, hll_est``).
    - ``kind='cms'``: generation = the d·w counter table; snapshot =
      the SUM-merged counters (``hash_row, bucket, cnt``) ready for
      :func:`~..functions.cms.cms_estimate` point queries.
    - ``kind='qsketch'``: generation = the batch's KMV bottom-k sample
      (``key_col`` is the row id, ``value_col`` the measured value);
      snapshot = quantile estimates for ``qs`` (default median) from
      the re-merged sample — the generation overwrite matters doubly
      here, since duplicated sample rows would CROWD OUT distinct ones
      in the bottom-k re-select (quantile.build_qsketch_store's
      at-most-once contract, enforced structurally).
    - ``kind='kmv'``: generation = the per-set bottom-k distinct-hash
      sample (``group_cols[0]`` is the set label); snapshot = the
      integer distinct-count estimates (``set, n_sample, kmv_est``).
    - ``kind='rollup'``: generation = the batch's per-(group, time
      bucket) aggregate partials (``ts_col``/``value_col``/``grain``;
      functions/rollup.py); snapshot = the served continuous
      aggregate (count/sum/avg/min/max per bucket) — the hypertable
      dashboard loop, where SUM-merged partials need the generation
      overwrite for exactly-once just like CMS counters.

    Scale: a generation is ≤ |groups|·2^p register rows / ≤ d·w
    counter rows — kilobytes per batch independent of batch row count;
    the snapshot read is bounded by generations·that, and compaction
    is one re-merged overwrite of the store root."""
    from ..functions.cms import build_cms_store, cms_from_store
    from ..functions.kmv import build_kmv_store, kmv_cardinality, kmv_from_store
    from ..functions.quantile import (
        build_qsketch_store,
        qsketch_estimate,
        qsketch_from_store,
    )
    from ..functions.rollup import (
        build_rollup_store,
        rollup_from_store,
        rollup_serve,
    )
    from ..functions.sketch import build_hll_store, hll_from_store

    if kind not in ("hll", "cms", "qsketch", "kmv", "rollup"):
        raise ValueError(
            "sketch_refresh_stream: kind must be hll/cms/qsketch/kmv/rollup, "
            f"got {kind!r}"
        )
    if kind in ("hll", "cms", "qsketch", "kmv") and not key_col:
        raise ValueError(f"sketch_refresh_stream: kind={kind!r} needs key_col")
    if kind == "rollup" and key_col is not None:
        raise ValueError(
            "sketch_refresh_stream: kind='rollup' takes no key_col "
            "(aggregates are keyed by group_cols + the time bucket)"
        )
    if kind in ("hll", "qsketch", "kmv", "rollup") and not group_cols:
        raise ValueError(f"sketch_refresh_stream: kind={kind!r} needs group_cols")
    if kind in ("qsketch", "rollup") and not value_col:
        raise ValueError(f"sketch_refresh_stream: kind={kind!r} needs value_col")
    if kind == "rollup" and not ts_col:
        raise ValueError("sketch_refresh_stream: kind='rollup' needs ts_col")
    if kind == "kmv" and len(group_cols or []) != 1:
        raise ValueError(
            "sketch_refresh_stream: kind='kmv' takes exactly one group column "
            "(the set label)"
        )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        gen = f"{store_path}/gen={batch_id}"
        snap_path = f"{out_path}/batch_id={batch_id}"
        if kind == "hll":
            build_hll_store(batch_df, gen, key_col, group_cols, p=p)
            snap = hll_from_store(spark, store_path, group_cols, p=p)
        elif kind == "cms":
            build_cms_store(batch_df, gen, key_col, w=w, d=d)
            snap = cms_from_store(spark, store_path, w=w, d=d)
        elif kind == "qsketch":
            build_qsketch_store(
                batch_df, gen, value_col, key_col, group_cols, k=k
            )
            merged = qsketch_from_store(spark, store_path, group_cols, k=k)
            snap = qsketch_estimate(merged, group_cols, qs or [0.5])
        elif kind == "kmv":
            build_kmv_store(batch_df, gen, key_col, group_cols[0], k=k)
            merged = kmv_from_store(spark, store_path, group_cols[0], k=k)
            snap = kmv_cardinality(merged, group_cols[0], k=k)
        else:
            build_rollup_store(
                batch_df, gen, ts_col, value_col, group_cols, grain=grain
            )
            # group-column DDL from the live batch schema: the store's
            # cold-start read needs explicit types, and the batch IS
            # the authoritative source of them here
            gschema = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in batch_df.schema.fields
                if f.name in group_cols
            )
            merged = rollup_from_store(
                spark, store_path, group_cols, group_schema=gschema
            )
            snap = rollup_serve(merged, group_cols)
        snap.write.mode("overwrite").parquet(snap_path)

    writer = (
        events.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
