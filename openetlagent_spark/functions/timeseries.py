"""Time-series gap filling: dense per-key grid + forward fill.

The reference engine (Antix5/OpenETLAgent) has no time-series
vocabulary; this extends the engine the same way the window/asof
families do (SURVEY §2 extension surface).  ``gap_fill_hourly``
produces the classic "resample to an hourly grid and carry the last
observation forward" shape every metrics / feature-store pipeline
needs: per key, every hour between the key's first and last
observation exists exactly once, observed hours keep their aggregate,
gap hours inherit the most recent earlier value.

Exactly oracle-checkable end to end:
- the hour index is integer ``FLOOR(epoch_seconds / 3600)`` (both
  engines agree bit-for-bit on timestamp→double→floor),
- the per-hour aggregate uses the proven DECIMAL-accumulate→DOUBLE
  contract shared with the windowed event counts,
- Spark ``sequence(h0, h1)`` and DuckDB ``generate_series(h0, h1)``
  are both inclusive on BIGINT,
- Spark ``last(x, ignorenulls=True)`` over ROWS UNBOUNDED
  PRECEDING..CURRENT == DuckDB ``last_value(x IGNORE NULLS)`` with the
  same frame: both carry values untouched, so doubles stay
  bit-identical.

Scale notes (100 TB):
- The raw table is reduced FIRST: one shuffle to (key, hour) partial
  aggregates (map-side combine does most of the work), so the grid /
  fill stages only ever see |keys| x |hours| rows — at most a few
  thousand per key per year — never raw events.
- The grid explode is per-key ``sequence(min, max)``; a corrupt key
  whose span would explode the grid fails LOUDLY via a raise_error
  guard (``max_span_hours``) instead of OOM-ing an executor.
- The forward fill is one window per key partition — Spark evaluates
  it in a single sorted pass per partition; no global sort, no
  single-partition window anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# One year of hourly slots; a span larger than this in a single key is
# almost certainly a data error (epoch-0 sentinel rows etc.) and would
# quadratically inflate the grid — fail loudly, don't OOM.
DEFAULT_MAX_SPAN_HOURS = 24 * 366


def hour_index(ts_col) -> F.Column:
    """Integer hour bucket of a timestamp column: FLOOR(epoch/3600).

    timestamp→double is engine-independent epoch seconds (the proven
    events_window contract); floor of the scaled double is exact for
    any realistic epoch (|seconds| < 2^53)."""
    return F.floor(ts_col.cast("timestamp").cast("double") / F.lit(3600.0)).cast(
        "long"
    )


def gap_fill_hourly(
    df: DataFrame,
    *,
    key: str,
    ts_col: str,
    value_col: str,
    max_span_hours: int = DEFAULT_MAX_SPAN_HOURS,
) -> DataFrame:
    """Hourly resample of ``df`` per ``key`` with forward fill.

    Output columns: ``key``, ``hour_idx``, ``n_events`` (0 on gap
    hours), ``observed`` (1/0), ``filled_sum`` (per-hour DOUBLE sum of
    ``value_col``, last observation carried forward across gaps).

    NULL keys are dropped explicitly (Spark's groupBy would emit a
    NULL-key group but the grid join could never match it — the
    standard NULL-group trap)."""
    hour = hour_index(F.col(ts_col))
    hourly = (
        df.where(F.col(key).isNotNull())
        .groupBy(F.col(key), hour.alias("hour_idx"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # DECIMAL accumulate -> DOUBLE: deterministic, order-free,
            # and equal to the oracle's VARCHAR-routed decimal sum.
            F.sum(F.col(value_col).cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    bounds = hourly.groupBy(key).agg(
        F.min("hour_idx").alias("__h0__"), F.max("hour_idx").alias("__h1__")
    )
    # NULL-safe: a key whose every ts is NULL has NULL bounds; sequence
    # (NULL, NULL) -> NULL -> explode drops it (DuckDB's generate_series
    # does the same), so the guard must not fire on the NULL branch.
    # "exceeds": a span of exactly max_span_hours is still allowed.
    span_ok = (
        (F.col("__h1__") - F.col("__h0__")) <= F.lit(int(max_span_hours))
    ) | F.col("__h1__").isNull()
    grid = bounds.select(
        F.col(key),
        F.explode(
            F.when(span_ok, F.sequence(F.col("__h0__"), F.col("__h1__"))).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"gap_fill_hourly: key span exceeds {int(max_span_hours)}"
                            " hours (corrupt timestamps?): key="
                        ),
                        F.col(key).cast("string"),
                    )
                )
            )
        ).alias("hour_idx"),
    )
    filled = grid.join(hourly, [key, "hour_idx"], "left")
    w = (
        Window.partitionBy(key)
        .orderBy("hour_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        F.col(key),
        F.col("hour_idx"),
        F.coalesce(F.col("n_events"), F.lit(0).cast("long")).alias("n_events"),
        F.when(F.col("n_events").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias(
            "observed"
        ),
        F.last(F.col("sum_value"), ignorenulls=True).over(w).alias("filled_sum"),
    )


def time_weighted_avg(
    df: DataFrame,
    *,
    key: str,
    ts_col: str,
    value_col: str,
    id_col: str,
    q_bits: int = 16,
) -> DataFrame:
    """Time-weighted average per key over an IRREGULAR series — the
    hypertable ``time_weight('locf')`` analogue: each observation is
    held until the next one (left Riemann sum), so a value that stood
    for an hour outweighs one that stood for a second — the mean a
    plain AVG gets wrong whenever sampling density correlates with
    level.

    Output: ``key, n_segments, total_ms, twa`` — the last observation
    per key (no successor) contributes no segment; a key with fewer
    than two observations has no segments at all and is ABSENT from
    the output (nothing was held for any duration).

    Determinism discipline: timestamps become BIGINT epoch
    milliseconds (exact; the ntz→epoch conversion uses the session
    timezone, which the engine pins to UTC — session.py — so the
    generated mirror holds unconditionally there; a non-UTC session
    straddling a DST transition would shift segment durations), and
    ordering is total (``ts, id``) so ``lead`` is deterministic under
    duplicate timestamps — a NULL id sorts FIRST on both sides
    (spelled NULLS FIRST in the oracle; two rows sharing BOTH a
    timestamp and a NULL id have no total order, the same caller
    responsibility as every window tiebreak in the engine).  Values
    quantize to
    ``FLOOR(v·2^q_bits)`` BIGINTs, and the accumulator is the integer
    Σ q·dt_ms — order-free — with ``twa = (Σq·dt / 2^q_bits) /
    Σdt`` as two fixed IEEE divisions.  Headroom: |v| < 2^14 and
    per-key Σdt under ~years keeps Σq·dt far inside BIGINT; ANSI mode
    turns a pathological miss into a loud error, never a wrap.

    Scale: ONE hash shuffle on the key — the lead window and the
    final aggregate share the same partitioning, so Catalyst plans a
    single exchange.  NULL timestamps/keys are dropped explicitly;
    NULL values propagate NULL segments which the integer SUM skips
    (their duration still counts toward nothing — mirrored exactly in
    the oracle)."""
    if not 0 <= q_bits <= 30:
        raise ValueError(f"time_weighted_avg q_bits must be in [0, 30], got {q_bits}")
    scale = float(1 << q_bits)
    w = Window.partitionBy(key).orderBy(
        F.col("__ts_ms__").asc(), F.col(id_col).asc()
    )
    rows = (
        df.where(F.col(key).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(key),
            F.col(id_col),
            F.unix_millis(F.col(ts_col).cast("timestamp")).alias("__ts_ms__"),
            F.floor(F.col(value_col) * F.lit(scale)).cast("long").alias("__q__"),
        )
        .withColumn("__dt__", F.lead("__ts_ms__").over(w) - F.col("__ts_ms__"))
        .where(F.col("__dt__").isNotNull())
    )
    agg = rows.groupBy(key).agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum("__dt__").cast("long").alias("total_ms"),
        F.sum(F.col("__q__") * F.col("__dt__")).cast("long").alias("__qdt__"),
    )
    twa = F.when(
        F.col("total_ms") > 0,
        (F.col("__qdt__").cast("double") / F.lit(scale))
        / F.col("total_ms").cast("double"),
    )
    return agg.select(key, "n_segments", "total_ms", twa.alias("twa"))


def time_weighted_avg_oracle_sql(
    *,
    table: str,
    key: str,
    ts_col: str,
    value_col: str,
    id_col: str,
    q_bits: int = 16,
) -> str:
    """DuckDB mirror of :func:`time_weighted_avg`, generated from the
    same constants (epoch_ms timestamps, the (ts, id) total order, the
    2^q_bits quantization, the guarded two-division serve)."""
    if not 0 <= q_bits <= 30:
        raise ValueError(f"time_weighted_avg q_bits must be in [0, 30], got {q_bits}")
    scale = float(1 << q_bits)
    return f"""
WITH __twa_r AS (
  SELECT {key} AS k,
         epoch_ms({ts_col}) AS ts_ms,
         CAST(FLOOR({value_col} * {scale!r}) AS BIGINT) AS q,
         lead(epoch_ms({ts_col})) OVER (
           PARTITION BY {key}
           ORDER BY epoch_ms({ts_col}) ASC, {id_col} ASC NULLS FIRST
         ) - epoch_ms({ts_col}) AS dt
  FROM {table}
  WHERE {key} IS NOT NULL AND {ts_col} IS NOT NULL
), __twa_s AS (
  SELECT k,
         CAST(COUNT(*) AS BIGINT) AS n_segments,
         CAST(SUM(dt) AS BIGINT) AS total_ms,
         CAST(SUM(q * dt) AS BIGINT) AS qdt
  FROM __twa_r
  WHERE dt IS NOT NULL
  GROUP BY k
)
SELECT k AS {key}, n_segments, total_ms,
       CASE WHEN total_ms > 0 THEN
         (CAST(qdt AS DOUBLE) / {scale!r}) / CAST(total_ms AS DOUBLE)
       END AS twa
FROM __twa_s
"""


def gap_fill_oracle_sql(
    *, table: str, key: str, ts_col: str, value_col: str
) -> str:
    """DuckDB SQL equivalent of gap_fill_hourly, generated from the
    same column names so the two cannot drift.  The guard branch is
    oracle-irrelevant (it raises instead of producing rows)."""
    return f"""
WITH hourly AS (
  SELECT {key},
         CAST(FLOOR(epoch({ts_col}) / 3600.0) AS BIGINT) AS hour_idx,
         COUNT(*) AS n_events,
         CAST(CAST(SUM(CAST({value_col} AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
  FROM {table}
  WHERE {key} IS NOT NULL
  GROUP BY 1, 2
), bounds AS (
  SELECT {key}, MIN(hour_idx) AS h0, MAX(hour_idx) AS h1 FROM hourly GROUP BY 1
), grid AS (
  SELECT {key}, unnest(generate_series(h0, h1)) AS hour_idx FROM bounds
)
SELECT g.{key}, g.hour_idx,
       CAST(COALESCE(h.n_events, 0) AS BIGINT) AS n_events,
       CASE WHEN h.n_events IS NULL THEN 0 ELSE 1 END AS observed,
       last_value(h.sum_value IGNORE NULLS) OVER (
         PARTITION BY g.{key} ORDER BY g.hour_idx
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum
FROM grid g
LEFT JOIN hourly h ON g.{key} = h.{key} AND g.hour_idx = h.hour_idx
"""


def ohlc_bars(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Per-key OHLC bars (open/high/low/close + volume) over fixed
    time buckets — the candlestick/downsampling aggregate every
    metrics store and hypertable ships (``time_bucket`` + first/last
    by time).

    One shuffle on (key, bucket) with full map-side partial
    aggregation: OPEN/CLOSE are ``min_by``/``max_by`` over the epoch-
    second order (ties broken by the value itself via the packed
    struct compare, so two observations in the same second pick
    deterministically — the same move unfold uses for deterministic
    FIRST), HIGH/LOW are plain MIN/MAX, n_obs counts the bucket.  At
    100 TB this is the canonical two-phase aggregate: partials shrink
    each partition to |keys|·|buckets| rows before the exchange.

    Engine-exact: the bucket index is integer ``FLOOR(epoch/bucket)``;
    open/close carry original doubles untouched (no arithmetic);
    DuckDB mirrors min_by/max_by as ``arg_min``/``arg_max`` over the
    identical (epoch, value) ordering struct."""
    if bucket_seconds <= 0:
        raise ValueError(f"ohlc_bars bucket_seconds must be positive, got {bucket_seconds}")
    # integer micros → one FLOOR double division: ntz-safe (TIMESTAMP_NTZ
    # refuses a direct double cast) and floor-correct at negative epochs
    micros = F.unix_micros(F.col(ts_col).cast("timestamp"))
    bucket = F.floor(
        micros.cast("double") / F.lit(float(bucket_seconds) * 1e6)
    ).cast("long")
    # (epoch_micros, value) packed as a struct: struct compare is
    # field-by-field, so the order is time-first with the VALUE as the
    # deterministic tie-break within one timestamp — both engines
    # compare the same way
    order = F.struct(
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("t"),
        F.col(value_col).cast("double").alias("v"),
    )
    return (
        df.filter(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.col(key_col).alias("key"), bucket.alias("bucket"))
        .agg(
            F.min_by(F.col(value_col).cast("double"), order).alias("open"),
            F.max(F.col(value_col).cast("double")).alias("high"),
            F.min(F.col(value_col).cast("double")).alias("low"),
            F.max_by(F.col(value_col).cast("double"), order).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_obs"),
        )
        .select("key", "bucket", "open", "high", "low", "close", "n_obs")
    )


def ohlc_bars_oracle_sql(
    table: str,
    key_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_seconds: int = 3600,
) -> str:
    """DuckDB mirror of :func:`ohlc_bars`.  DuckDB's arg_min/arg_max
    refuse STRUCT ordering keys, so the (epoch_micros, value)
    lexicographic pick is expressed as first/last row_number windows —
    identical semantics to Spark's min_by/max_by over the struct."""
    return f"""
WITH __ohlc_b AS (
  SELECT {key_col} AS key,
         CAST(FLOOR(CAST(epoch_us({ts_col}) AS DOUBLE) / {float(bucket_seconds) * 1e6!r}) AS BIGINT) AS bucket,
         CAST({value_col} AS DOUBLE) AS v,
         epoch_us({ts_col}) AS t
  FROM {table}
  WHERE {ts_col} IS NOT NULL AND {value_col} IS NOT NULL
), __ohlc_r AS (
  SELECT *,
         row_number() OVER (PARTITION BY key, bucket ORDER BY t, v) AS ra,
         row_number() OVER (PARTITION BY key, bucket ORDER BY t DESC, v DESC) AS rd
  FROM __ohlc_b
)
SELECT key, bucket,
       MAX(CASE WHEN ra = 1 THEN v END) AS open,
       MAX(v) AS high,
       MIN(v) AS low,
       MAX(CASE WHEN rd = 1 THEN v END) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_obs
FROM __ohlc_r GROUP BY key, bucket
"""


def changepoint_cusum(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Per-key CUSUM changepoint detection over daily event counts:
    for each key, find the day where the cumulative deviation of the
    daily count from the key's mean daily rate peaks — the classic
    single-changepoint estimator (argmax |CUSUM|), the audit that
    answers "when did this event type's rate shift?".

    Exactness: the textbook CUSUM S_i = SUM_{j<=i} (c_j - mean) is FP
    and order-sensitive, so both sides compute the INTEGER-scaled
    S'_i = SUM_{j<=i} (c_j * n_days - total) = S_i * n_days — every
    term is a BIGINT product, the cumulative window sum is integer
    (any addition order identical), and no division ever happens.
    Output per key: the changepoint day, the signed scaled CUSUM at
    that day, |S'| as the strength, n_days and total for context.
    Tie-break: earliest day wins at equal |S'|.

    Scale shape (100 TB): one map-side-combined count shuffle to
    (key, day) — bounded by keys x days, NOT the corpus — then window
    sums over that small table (per-key n_days/total, per-key ordered
    cumulative sum) and a 1-row-per-key row_number cut.  Days with no
    events contribute no term (c_j = 0 days are absent from the count
    table; the estimator is over OBSERVED days, documented here and
    mirrored exactly in the oracle)."""
    daily = (
        df.filter(F.col(ts_col).isNotNull() & F.col(key_col).isNotNull())
        .groupBy(
            F.col(key_col).alias("key"),
            F.to_date(F.col(ts_col)).alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # two projection stages: window expressions cannot nest inside a
    # windowed SUM, so marginals land first, the cumulative term second
    per_key = Window.partitionBy("key")
    terms = daily.select(
        "key", "day", "c",
        F.count(F.lit(1)).over(per_key).cast("long").alias("n_days"),
        F.sum("c").over(per_key).cast("long").alias("total"),
    )
    cum = Window.partitionBy("key").orderBy(F.asc("day")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    scored = terms.select(
        "key", "day",
        F.sum(F.col("c") * F.col("n_days") - F.col("total"))
        .over(cum).cast("long").alias("cusum_scaled"),
        "n_days",
        "total",
    )
    pick = Window.partitionBy("key").orderBy(
        F.desc(F.abs(F.col("cusum_scaled"))), F.asc("day")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(pick))
        .filter(F.col("_rn") == 1)
        .select(
            "key",
            F.col("day").alias("change_day"),
            "cusum_scaled",
            F.abs(F.col("cusum_scaled")).cast("long").alias("strength"),
            "n_days",
            "total",
        )
        .orderBy(F.asc("key"))
    )


def changepoint_cusum_oracle_sql(
    table: str,
    key_col: str,
    ts_col: str = "ts",
) -> str:
    """DuckDB mirror of :func:`changepoint_cusum` — same integer-scaled
    CUSUM terms, same cumulative window, same (|S'| DESC, day ASC)
    pick."""
    return f"""
WITH __cp_d AS (
  SELECT {key_col} AS key, CAST({ts_col} AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM {table}
  WHERE {ts_col} IS NOT NULL AND {key_col} IS NOT NULL
  GROUP BY 1, 2
), __cp_t AS (
  SELECT key, day, c,
         CAST(COUNT(*) OVER (PARTITION BY key) AS BIGINT) AS n_days,
         CAST(SUM(c) OVER (PARTITION BY key) AS BIGINT) AS total
  FROM __cp_d
), __cp_s AS (
  SELECT key, day,
         CAST(SUM(c * n_days - total)
              OVER (PARTITION BY key ORDER BY day ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cusum_scaled,
         n_days, total
  FROM __cp_t
), __cp_r AS (
  SELECT *, row_number() OVER (PARTITION BY key
                               ORDER BY ABS(cusum_scaled) DESC, day ASC) AS rn
  FROM __cp_s
)
SELECT key, day AS change_day, cusum_scaled,
       CAST(ABS(cusum_scaled) AS BIGINT) AS strength, n_days, total
FROM __cp_r WHERE rn = 1
ORDER BY key ASC
"""


def _check_ewma_params(alpha_num: int, alpha_den: int, lookback: int) -> None:
    """Shared by :func:`ewma_smooth` AND its oracle generator — the
    generator must fail as loudly at build time as the function does
    (lookback=0 would render a malformed ROWS frame; alpha_den=0 a
    quietly-garbage +inf multiplier)."""
    if not (0 < alpha_num < alpha_den):
        raise ValueError(
            f"ewma needs 0 < alpha_num < alpha_den, got "
            f"{alpha_num}/{alpha_den}"
        )
    if lookback < 1:
        raise ValueError(f"ewma lookback must be >= 1, got {lookback}")


def _series_base(
    df: DataFrame, key_col: str, ts_col: str, id_col: str, value_col: str
) -> DataFrame:
    """The shared bounded-window smoother contract: drop every row
    with a NULL in ANY involved column (a NULL value would poison the
    window fold; NULL order keys are also the cross-engine Spark
    NULLS FIRST vs DuckDB NULLS LAST trap), normalize to
    (key, ts, id, v-as-double).  ONE copy on the Spark side, mirrored
    by exactly one copy in :func:`_series_sql` — keeping the filter
    and the ordering in a single place is the anti-drift rule."""
    return df.filter(
        F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(id_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(key_col).alias("key"),
        F.col(ts_col),
        F.col(id_col),
        F.col(value_col).cast("double").alias("v"),
    )


def _series_window(ts_col: str, id_col: str, n_rows: int):
    return (
        Window.partitionBy("key")
        .orderBy(F.asc(ts_col), F.asc(id_col))
        .rowsBetween(-(n_rows - 1), Window.currentRow)
    )


def _series_result(base: DataFrame, ts_col: str, id_col: str, result) -> DataFrame:
    return base.orderBy(
        F.asc("key"), F.asc(ts_col), F.asc(id_col)
    ).select("key", F.col(id_col), F.col("v").alias("value"), result)


def _series_sql(
    table: str, key_col: str, ts_col: str, id_col: str, value_col: str,
    n_rows: int, sort_window: bool,
) -> str:
    """The DuckDB mirror of :func:`_series_base` + the bounded ROWS
    window list — the single SQL copy both oracle generators splice."""
    arr = (
        f"list(v) OVER (PARTITION BY key ORDER BY ts ASC, id ASC "
        f"ROWS BETWEEN {n_rows - 1} PRECEDING AND CURRENT ROW)"
    )
    if sort_window:
        arr = f"list_sort({arr})"
    return f"""
WITH __sw_b AS (
  SELECT {key_col} AS key, {ts_col} AS ts, {id_col} AS id,
         CAST({value_col} AS DOUBLE) AS v
  FROM {table}
  WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
    AND {id_col} IS NOT NULL AND {value_col} IS NOT NULL
), __sw_w AS (
  SELECT key, ts, id, v, {arr} AS arr
  FROM __sw_b
)"""


_ARROW_FOLD_MIN_BYTES = 64 << 20  # input-size gate for the Arrow ewma
# fold (r14): below this the all-JVM HOF path wins (no Python node on
# the hot path); above it the vectorized numpy fold amortizes the
# Arrow transfer of the lookback windows (r13 measured the kernel
# 1.3× at sf1's ~21 MB input and rejected it on posture; the fold is a
# ~20 s line at sf10's ~211 MB, where the ratio holds).  The gate keys
# on Catalyst's optimized-plan size estimate of the filtered input —
# file bytes scaled by column pruning, a DATA-size signal derived with
# zero extra jobs, never a core-count tune.


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate in bytes (no job runs)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _ewma_arrow_fold(a: float):
    """mapInArrow kernel: the identical left-to-right bounded-lookback
    EWMA fold, vectorized per window POSITION instead of per row.  Per
    element the operation sequence is exactly the JVM HOF fold's —
    ``acc <- a*x + (1-a)*acc`` with the same two float64 multiplies and
    one add in the same order — so results are bit-identical (pinned by
    test_timeseries_bloom.py against the JVM branch).  Zero-length
    windows (impossible after _series_base, defensive) yield NULL like
    the JVM path's empty-slice aggregate."""
    one_minus_a = 1.0 - a

    def fold(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            arr = batch.column(batch.schema.get_field_index("__arr__"))
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            offsets = np.asarray(arr.offsets, dtype=np.int64)
            values = np.asarray(arr.values, dtype=np.float64)
            starts = offsets[:-1]
            lengths = offsets[1:] - starts
            n = len(lengths)
            acc = np.full(n, np.nan, dtype=np.float64)
            has = lengths > 0
            acc[has] = values[starts[has]]
            maxlen = int(lengths.max()) if n else 0
            for p in range(1, maxlen):
                active = lengths > p
                x = values[starts[active] + p]
                acc[active] = a * x + one_minus_a * acc[active]
            keep = [
                batch.column(i)
                for i, f in enumerate(batch.schema)
                if f.name != "__arr__"
            ]
            names = [f.name for f in batch.schema if f.name != "__arr__"]
            ewma = pa.array(acc, type=pa.float64(), mask=~has)
            yield pa.RecordBatch.from_arrays(keep + [ewma], names + ["ewma"])

    return fold


def ewma_smooth(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    alpha_num: int = 1,
    alpha_den: int = 4,
    lookback: int = 64,
) -> DataFrame:
    """Per-key exponentially-weighted moving average with a BOUNDED
    lookback: for every observation, fold the last ``lookback`` values
    (ordered by ``ts``, ``id`` tie-break) left-to-right through

        s <- alpha*x + (1-alpha)*s,  seeded with the window's first value,

    alpha = alpha_num/alpha_den (default 1/4 — an exact binary
    fraction, so the two multipliers are exact doubles).  The fixed
    left-to-right IEEE fold is bit-identical across engines (the
    proven doc_lm_score / classifier-margin pattern); the truncation
    at ``lookback`` makes this a DEFINED operator (the N-window EWMA —
    weights beyond 64 steps are < 0.75^64 ~ 1e-8 of the head) rather
    than an approximation of the unbounded recurrence, which no
    distributed window can express without a serial scan.

    Scale shape (100 TB): one shuffle to co-locate each key's series
    (the sessionize layout); the per-row prefix is a ROWS window
    bounded at ``lookback`` values, so state per row is O(lookback)
    regardless of series length — never a whole-series collect.
    NULL keys / timestamps / ids / values are excluded up front (see
    :func:`_series_base`).

    The per-row fold runs in the JVM, or — once the input's plan-size
    estimate reaches ``_ARROW_FOLD_MIN_BYTES`` — as one vectorized
    numpy pass per Arrow batch (:func:`_ewma_arrow_fold`); both give
    bit-identical values.

    Returns (key, ``id_col``, value, ewma) ordered (key, ts, id).
    """
    _check_ewma_params(alpha_num, alpha_den, lookback)
    a = alpha_num / alpha_den  # exact for binary dens; fixed either way
    base = _series_base(df, key_col, ts_col, id_col, value_col)
    size = _plan_size_bytes(base)
    # sources without real statistics (parallelized local data,
    # post-join unknowns) report spark.sql.defaultSizeInBytes
    # (Long.MaxValue) — "unknown" is not "proven large", so only a
    # CREDIBLE estimate below that sentinel may select the Arrow
    # path; everything else keeps the all-JVM fold
    unknown = int(
        df.sparkSession.conf.get("spark.sql.defaultSizeInBytes", str(1 << 62))
    )
    arr = F.collect_list("v").over(_series_window(ts_col, id_col, lookback))
    if _ARROW_FOLD_MIN_BYTES <= size < unknown:
        # volume path (r14, guide §4.2): the window stage is unchanged
        # (same shuffle, same collect_list arrays); only the per-row
        # fold moves into one vectorized numpy pass per Arrow batch.
        # Bit-identical to the JVM branch below — see _ewma_arrow_fold.
        windowed = base.select(
            "key", F.col(ts_col), F.col(id_col), F.col("v"),
            arr.alias("__arr__"),
        )
        # nullable, as the JVM branch's aggregate declares it
        schema = (
            windowed.drop("__arr__")
            .withColumn("ewma", F.lit(None).cast("double"))
            .schema
        )
        folded = windowed.mapInArrow(_ewma_arrow_fold(a), schema)
        return folded.orderBy(
            F.asc("key"), F.asc(ts_col), F.asc(id_col)
        ).select("key", F.col(id_col), F.col("v").alias("value"), "ewma")
    # seed with the window's FIRST element, fold the rest — exactly
    # DuckDB list_reduce's natural first-element seeding
    ewma = F.aggregate(
        F.slice(arr, 2, F.size(arr) - F.lit(1)),
        F.element_at(arr, 1),
        lambda acc, x: F.lit(a) * x + F.lit(1.0 - a) * acc,
    )
    return _series_result(base, ts_col, id_col, ewma.alias("ewma"))


def ewma_smooth_oracle_sql(
    table: str,
    key_col: str,
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    alpha_num: int = 1,
    alpha_den: int = 4,
    lookback: int = 64,
) -> str:
    """DuckDB mirror of :func:`ewma_smooth` — same bounded ROWS window
    list (shared :func:`_series_sql` scaffold), same left-to-right
    list_reduce fold (first-element seeded).  The multipliers are
    spelled as exact integer DIVISIONS (one IEEE op, identical to
    Python's ``alpha_num / alpha_den`` on the Spark side) — a float
    repr literal would re-parse through DuckDB's DECIMAL path and can
    mis-round (the documented literal trap)."""
    _check_ewma_params(alpha_num, alpha_den, lookback)
    a_sql = f"(CAST({alpha_num} AS DOUBLE) / CAST({alpha_den} AS DOUBLE))"
    scaffold = _series_sql(
        table, key_col, ts_col, id_col, value_col, lookback, sort_window=False
    )
    return f"""{scaffold}
SELECT key, id AS {id_col}, v AS value,
       list_reduce(arr, (acc, x) -> {a_sql} * x + (1.0 - {a_sql}) * acc) AS ewma
FROM __sw_w
ORDER BY key ASC, ts ASC, id ASC
"""


def rolling_median(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    window_rows: int = 5,
) -> DataFrame:
    """Per-key rolling (lower) median over the last ``window_rows``
    observations — the outlier-robust smoother (a single spike cannot
    move it, unlike any mean).  The median is a SORTED-ARRAY ELEMENT
    PICK, ``sorted[(n+1) DIV 2]`` — no interpolation arithmetic at
    all, so exactness is trivial (interpolating medians differ across
    engines at FP ties; the discrete lower median cannot).

    Scale shape: identical to :func:`ewma_smooth` — one key
    co-location shuffle, O(window_rows) state per row.  NULL handling
    shared via :func:`_series_base`.

    Returns (key, ``id_col``, value, med) ordered (key, ts, id).
    """
    if window_rows < 1:
        raise ValueError(f"rolling_median window_rows must be >= 1, got {window_rows}")
    base = _series_base(df, key_col, ts_col, id_col, value_col)
    arr = F.sort_array(
        F.collect_list("v").over(_series_window(ts_col, id_col, window_rows))
    )
    med = F.element_at(arr, ((F.size(arr) + F.lit(1)) / F.lit(2)).cast("int"))
    return _series_result(base, ts_col, id_col, med.alias("med"))


def rolling_median_oracle_sql(
    table: str,
    key_col: str,
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    window_rows: int = 5,
) -> str:
    """DuckDB mirror of :func:`rolling_median` — same shared window
    scaffold (sorted), same lower-median element pick."""
    if window_rows < 1:
        raise ValueError(f"rolling_median window_rows must be >= 1, got {window_rows}")
    scaffold = _series_sql(
        table, key_col, ts_col, id_col, value_col, window_rows, sort_window=True
    )
    return f"""{scaffold}
SELECT key, id AS {id_col}, v AS value,
       arr[CAST((len(arr) + 1) // 2 AS INTEGER)] AS med
FROM __sw_w
ORDER BY key ASC, ts ASC, id ASC
"""


def seasonal_baseline(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Day-of-week seasonal profile per key: for each (key, dow) the
    observation count, exact mean value, and the LIFT of that weekday
    against the key's overall mean — the baseline an anomaly monitor
    compares live traffic to ("is Tuesday 20% hotter than average for
    this metric?").

    dow is pure integer arithmetic — ``(days_since_epoch + 4) % 7``
    with 0=Sunday (1970-01-01 was a Thursday=4) — identical on both
    engines; no locale-dependent DAYOFWEEK anywhere.  Means come from
    DECIMAL(18,6) sums (order-free) cast to double once; the key-level
    totals are window sums over the (key × 7)-row AGGREGATE, never the
    corpus, so the corpus is scanned once with full map-side combine.
    One shuffle on (key, dow) at any scale."""
    from pyspark.sql import Window

    dow = F.pmod(
        F.datediff(F.to_date(F.col(ts_col)), F.to_date(F.lit("1970-01-01"))) + 4,
        F.lit(7),
    )
    g = (
        df.filter(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.col(key_col).alias("key"), dow.alias("dow"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,6)")).alias("_x_sd"),
        )
    )
    w = Window.partitionBy("key")
    g = g.withColumn("_x_sd_t", F.sum("_x_sd").over(w)).withColumn(
        "_x_n_t", F.sum("n_events").over(w)
    )
    mean_dow = F.col("_x_sd").cast("double") / F.col("n_events").cast("double")
    mean_key = F.col("_x_sd_t").cast("double") / F.col("_x_n_t").cast("double")
    return g.select(
        "key",
        "dow",
        "n_events",
        mean_dow.alias("mean_value"),
        (mean_dow / mean_key).alias("lift"),
    )


def seasonal_baseline_oracle_sql(
    table: str,
    key_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    """DuckDB mirror of :func:`seasonal_baseline` — same integer dow,
    same decimal sums (date subtraction yields integer days; decimal →
    double goes through VARCHAR, the repo's exact-bridge idiom)."""
    sd = "CAST(CAST(_x_sd AS VARCHAR) AS DOUBLE)"
    sdt = "CAST(CAST(SUM(_x_sd) OVER (PARTITION BY key) AS VARCHAR) AS DOUBLE)"
    nt = "CAST(SUM(n_events) OVER (PARTITION BY key) AS DOUBLE)"
    return f"""
WITH g AS (
  SELECT {key_col} AS key,
         ((((CAST({ts_col} AS DATE) - DATE '1970-01-01') + 4) % 7) + 7) % 7 AS dow,
         COUNT(*) AS n_events,
         SUM(CAST({value_col} AS DECIMAL(18,6))) AS _x_sd
  FROM {table}
  WHERE {ts_col} IS NOT NULL AND {value_col} IS NOT NULL
  GROUP BY 1, 2)
SELECT key, CAST(dow AS INTEGER) AS dow, n_events,
       {sd} / CAST(n_events AS DOUBLE) AS mean_value,
       ({sd} / CAST(n_events AS DOUBLE))
         / ({sdt} / {nt}) AS lift
FROM g
"""


def autocorr_lags(
    df: DataFrame,
    ts_col: str = "ts",
    max_lag: int = 7,
) -> DataFrame:
    """Lag-k autocorrelation of the DAILY EVENT-COUNT series for lags
    1..max_lag — the periodicity detector (a weekly pattern shows as a
    peak at lag 7) run before choosing seasonal features or alert
    windows.

    Shape: corpus → daily-count aggregate (ONE corpus shuffle; the
    series is |days| rows — tiny at any corpus size), then the lag
    pairing is a self-join of that aggregate against lags exploded
    from a literal array (AQE broadcasts the day table), and Pearson r
    per lag comes from exact DECIMAL power sums over BIGINT counts —
    the stats_corr operation tree, order-independent and engine-exact.
    Pairs exist where BOTH days are present (no gap imputation — use
    gap_fill first for a zero-filled reading)."""
    if max_lag < 1:
        raise ValueError(f"autocorr_lags: max_lag must be >= 1, got {max_lag}")
    days = (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    lags = F.explode(F.array(*[F.lit(k) for k in range(1, max_lag + 1)])).alias("lag")
    a = days.select(F.col("day").alias("day_a"), F.col("cnt").alias("x")).select(
        "day_a", "x", lags
    )
    b = days.select(F.col("day").alias("day_b"), F.col("cnt").alias("y"))
    pairs = a.join(b, F.expr("date_add(day_a, lag) = day_b"))
    xd = F.col("x").cast("decimal(18,0)")
    yd = F.col("y").cast("decimal(18,0)")
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(xd).alias("_sx"),
        F.sum(yd).alias("_sy"),
        F.sum((xd * yd).cast("decimal(38,0)")).alias("_sxy"),
        F.sum((xd * xd).cast("decimal(38,0)")).alias("_sx2"),
        F.sum((yd * yd).cast("decimal(38,0)")).alias("_sy2"),
    )
    n = F.col("n_pairs").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sx2 = F.col("_sx2").cast("double")
    sy2 = F.col("_sy2").cast("double")
    mx = sx / n
    my = sy / n
    cov = sxy / n - mx * my
    sdx = F.sqrt(sx2 / n - mx * mx)
    sdy = F.sqrt(sy2 / n - my * my)
    return s.select("lag", "n_pairs", (cov / (sdx * sdy)).alias("autocorr"))


def autocorr_lags_oracle_sql(table: str, ts_col: str = "ts", max_lag: int = 7) -> str:
    """DuckDB mirror of :func:`autocorr_lags`: same daily aggregate,
    same VALUES-list lag join, same decimal power sums and double
    operation tree (sqrt is correctly-rounded IEEE on both)."""
    values = ", ".join(f"({k})" for k in range(1, max_lag + 1))
    v = "CAST(CAST({c} AS VARCHAR) AS DOUBLE)"
    sx, sy = v.format(c="_sx"), v.format(c="_sy")
    sxy, sx2, sy2 = v.format(c="_sxy"), v.format(c="_sx2"), v.format(c="_sy2")
    n = "CAST(n_pairs AS DOUBLE)"
    return f"""
WITH d AS (
  SELECT CAST({ts_col} AS DATE) AS day, COUNT(*) AS cnt
  FROM {table} WHERE {ts_col} IS NOT NULL GROUP BY 1),
l(lag) AS (VALUES {values}),
p AS (
  SELECT l.lag, a.cnt AS x, b.cnt AS y
  FROM l CROSS JOIN d a JOIN d b ON b.day = a.day + CAST(l.lag AS INTEGER)),
s AS (
  SELECT lag, COUNT(*) AS n_pairs,
         SUM(CAST(x AS DECIMAL(18,0))) AS _sx,
         SUM(CAST(y AS DECIMAL(18,0))) AS _sy,
         SUM(CAST(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS _sxy,
         SUM(CAST(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS _sx2,
         SUM(CAST(CAST(y AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS _sy2
  FROM p GROUP BY lag)
SELECT CAST(lag AS INTEGER) AS lag, n_pairs,
       ({sxy} / {n} - ({sx} / {n}) * ({sy} / {n}))
         / (sqrt({sx2} / {n} - ({sx} / {n}) * ({sx} / {n}))
            * sqrt({sy2} / {n} - ({sy} / {n}) * ({sy} / {n}))) AS autocorr
FROM s
"""


def crosscorr_lags(
    df: DataFrame,
    key_col: str,
    key_a: str,
    key_b: str,
    ts_col: str = "ts",
    max_lag: int = 3,
) -> DataFrame:
    """Lagged CROSS-correlation between two keys' daily-count series
    for lags −max_lag..max_lag — the leading-indicator detector
    (does key_a's volume today predict key_b's k days later?  A peak
    at positive lag = a leads b).  Same shape as
    :func:`autocorr_lags`: corpus → per-(key, day) counts (one
    exchange; |days| rows per key), the lag pairing self-joins THE
    AGGREGATE (a's day + lag = b's day), Pearson r per lag from exact
    DECIMAL power sums.  Pairs exist where both days are present."""
    if max_lag < 0:
        raise ValueError(f"crosscorr_lags: max_lag must be >= 0, got {max_lag}")
    days = (
        df.filter(F.col(ts_col).isNotNull() & F.col(key_col).isin(key_a, key_b))
        .groupBy(F.col(key_col).alias("k"), F.to_date(F.col(ts_col)).alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    a = days.where(F.col("k") == key_a).select(
        F.col("day").alias("day_a"), F.col("cnt").alias("x")
    )
    b = days.where(F.col("k") == key_b).select(
        F.col("day").alias("day_b"), F.col("cnt").alias("y")
    )
    lags = F.explode(
        F.array(*[F.lit(k) for k in range(-max_lag, max_lag + 1)])
    ).alias("lag")
    pairs = a.select("day_a", "x", lags).join(
        b, F.expr("date_add(day_a, lag) = day_b")
    )
    xd = F.col("x").cast("decimal(18,0)")
    yd = F.col("y").cast("decimal(18,0)")
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(xd).alias("_sx"),
        F.sum(yd).alias("_sy"),
        F.sum((xd * yd).cast("decimal(38,0)")).alias("_sxy"),
        F.sum((xd * xd).cast("decimal(38,0)")).alias("_sx2"),
        F.sum((yd * yd).cast("decimal(38,0)")).alias("_sy2"),
    )
    n = F.col("n_pairs").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sx2 = F.col("_sx2").cast("double")
    sy2 = F.col("_sy2").cast("double")
    mx = sx / n
    my = sy / n
    cov = sxy / n - mx * my
    sdx = F.sqrt(sx2 / n - mx * mx)
    sdy = F.sqrt(sy2 / n - my * my)
    return s.select("lag", "n_pairs", (cov / (sdx * sdy)).alias("crosscorr"))


def crosscorr_lags_oracle_sql(
    table: str,
    key_col: str,
    key_a: str,
    key_b: str,
    ts_col: str = "ts",
    max_lag: int = 3,
) -> str:
    """DuckDB mirror of :func:`crosscorr_lags`."""
    values = ", ".join(f"({k})" for k in range(-max_lag, max_lag + 1))
    v = "CAST(CAST({c} AS VARCHAR) AS DOUBLE)"
    sx, sy = v.format(c="_sx"), v.format(c="_sy")
    sxy, sx2, sy2 = v.format(c="_sxy"), v.format(c="_sx2"), v.format(c="_sy2")
    n = "CAST(n_pairs AS DOUBLE)"
    ka = key_a.replace("'", "''")
    kb = key_b.replace("'", "''")
    return f"""
WITH d AS (
  SELECT {key_col} AS k, CAST({ts_col} AS DATE) AS day, COUNT(*) AS cnt
  FROM {table}
  WHERE {ts_col} IS NOT NULL AND {key_col} IN ('{ka}', '{kb}')
  GROUP BY 1, 2),
l(lag) AS (VALUES {values}),
p AS (
  SELECT l.lag, a.cnt AS x, b.cnt AS y
  FROM l CROSS JOIN (SELECT day, cnt FROM d WHERE k = '{ka}') a
  JOIN (SELECT day, cnt FROM d WHERE k = '{kb}') b
    ON b.day = a.day + CAST(l.lag AS INTEGER)),
s AS (
  SELECT lag, COUNT(*) AS n_pairs,
         SUM(CAST(x AS DECIMAL(18,0))) AS _sx,
         SUM(CAST(y AS DECIMAL(18,0))) AS _sy,
         SUM(CAST(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS _sxy,
         SUM(CAST(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS _sx2,
         SUM(CAST(CAST(y AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS _sy2
  FROM p GROUP BY lag)
SELECT CAST(lag AS INTEGER) AS lag, n_pairs,
       ({sxy} / {n} - ({sx} / {n}) * ({sy} / {n}))
         / (sqrt({sx2} / {n} - ({sx} / {n}) * ({sx} / {n}))
            * sqrt({sy2} / {n} - ({sy} / {n}) * ({sy} / {n}))) AS crosscorr
FROM s
"""


def user_streaks(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Gaps-and-islands: per key, the LONGEST run of consecutive
    active days plus total active days and distinct streaks — the
    engagement/retention primitive (login streaks, sensor uptime).

    The classic rank trick, fully distributed: distinct (key, day) →
    ``day − ROW_NUMBER()`` within key is constant within each
    consecutive island → per-(key, island) day counts → per-key max.
    Both windows partition on the key (corpus-cardinality — never a
    skew trap); day arithmetic is integer days-since-epoch on both
    engines.  Output: ``(key, active_days, n_streaks,
    longest_streak)``."""
    from pyspark.sql import Window

    days = (
        df.filter(F.col(ts_col).isNotNull() & F.col(key_col).isNotNull())
        .select(
            F.col(key_col).alias("key"),
            F.datediff(
                F.to_date(F.col(ts_col)), F.to_date(F.lit("1970-01-01"))
            ).alias("_x_day"),
        )
        .distinct()
    )
    w = Window.partitionBy("key").orderBy("_x_day")
    islands = days.withColumn(
        "_x_isl", F.col("_x_day") - F.row_number().over(w)
    )
    per_island = islands.groupBy("key", "_x_isl").agg(
        F.count(F.lit(1)).alias("_x_len")
    )
    return per_island.groupBy("key").agg(
        F.sum("_x_len").cast("long").alias("active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("_x_len").alias("longest_streak"),
    )


def user_streaks_oracle_sql(table: str, key_col: str, ts_col: str = "ts") -> str:
    """DuckDB mirror of :func:`user_streaks` — identical rank trick."""
    return f"""
WITH d AS (
  SELECT DISTINCT {key_col} AS key,
         CAST(CAST({ts_col} AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
  FROM {table} WHERE {ts_col} IS NOT NULL AND {key_col} IS NOT NULL),
i AS (
  SELECT key, day,
         day - ROW_NUMBER() OVER (PARTITION BY key ORDER BY day) AS isl
  FROM d),
s AS (SELECT key, isl, COUNT(*) AS len FROM i GROUP BY key, isl)
SELECT key, CAST(SUM(len) AS BIGINT) AS active_days,
       COUNT(*) AS n_streaks,
       MAX(len) AS longest_streak
FROM s GROUP BY key
"""


def interarrival_stats(
    df: DataFrame,
    partition_col: str,
    group_col: str,
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Inter-arrival (dwell-time) statistics: the gap in seconds
    between each event and the SAME partition's previous event,
    aggregated per group of the LATER event — the latency/engagement
    profile ("how long do users sit before an error?", queue
    inter-service times).  Output per group: ``n_gaps, mean_gap_s
    (exact decimal mean), p50_gap_s (exact interpolated median),
    max_gap_s``.

    One window over the partition key (corpus-cardinality — never a
    skew trap) ordered by (epoch, id), then one group aggregate with
    full map-side combine.  Gaps are INTEGER seconds (epoch
    subtraction), so the mean is a decimal-exact sum and the median is
    the proven PERCENTILE_CONT primitive — engine-exact."""
    from pyspark.sql import Window

    ev = df.filter(
        F.col(partition_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(partition_col).alias("_x_p"),
        F.col(group_col).alias("grp"),
        F.col(ts_col).cast("timestamp").cast("long").alias("_x_t"),
        F.col(id_col).alias("_x_id"),
    )
    w = Window.partitionBy("_x_p").orderBy("_x_t", "_x_id")
    gaps = ev.withColumn("_x_gap", F.col("_x_t") - F.lag("_x_t").over(w)).where(
        F.col("_x_gap").isNotNull()
    )
    return gaps.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        (
            F.sum(F.col("_x_gap").cast("decimal(18,0)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_gap_s"),
        F.percentile(F.col("_x_gap"), F.lit(0.5)).alias("p50_gap_s"),
        F.max("_x_gap").alias("max_gap_s"),
    )


def interarrival_stats_oracle_sql(
    table: str,
    partition_col: str,
    group_col: str,
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> str:
    """DuckDB mirror of :func:`interarrival_stats`."""
    return f"""
WITH e AS (
  SELECT {partition_col} AS p, {group_col} AS grp,
         CAST(floor(epoch({ts_col})) AS BIGINT) AS t, {id_col} AS id
  FROM {table}
  WHERE {partition_col} IS NOT NULL AND {ts_col} IS NOT NULL),
g AS (
  SELECT grp, t - LAG(t) OVER (PARTITION BY p ORDER BY t, id) AS gap
  FROM e)
SELECT grp, COUNT(*) AS n_gaps,
       CAST(CAST(SUM(CAST(gap AS DECIMAL(18,0))) AS VARCHAR) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mean_gap_s,
       PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY gap) AS p50_gap_s,
       MAX(gap) AS max_gap_s
FROM g WHERE gap IS NOT NULL GROUP BY grp
"""
