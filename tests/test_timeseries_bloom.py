"""Unit tests for the round-6 tail additions: time-series gap fill
(functions/timeseries.py) and the broadcast Bloom gate
(functions/bloom.py).  Oracle equivalence is covered by the harness
(scripts/check_oracle.py: gap_fill, bloom_gate); these pin the
SEMANTICS on hand-built frames plus the loud-failure contracts."""

from __future__ import annotations

import datetime
import hashlib

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from openetlagent_spark.functions.bloom import (
    build_bloom_bitmap,
    with_bloom_flag,
)
from openetlagent_spark.functions.timeseries import gap_fill_hourly


def _ts(h: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=h)


BASE_HOUR = int(_ts(0).replace(tzinfo=datetime.timezone.utc).timestamp()) // 3600


@pytest.fixture()
def gap_df(spark):
    rows = [
        # key "a": hours 0, 0, 3 -> grid 0..3 with a 2-hour gap
        Row(k="a", ts=_ts(0), v=1.0),
        Row(k="a", ts=_ts(0), v=2.0),
        Row(k="a", ts=_ts(3), v=10.0),
        # key "b": single hour -> 1-row grid
        Row(k="b", ts=_ts(5), v=7.0),
        # NULL key and NULL ts rows must not widen any grid
        Row(k=None, ts=_ts(1), v=99.0),
        Row(k="a", ts=None, v=99.0),
    ]
    return spark.createDataFrame(rows)


def test_gap_fill_grid_and_ffill(gap_df):
    out = gap_fill_hourly(gap_df, key="k", ts_col="ts", value_col="v")
    got = {
        (r["k"], r["hour_idx"] - BASE_HOUR): (
            r["n_events"],
            r["observed"],
            r["filled_sum"],
        )
        for r in out.collect()
    }
    assert got == {
        ("a", 0): (2, 1, 3.0),
        ("a", 1): (0, 0, 3.0),  # gap: carries hour 0's sum
        ("a", 2): (0, 0, 3.0),
        ("a", 3): (1, 1, 10.0),
        ("b", 5): (1, 1, 7.0),
    }


def test_gap_fill_span_guard_raises(spark):
    df = spark.createDataFrame(
        [Row(k="x", ts=_ts(0), v=1.0), Row(k="x", ts=_ts(100), v=1.0)]
    )
    with pytest.raises(Exception, match="span exceeds"):
        gap_fill_hourly(
            df, key="k", ts_col="ts", value_col="v", max_span_hours=10
        ).collect()


def test_gap_fill_all_null_ts_key_drops_not_raises(spark):
    df = spark.createDataFrame(
        [Row(k="x", ts=None, v=1.0), Row(k="y", ts=_ts(2), v=4.0)]
    )
    out = gap_fill_hourly(df, key="k", ts_col="ts", value_col="v").collect()
    assert [(r["k"], r["observed"]) for r in out] == [("y", 1)]


def _py_positions(text: str, m: int, k: int) -> list[int]:
    return [
        int(hashlib.md5(f"{text}#b{i}".encode()).hexdigest()[:8], 16) % m
        for i in range(k)
    ]


def test_bloom_bitmap_matches_python_reference(spark):
    vals = ["alpha", "beta", "gamma d e f"]
    df = spark.createDataFrame([Row(t=v) for v in vals] + [Row(t=None)])
    m, k = 256, 3
    bitmap = build_bloom_bitmap(df, "t", m=m, k=k)
    expect = [0] * (m // 64)
    for v in vals:
        for p in _py_positions(v, m, k):
            expect[p // 64] |= 1 << (p % 64)
    # python ints are unbounded; Spark words are signed int64
    expect = [w - (1 << 64) if w >= (1 << 63) else w for w in expect]
    assert bitmap == expect


def test_bloom_no_false_negatives_and_null_is_miss(spark):
    members = [f"doc {i} text" for i in range(20)]
    df = spark.createDataFrame([Row(t=v) for v in members])
    bitmap = build_bloom_bitmap(df, "t", m=1024, k=3)
    probe = spark.createDataFrame(
        [Row(id=i, t=v) for i, v in enumerate(members)]
        + [Row(id=100, t="definitely unseen value zzz"), Row(id=101, t=None)]
    )
    out = with_bloom_flag(probe, "t", bitmap, m=1024, k=3)
    flags = {r["id"]: r["bloom_hit"] for r in out.collect()}
    assert all(flags[i] == 1 for i in range(20)), "a Bloom filter never false-negatives"
    assert flags[101] == 0, "NULL probes must miss, not error"
    # id=100 is allowed to false-positive in principle; with 60 set bits
    # in 1024 the chance is ~2e-4 — assert the overwhelmingly likely miss
    # so a hashing regression (e.g. constant positions) fails the test.
    assert flags[100] == 0


def test_bloom_contract_errors(spark):
    df = spark.createDataFrame([Row(t="x")])
    with pytest.raises(ValueError, match="multiple of 64"):
        build_bloom_bitmap(df, "t", m=100, k=3)
    with pytest.raises(ValueError, match="words"):
        with_bloom_flag(df, "t", [0] * 3, m=1024, k=3)


def test_bloom_serve_is_pure_projection(spark):
    """The serve side must stay scan+project: no join, no exchange —
    that is the whole point of the operator at 100 TB."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bitmap = build_bloom_bitmap(
        docs.where(F.col("doc_id") % 97 == 0).select("text"), "text", m=4096, k=3
    )
    plan = (
        with_bloom_flag(docs.select("doc_id", "text"), "text", bitmap, m=4096, k=3)
        ._jdf.queryExecution()
        .toString()
    )
    physical = plan.split("== Physical Plan ==")[-1]
    assert "Exchange" not in physical
    assert "Join" not in physical


def test_bloom_oracle_handles_duplicate_ids(spark):
    """Review regression: hits must be computed per TEXT, not per id —
    per-id grouping pools bit positions across different texts sharing
    an id and over-reports hits."""
    import duckdb
    from openetlagent_spark.functions.bloom import bloom_gate_oracle_sql

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE corpus AS SELECT * FROM (VALUES "
        "(1, 'member text'), (1, 'not a member'), (2, 'also absent')"
        ") t(doc_id, text)"
    )
    con.execute("CREATE TABLE bench AS SELECT 'member text' AS text")
    sql = bloom_gate_oracle_sql(
        corpus_sql="SELECT doc_id, text FROM corpus",
        eval_sql="SELECT text FROM bench",
        id_col="doc_id", text_col="text", m=4096, k=3,
    )
    got = sorted(map(tuple, con.execute(sql).fetchall()))
    # spark side on the same frame
    from pyspark.sql import Row
    from openetlagent_spark.functions.bloom import build_bloom_bitmap, with_bloom_flag

    bench = spark.createDataFrame([Row(text="member text")])
    corpus = spark.createDataFrame(
        [Row(doc_id=1, text="member text"), Row(doc_id=1, text="not a member"),
         Row(doc_id=2, text="also absent")]
    )
    bm = build_bloom_bitmap(bench, "text", m=4096, k=3)
    srows = sorted(
        (r["doc_id"], r["bloom_hit"])
        for r in with_bloom_flag(corpus, "text", bm, m=4096, k=3).collect()
    )
    assert got == srows == [(1, 0), (1, 1), (2, 0)]


def test_bloom_refuses_column_collision(spark):
    from pyspark.sql import Row

    df = spark.createDataFrame([Row(t="x", bloom_hit=1)])
    with pytest.raises(ValueError, match="already has column"):
        with_bloom_flag(df, "t", [0] * 16, m=1024, k=3)


def test_time_weighted_avg_hand_computed(spark):
    """v=10 held 60s then v=2 held 180s: TWA = (10*60+2*180)/240 =
    3.999... vs plain AVG 6.0 — the duration weighting is the point.
    Exact: quantized integers make the expected value computable by
    hand."""
    import datetime as dt

    from openetlagent_spark.functions.timeseries import time_weighted_avg

    t0 = dt.datetime(2024, 5, 1)
    df = spark.createDataFrame(
        [(1, t0, "a", 10.0),
         (2, t0 + dt.timedelta(seconds=60), "a", 2.0),
         (3, t0 + dt.timedelta(seconds=240), "a", 99.0)],  # terminal: no segment
        "id long, ts timestamp, k string, v double",
    )
    out = time_weighted_avg(df, key="k", ts_col="ts", value_col="v", id_col="id")
    r = out.collect()[0]
    assert r["n_segments"] == 2 and r["total_ms"] == 240_000
    q10, q2 = 10 * 2**16, 2 * 2**16
    assert r["twa"] == ((q10 * 60_000 + q2 * 180_000) / 2**16) / 240_000


def test_time_weighted_avg_edge_cases(spark):
    """Single-observation keys are absent; NULL values hold a segment
    whose duration counts but whose value contributes nothing;
    duplicate timestamps break ties by id (dt=0 segment, harmless)."""
    import datetime as dt

    import pytest

    from openetlagent_spark.functions.timeseries import time_weighted_avg

    t0 = dt.datetime(2024, 5, 1)
    df = spark.createDataFrame(
        [(1, t0, "solo", 5.0),
         (10, t0, "n", None), (11, t0 + dt.timedelta(seconds=10), "n", 4.0),
         (12, t0 + dt.timedelta(seconds=20), "n", 4.0),
         (20, t0, "dup", 1.0), (21, t0, "dup", 3.0),
         (22, t0 + dt.timedelta(seconds=10), "dup", 7.0)],
        "id long, ts timestamp, k string, v double",
    )
    out = {r["k"]: r for r in
           time_weighted_avg(df, key="k", ts_col="ts", value_col="v",
                             id_col="id").collect()}
    assert "solo" not in out
    n = out["n"]  # NULL held 10s (skipped by SUM), 4.0 held 10s
    assert n["n_segments"] == 2 and n["total_ms"] == 20_000
    assert n["twa"] == ((4 * 2**16 * 10_000) / 2**16) / 20_000  # diluted by the NULL span
    d = out["dup"]  # id 20 holds 0ms (tie), id 21 holds 10s
    assert d["n_segments"] == 2 and d["total_ms"] == 10_000
    assert d["twa"] == ((3 * 2**16 * 10_000) / 2**16) / 10_000
    with pytest.raises(ValueError, match="q_bits"):
        time_weighted_avg(df, key="k", ts_col="ts", value_col="v",
                          id_col="id", q_bits=31)


def test_ohlc_bars_hand_computed(spark):
    """OHLC semantics over a hand-built series: open/close are
    time-ordered first/last, high/low extremes, same-second ties pick
    by value deterministically."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from openetlagent_spark.functions.timeseries import ohlc_bars

    rows = [
        Row(k="a", ts="2024-01-01 00:05:00", v=10.0),
        Row(k="a", ts="2024-01-01 00:10:00", v=30.0),
        Row(k="a", ts="2024-01-01 00:50:00", v=5.0),
        Row(k="a", ts="2024-01-01 01:10:00", v=7.0),
        # same-second tie: value tie-break picks 1.0 as open side
        Row(k="b", ts="2024-01-01 00:00:00", v=2.0),
        Row(k="b", ts="2024-01-01 00:00:00", v=1.0),
        # NULLs drop
        Row(k="b", ts=None, v=9.0),
        Row(k="b", ts="2024-01-01 00:30:00", v=None),
    ]
    df = spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts"))
    got = {(r.key, r.bucket): r for r in
           ohlc_bars(df, "k", "ts", "v", bucket_seconds=3600).collect()}
    a0 = got[("a", 473352)]  # 2024-01-01T00 bucket index
    assert (a0.open, a0.high, a0.low, a0.close, a0.n_obs) == (10.0, 30.0, 5.0, 5.0, 3)
    a1 = got[("a", 473353)]
    assert (a1.open, a1.close, a1.n_obs) == (7.0, 7.0, 1)
    b0 = got[("b", 473352)]
    assert (b0.open, b0.close, b0.n_obs) == (1.0, 2.0, 2)
    from openetlagent_spark.functions.timeseries import ohlc_bars as ob
    import pytest

    with pytest.raises(ValueError, match="bucket_seconds"):
        ob(df, "k", bucket_seconds=0)


def test_ohlc_bars_stream_matches_batch(spark, tmp_path):
    """ohlc_bars is a declarative grouped aggregate, so the SAME call
    runs on a structured stream (complete mode) — candlesticks over a
    live feed.  Stream output == batch output."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from openetlagent_spark.functions.timeseries import ohlc_bars

    rows = [
        Row(k="a", ts=f"2024-01-01 0{h}:{m:02d}:00", v=float(h * 100 + m))
        for h in range(3) for m in (5, 25, 45)
    ]
    batch = spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "ohlc_src")
    batch.write.parquet(src)

    want = sorted(
        map(tuple, ohlc_bars(batch, "k", "ts", "v", bucket_seconds=3600).collect())
    )
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        ohlc_bars(stream, "k", "ts", "v", bucket_seconds=3600)
        .writeStream.format("memory")
        .queryName("ohlc_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM ohlc_out").collect()))
    assert got == want and got


# --- seasonal_baseline / autocorr_lags (round 10 additions) ---------------


def test_seasonal_baseline_dow_and_lift(spark):
    from openetlagent_spark.functions.timeseries import seasonal_baseline

    # 1970-01-01 was a Thursday (dow 4); 1970-01-04 a Sunday (dow 0)
    rows = [
        ("m", "1970-01-01 10:00:00", 10.0),
        ("m", "1970-01-01 11:00:00", 20.0),   # Thu mean 15
        ("m", "1970-01-04 09:00:00", 30.0),   # Sun mean 30; overall 20
        ("m", None, 99.0),                     # NULL ts excluded
        ("m", "1970-01-05 09:00:00", None),    # NULL value excluded
    ]
    df = spark.createDataFrame(rows, "key string, ts string, value double").select(
        "key", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    got = {r.dow: r for r in seasonal_baseline(df, "key").collect()}
    assert set(got) == {4, 0}
    assert got[4].n_events == 2 and got[4].mean_value == 15.0
    assert got[0].n_events == 1 and got[0].mean_value == 30.0
    assert got[4].lift == 15.0 / 20.0 and got[0].lift == 30.0 / 20.0


def test_autocorr_perfect_alternation(spark):
    from openetlagent_spark.functions.timeseries import autocorr_lags

    # daily counts alternate 1,2,1,2,... over 8 days: lag-1 r = -1, lag-2 r = +1
    rows = []
    for d in range(8):
        n = 1 if d % 2 == 0 else 2
        for i in range(n):
            rows.append((f"1970-01-{d+1:02d} 0{i}:00:00",))
    df = spark.createDataFrame(rows, "ts string").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    got = {r.lag: r for r in autocorr_lags(df, max_lag=2).collect()}
    assert got[1].n_pairs == 7 and got[2].n_pairs == 6
    assert got[1].autocorr == pytest.approx(-1.0, abs=1e-12)
    assert got[2].autocorr == pytest.approx(1.0, abs=1e-12)


def test_autocorr_rejects_bad_lag(spark):
    from openetlagent_spark.functions.timeseries import autocorr_lags

    df = spark.createDataFrame([("1970-01-01 00:00:00",)], "ts string")
    with pytest.raises(ValueError):
        autocorr_lags(df, max_lag=0)


def test_crosscorr_shifted_series(spark):
    from openetlagent_spark.functions.timeseries import crosscorr_lags

    # b's counts = a's counts shifted one day later -> peak r=1 at lag 1
    rows = []
    pattern = [1, 3, 2, 5, 4, 6, 2, 7]
    for d, n in enumerate(pattern):
        for i in range(n):
            rows.append((f"1970-01-{d+1:02d} 0{i}:00:00", "a"))
        for i in range(n):
            rows.append((f"1970-01-{d+2:02d} 0{i}:00:00", "b"))
    df = spark.createDataFrame(rows, "ts string, k string").select(
        F.col("ts").cast("timestamp").alias("ts"), "k"
    )
    got = {r.lag: r for r in crosscorr_lags(df, "k", "a", "b", max_lag=2).collect()}
    assert got[1].crosscorr == pytest.approx(1.0, abs=1e-12)
    assert got[1].n_pairs == 8
    assert abs(got[0].crosscorr) < 1.0  # unshifted alignment is weaker
    with pytest.raises(ValueError):
        crosscorr_lags(df, "k", "a", "b", max_lag=-1)


def test_user_streaks_islands(spark):
    from openetlagent_spark.functions.timeseries import user_streaks

    # u1 active days 1,2,3, 5,6, 9 -> streaks 3/2/1; u2 single day
    rows = []
    for d in (1, 2, 3, 5, 6, 9):
        rows.append((1, f"1970-01-{d:02d} 10:00:00"))
        rows.append((1, f"1970-01-{d:02d} 11:00:00"))  # dup same day
    rows.append((2, "1970-01-04 09:00:00"))
    df = spark.createDataFrame(rows, "user_id bigint, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    got = {r.key: r for r in user_streaks(df, "user_id").collect()}
    assert (got[1].active_days, got[1].n_streaks, got[1].longest_streak) == (6, 3, 3)
    assert (got[2].active_days, got[2].n_streaks, got[2].longest_streak) == (1, 1, 1)


def test_interarrival_stats_known_gaps(spark):
    from openetlagent_spark.functions.timeseries import interarrival_stats

    # user 1 timeline: t=0 (a), t=10 (b), t=40 (b), t=100 (a)
    # gaps on later event: b:10, b:30, a:60; user 2 single event: none
    rows = [
        (1, 1, 0, "a"), (2, 1, 10, "b"), (3, 1, 40, "b"), (4, 1, 100, "a"),
        (5, 2, 7, "a"),
    ]
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [Row(event_id=e, user_id=u, ts=base + dt.timedelta(seconds=t), event_type=g)
         for e, u, t, g in rows]
    )
    got = {r.grp: r for r in
           interarrival_stats(df, "user_id", "event_type").collect()}
    assert got["b"].n_gaps == 2 and got["b"].mean_gap_s == 20.0
    assert got["b"].p50_gap_s == 20.0 and got["b"].max_gap_s == 30
    assert got["a"].n_gaps == 1 and got["a"].mean_gap_s == 60.0


# --- ewma: the size-gated Arrow fold ---------------------------------------
#
# ewma_smooth folds in the JVM below _ARROW_FOLD_MIN_BYTES of estimated
# input and in one vectorized numpy pass per Arrow batch above it.  A
# parquet-backed frame carries a credible size estimate (parallelized
# local data reports "unknown", which never selects the Arrow fold), so
# a zero gate sends it through the Arrow fold.


def test_ewma_arrow_fold_bit_identical(spark, tmp_path, monkeypatch):
    # the Arrow kernel replays the JVM HOF fold's exact per-element op
    # sequence (a*x + (1-a)*acc, float64), so full results must be
    # BIT-identical — including ragged early windows (< lookback rows)
    # and alpha values that are not exact binary fractions
    from openetlagent_spark.functions import timeseries as T

    rows = [
        ("k%d" % (i % 7), i, i * 31 % 101, float(i % 13) / 7.0)
        for i in range(2000)
    ]
    spark.createDataFrame(
        rows, "key string, ts bigint, event_id bigint, value double"
    ).write.parquet(str(tmp_path / "series"))
    df = spark.read.parquet(str(tmp_path / "series"))
    kwargs = dict(alpha_num=3, alpha_den=7, lookback=5)
    jvm_df = T.ewma_smooth(df, "key", "ts", "event_id", "value", **kwargs)
    monkeypatch.setattr(T, "_ARROW_FOLD_MIN_BYTES", 0)
    arrow_df = T.ewma_smooth(df, "key", "ts", "event_id", "value", **kwargs)
    assert "MapInArrow" in arrow_df._jdf.queryExecution().executedPlan().toString()
    jvm, arrow = jvm_df.collect(), arrow_df.collect()
    assert len(jvm) == len(arrow) == 2000
    for r_j, r_a in zip(jvm, arrow):
        assert r_j == r_a  # == on float is exact equality


def test_ewma_gate_uses_jvm_below_threshold(spark):
    # a tiny frame must stay all-JVM: no ArrowEvalPython / MapInArrow
    # node below the volume gate (Python only off the hot path at toy
    # scale)
    from openetlagent_spark.functions.timeseries import ewma_smooth

    df = spark.createDataFrame(
        [("a", 1, 1, 1.0), ("a", 2, 2, 2.0)],
        "key string, ts bigint, event_id bigint, value double",
    )
    plan = ewma_smooth(df, "key", "ts", "event_id", "value")._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan and "ArrowEval" not in plan and "BatchEval" not in plan


def test_ewma_unknown_size_never_takes_arrow_fold(spark, monkeypatch):
    # parallelized local data reports spark.sql.defaultSizeInBytes, which
    # is "unknown", not "large": even a zero gate keeps the JVM fold
    from openetlagent_spark.functions import timeseries as T

    monkeypatch.setattr(T, "_ARROW_FOLD_MIN_BYTES", 0)
    df = spark.createDataFrame(
        [("a", 1, 1, 1.0), ("a", 2, 2, 2.0)],
        "key string, ts bigint, event_id bigint, value double",
    )
    out = T.ewma_smooth(df, "key", "ts", "event_id", "value")
    assert "MapInArrow" not in out._jdf.queryExecution().executedPlan().toString()
    assert [r.ewma for r in out.collect()] == [1.0, 1.25]
