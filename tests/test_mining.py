"""Unit tests for the mining family (functions/mining.py: directed
association rules, Markov transitions, 2-D skyline) and the CUSUM
changepoint (functions/timeseries.py).  Oracle equivalence is covered
by the harness (scripts/check_oracle.py: association_rules,
markov_transitions, changepoint, skyline); these pin the SEMANTICS on
hand-built frames plus the loud-failure contracts."""

from __future__ import annotations

import datetime
import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from openetlagent_spark.functions.mining import (
    association_rules,
    markov_transitions,
    skyline2d,
)
from openetlagent_spark.functions.timeseries import changepoint_cusum


# ---------------------------------------------------------------------------
# association_rules
# ---------------------------------------------------------------------------

@pytest.fixture()
def basket_df(spark):
    # baskets: u1 {a,b,c}, u2 {a,b}, u3 {a}, u4 {b,c};
    # a NULL basket and a NULL item must not count anywhere;
    # u2's duplicate (a) row must collapse (baskets are SETS)
    rows = [
        Row(u=1, i="a"), Row(u=1, i="b"), Row(u=1, i="c"),
        Row(u=2, i="a"), Row(u=2, i="b"), Row(u=2, i="a"),
        Row(u=3, i="a"),
        Row(u=4, i="b"), Row(u=4, i="c"),
        Row(u=None, i="a"), Row(u=5, i=None),
    ]
    return spark.createDataFrame(rows)


def test_association_rules_counts_and_metrics(basket_df):
    out = association_rules(basket_df, "u", "i", min_count=1, k=100)
    rules = {(r.antecedent, r.consequent): r for r in out.collect()}
    # n_baskets counts only baskets with at least one non-null item
    # pair (a -> b): u1, u2 both hold a and b
    ab = rules[("a", "b")]
    assert ab.n_pair == 2 and ab.n_ante == 3 and ab.n_cons == 3
    # 4 real baskets (u1..u4; u5's only item is NULL, the NULL basket drops)
    assert ab.support == 2 / 4
    assert ab.confidence == 2 / 3
    assert ab.lift == (2.0 * 4.0) / (3.0 * 3.0)
    # directed: (b -> a) has the same pair count, different confidence base
    ba = rules[("b", "a")]
    assert ba.n_pair == 2 and ba.n_ante == 3
    # (c -> a): only u1 → support 1/4
    assert rules[("c", "a")].n_pair == 1
    # no self-rules
    assert ("a", "a") not in rules


def test_association_rules_min_count_floor_and_ordering(basket_df):
    out = association_rules(basket_df, "u", "i", min_count=2, k=100)
    got = [(r.antecedent, r.consequent) for r in out.collect()]
    # only pairs co-occurring in >= 2 baskets survive: {a,b} and {b,c}
    assert set(got) == {("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")}
    lifts = [r.lift for r in out.collect()]
    assert lifts == sorted(lifts, reverse=True)


def test_association_rules_rejects_bad_params(basket_df):
    with pytest.raises(ValueError, match="min_count"):
        association_rules(basket_df, "u", "i", min_count=0)
    with pytest.raises(ValueError, match="k > 0"):
        association_rules(basket_df, "u", "i", k=0)


# ---------------------------------------------------------------------------
# markov_transitions
# ---------------------------------------------------------------------------

def _t(s: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s)


def test_markov_transitions_counts_and_probabilities(spark):
    rows = [
        # user 1: a -> b -> a      user 2: a -> b
        Row(u=1, ts=_t(0), eid=0, s="a"),
        Row(u=1, ts=_t(1), eid=1, s="b"),
        Row(u=1, ts=_t(2), eid=2, s="a"),
        Row(u=2, ts=_t(0), eid=3, s="a"),
        Row(u=2, ts=_t(1), eid=4, s="b"),
        # NULL user and NULL state drop before the window
        Row(u=None, ts=_t(0), eid=5, s="a"),
        Row(u=2, ts=_t(2), eid=6, s=None),
    ]
    out = markov_transitions(
        spark.createDataFrame(rows), "u", "ts", "eid", "s"
    ).collect()
    m = {(r.src, r.dst): r for r in out}
    assert m[("a", "b")].n_trans == 2 and m[("a", "b")].n_src == 2
    assert m[("a", "b")].prob == 1.0
    assert m[("b", "a")].n_trans == 1 and m[("b", "a")].n_src == 1
    assert set(m) == {("a", "b"), ("b", "a")}


def test_markov_transitions_tiebreak_is_deterministic(spark):
    # two events share ts; eid breaks the tie: order is a(0), b(1), c(2)
    rows = [
        Row(u=1, ts=_t(0), eid=0, s="a"),
        Row(u=1, ts=_t(1), eid=1, s="b"),
        Row(u=1, ts=_t(1), eid=2, s="c"),
    ]
    out = markov_transitions(
        spark.createDataFrame(rows), "u", "ts", "eid", "s"
    ).collect()
    assert {(r.src, r.dst) for r in out} == {("a", "b"), ("b", "c")}


# ---------------------------------------------------------------------------
# changepoint_cusum
# ---------------------------------------------------------------------------

def _d(day: int, n: int, key: str = "k"):
    base = datetime.datetime(2024, 3, 1)
    return [
        Row(key=key, ts=base + datetime.timedelta(days=day, minutes=i))
        for i in range(n)
    ]


def test_changepoint_finds_the_level_shift(spark):
    # key "k": 4 days at rate 1 then 4 days at rate 9 — the CUSUM
    # trough sits on the last low day (day index 3)
    rows = []
    for d in range(4):
        rows += _d(d, 1)
    for d in range(4, 8):
        rows += _d(d, 9)
    out = changepoint_cusum(spark.createDataFrame(rows), "key", "ts").collect()
    assert len(out) == 1
    r = out[0]
    assert r.change_day == datetime.date(2024, 3, 4)
    # scaled CUSUM at day 3: 4 * (1*8 - 40) = -128
    assert r.cusum_scaled == -128 and r.strength == 128
    assert r.n_days == 8 and r.total == 40


def test_changepoint_earliest_day_wins_ties_and_keys_isolated(spark):
    # key "m": symmetric 2+2 shift — |S| peaks at day 1 and day ...,
    # counts 1,1,3,3: terms (1*4-8)=-4, -4, +4, +4 → S = -4,-8,-4,0;
    # unique max |S| at day 1.  key "flat": constant rate → S = 0
    # everywhere → earliest day picked, strength 0.
    rows = []
    for d, n in enumerate([1, 1, 3, 3]):
        rows += _d(d, n, key="m")
    for d in range(3):
        rows += _d(d, 2, key="flat")
    out = {r.key: r for r in changepoint_cusum(
        spark.createDataFrame(rows), "key", "ts").collect()}
    assert out["m"].change_day == datetime.date(2024, 3, 2)
    assert out["m"].strength == 8
    assert out["flat"].change_day == datetime.date(2024, 3, 1)
    assert out["flat"].cusum_scaled == 0 and out["flat"].strength == 0


# ---------------------------------------------------------------------------
# skyline2d
# ---------------------------------------------------------------------------

@pytest.fixture()
def points_df(spark):
    rows = [
        Row(id=1, x=10, y=1),   # frontier (max x)
        Row(id=2, x=8, y=5),    # frontier
        Row(id=3, x=8, y=4),    # dominated by id=2 (same x, lower y)
        Row(id=4, x=5, y=5),    # dominated by id=2 (lower x, equal y)
        Row(id=5, x=3, y=9),    # frontier
        Row(id=6, x=3, y=9),    # duplicate of id=5 — ties both survive
        Row(id=7, x=1, y=1),    # dominated by everything
        Row(id=8, x=None, y=2),  # NULL axis drops
        Row(id=9, x=2, y=None),
    ]
    return spark.createDataFrame(rows)


def test_skyline_frontier_membership(points_df):
    out = skyline2d(points_df, "id", "x", "y").collect()
    assert [(r.id, r.x, r.y) for r in out] == [
        (1, 10, 1), (2, 8, 5), (5, 3, 9), (6, 3, 9),
    ]


def test_skyline_bucket_pruning_is_lossless(points_df):
    one = skyline2d(points_df, "id", "x", "y", prune_buckets=1).collect()
    many = skyline2d(points_df, "id", "x", "y", prune_buckets=7).collect()
    assert one == many


def test_skyline_rejects_bad_buckets(points_df):
    with pytest.raises(ValueError, match="prune_buckets"):
        skyline2d(points_df, "id", "x", "y", prune_buckets=0)


def test_skyline_rejects_fractional_x(spark):
    """The strictly-greater-x RANGE frame steps by 1 — on a double x
    a dominator at x + 0.5 would fall outside the frame and a
    dominated row would silently survive (review finding, confirmed
    by repro: (1.0, 5) survived against a dominating (1.5, 10)).
    Fractional axes must be rejected loudly."""
    rows = [Row(id=1, x=1.0, y=5), Row(id=2, x=1.5, y=10)]
    with pytest.raises(ValueError, match="INTEGRAL x"):
        skyline2d(spark.createDataFrame(rows), "id", "x", "y")


def test_markov_drops_null_order_rows(spark):
    """Rows with a NULL order or tie-break value have no defined
    sequence position AND would diverge across engines (Spark ASC =
    NULLS FIRST, DuckDB = NULLS LAST) — they must be excluded before
    the lead window (review finding, confirmed by repro)."""
    rows = [
        Row(u=1, ts=None, eid=9, s="z"),
        Row(u=1, ts=_t(1), eid=1, s="a"),
        Row(u=1, ts=_t(2), eid=2, s="b"),
        Row(u=1, ts=_t(3), eid=None, s="c"),
    ]
    out = markov_transitions(
        spark.createDataFrame(rows), "u", "ts", "eid", "s"
    ).collect()
    assert {(r.src, r.dst) for r in out} == {("a", "b")}


# ---------------------------------------------------------------------------
# ewma_smooth / rolling_median (functions/timeseries.py)
# ---------------------------------------------------------------------------

def test_ewma_fold_values_and_lookback(spark):
    from openetlagent_spark.functions.timeseries import ewma_smooth

    rows = [
        Row(k="a", ts=_t(i), eid=i, v=float(x))
        for i, x in enumerate([8.0, 4.0, 2.0])
    ]
    out = ewma_smooth(
        spark.createDataFrame(rows), "k", "ts", "eid", "v",
        alpha_num=1, alpha_den=2, lookback=64,
    ).collect()
    # seed 8; then .5*4+.5*8=6; then .5*2+.5*6=4 — exact binary math
    assert [r.ewma for r in out] == [8.0, 6.0, 4.0]
    # lookback=2: each row folds only its 2-row window (seeded with
    # the window's first value) — row 3 sees [4, 2] -> .5*2+.5*4 = 3
    out2 = ewma_smooth(
        spark.createDataFrame(rows), "k", "ts", "eid", "v",
        alpha_num=1, alpha_den=2, lookback=2,
    ).collect()
    assert [r.ewma for r in out2] == [8.0, 6.0, 3.0]


def test_ewma_drops_null_rows_and_validates(spark):
    from openetlagent_spark.functions.timeseries import ewma_smooth

    rows = [
        Row(k="a", ts=_t(0), eid=0, v=1.0),
        Row(k=None, ts=_t(1), eid=1, v=2.0),
        Row(k="a", ts=None, eid=2, v=3.0),
        Row(k="a", ts=_t(3), eid=None, v=4.0),
        Row(k="a", ts=_t(4), eid=4, v=None),
    ]
    out = ewma_smooth(spark.createDataFrame(rows), "k", "ts", "eid", "v").collect()
    assert [(r.eid, r.ewma) for r in out] == [(0, 1.0)]
    with pytest.raises(ValueError, match="alpha"):
        ewma_smooth(spark.createDataFrame(rows), "k", "ts", "eid", "v",
                    alpha_num=4, alpha_den=4)
    with pytest.raises(ValueError, match="lookback"):
        ewma_smooth(spark.createDataFrame(rows), "k", "ts", "eid", "v",
                    lookback=0)


def test_ewma_engines_agree_on_schema_and_rows(spark):
    from openetlagent_spark.functions.timeseries import ewma_smooth

    rows = [
        Row(k="ab"[i % 2], ts=_t(i), eid=i, v=float(i % 5))
        for i in range(12)
    ]
    df = spark.createDataFrame(rows)
    jvm = ewma_smooth(df, "k", "ts", "eid", "v", engine="jvm", lookback=4)
    arrow = ewma_smooth(df, "k", "ts", "eid", "v", engine="arrow", lookback=4)
    assert arrow.schema == jvm.schema
    assert arrow.schema["ewma"].nullable
    assert arrow.collect() == jvm.collect()


def test_rolling_median_resists_spikes(spark):
    from openetlagent_spark.functions.timeseries import rolling_median

    vals = [1.0, 1.0, 100.0, 1.0, 1.0]
    rows = [Row(k="a", ts=_t(i), eid=i, v=v) for i, v in enumerate(vals)]
    out = rolling_median(
        spark.createDataFrame(rows), "k", "ts", "eid", "v", window_rows=3
    ).collect()
    # windows: [1] [1,1] [1,1,100] [1,100,1] [100,1,1] — lower medians
    assert [r.med for r in out] == [1.0, 1.0, 1.0, 1.0, 1.0]
    # even-sized window picks the LOWER middle: [1,100] -> 1
    out2 = rolling_median(
        spark.createDataFrame(rows[:3]), "k", "ts", "eid", "v", window_rows=2
    ).collect()
    assert [r.med for r in out2] == [1.0, 1.0, 1.0]
    with pytest.raises(ValueError, match="window_rows"):
        rolling_median(spark.createDataFrame(rows), "k", "ts", "eid", "v",
                       window_rows=0)


# ---------------------------------------------------------------------------
# temperature_mixture (functions/curation.py)
# ---------------------------------------------------------------------------

def test_temperature_mixture_sqrt_weights(spark):
    import math

    from openetlagent_spark.functions.curation import temperature_mixture

    rows = [
        Row(src="big", text="a " * 99 + "a"),     # 100 tokens
        Row(src="small", text="b " * 24 + "b"),   # 25 tokens
        Row(src=None, text="x"), Row(src="small", text=None),
    ]
    out = {r.src: r for r in temperature_mixture(
        spark.createDataFrame(rows), "src", "text",
        alpha_log2=1, token_budget=1000,
    ).collect()}
    assert out["big"].n_tokens == 100 and out["small"].n_tokens == 25
    # alpha = 1/2: sqrt(100)=10, sqrt(25)=5 -> weights 2/3, 1/3 —
    # temperature flattens the 4:1 token ratio to 2:1
    assert out["big"].weight == 10.0 / 15.0
    assert out["small"].weight == 5.0 / 15.0
    assert math.isclose(out["big"].alloc_tokens + out["small"].alloc_tokens, 1000.0)
    # alpha = 1 (alpha_log2=0) reproduces the raw token proportions
    raw = {r.src: r.weight for r in temperature_mixture(
        spark.createDataFrame(rows), "src", "text",
        alpha_log2=0, token_budget=1000,
    ).collect()}
    assert raw["big"] == 100.0 / 125.0
    with pytest.raises(ValueError, match="alpha_log2"):
        temperature_mixture(spark.createDataFrame(rows), "src", "text",
                            alpha_log2=-1)
    with pytest.raises(ValueError, match="token_budget"):
        temperature_mixture(spark.createDataFrame(rows), "src", "text",
                            token_budget=-5)


def test_temperature_mixture_empty_docs_count_zero(spark):
    """Empty/whitespace-only documents earn no tokens and no weight
    (review finding: split('') yields [''] in both engines — without
    the guard a source of 1000 empty docs would take budget)."""
    from openetlagent_spark.functions.curation import temperature_mixture

    rows = [
        Row(src="real", text="a b c"),
        Row(src="empty", text=""),
        Row(src="empty", text="   "),
    ]
    out = {r.src: r for r in temperature_mixture(
        spark.createDataFrame(rows), "src", "text", alpha_log2=1,
        token_budget=100,
    ).collect()}
    assert out["empty"].n_tokens == 0 and out["empty"].weight == 0.0
    assert out["real"].weight == 1.0 and out["real"].alloc_tokens == 100.0


# --- item_similarity / link_prediction (round 10 additions) ----------------


def test_item_similarity_known_cosine(spark):
    from openetlagent_spark.functions.mining import item_similarity

    # users: u1 {a,b}, u2 {a,b}, u3 {a,c}; duplicates must collapse
    rows = [(1, "a"), (1, "b"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "c"),
            (None, "a"), (4, None)]
    df = spark.createDataFrame(rows, "u bigint, i string")
    got = {(r.item_a, r.item_b): r for r in item_similarity(df, "u", "i").collect()}
    # |U_a|=3, |U_b|=2, |U_c|=1; a∩b=2, a∩c=1, b∩c=0 (no row)
    assert set(got) == {("a", "b"), ("a", "c")}
    assert got[("a", "b")].users_both == 2
    assert got[("a", "b")].cosine == 2.0 / math.sqrt(6.0)
    assert got[("a", "c")].cosine == 1.0 / math.sqrt(3.0)


def test_link_prediction_jaccard_and_topk(spark):
    from openetlagent_spark.functions.graph import link_prediction

    # groups: g1 {x,y}, g2 {x,y}, g3 {x,z}
    rows = [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x"), (3, "z")]
    df = spark.createDataFrame(rows, "g bigint, i string")
    out = link_prediction(df, "g", "i", k=10).collect()
    got = {(r.item_a, r.item_b): r for r in out}
    # deg x=3, y=2, z=1; co(x,y)=2 → j=2/(3+2-2)=2/3; co(x,z)=1 → j=1/3
    assert got[("x", "y")].jaccard == 2.0 / 3.0
    assert got[("x", "z")].jaccard == 1.0 / 3.0
    # ranked: best pair first
    assert (out[0].item_a, out[0].item_b) == ("x", "y")
    # k cut applies
    assert len(link_prediction(df, "g", "i", k=1).collect()) == 1
    with pytest.raises(ValueError):
        link_prediction(df, "g", "i", k=0)


def test_gini_known_distribution(spark):
    from openetlagent_spark.plans.analytics import q_gini_sources  # noqa: F401
    # direct formula check on a constructed frame via the same window
    # math: weights 1,1,2 → sorted ranks (1,1),(2,1),(3,2);
    # gini = 2*(1*1+2*1+3*2)/(3*4) - 4/3 = 18/12 - 4/3 = 1/6
    from pyspark.sql import functions as F
    import tempfile, os
    df = spark.createDataFrame(
        [("s1", "x" * 1), ("s2", "y" * 1), ("s3", "zz")],
        "source string, text string",
    ).withColumn("n_chars", F.length("text"))
    d = tempfile.mkdtemp()
    df.select("source", "n_chars").write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    rows = q_gini_sources(spark, d).collect()
    assert all(abs(r.gini - 1.0 / 6.0) < 1e-12 for r in rows)
    shares = {r.source: r.lorenz_share for r in rows}
    assert shares["s3"] == 1.0 and abs(shares["s2"] - 0.5) < 1e-12


def test_attribution_first_last_touch(spark):
    from openetlagent_spark.plans.analytics import q_attribution
    import tempfile, os
    rows = [
        # user 1: view -> click -> purchase -> error -> purchase
        (1, 1, "2024-01-01 10:00:00", "view", 1.0),
        (2, 1, "2024-01-01 10:05:00", "click", 1.0),
        (3, 1, "2024-01-01 10:10:00", "purchase", 9.0),
        (4, 1, "2024-01-01 10:15:00", "error", 1.0),
        (5, 1, "2024-01-01 10:20:00", "purchase", 9.0),
        # user 2: purchase with no preceding events
        (6, 2, "2024-01-01 11:00:00", "purchase", 5.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts string, event_type string, value double"
    ).select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
             "event_type", "value")
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    got = {r.event_id: r for r in q_attribution(spark, d).collect()}
    assert set(got) == {3, 5, 6}
    assert (got[3].first_touch, got[3].last_touch) == ("view", "click")
    # the second purchase skips the intermediate purchase, sees error last
    assert (got[5].first_touch, got[5].last_touch) == ("view", "error")
    assert got[6].first_touch is None and got[6].last_touch is None


def test_rfm_quintiles_deterministic(spark):
    from openetlagent_spark.plans.analytics import q_rfm_segments
    import tempfile, os
    # 10 users: user k has k events on day k with purchase value k
    rows = []
    eid = 0
    for k in range(1, 11):
        for j in range(k):
            eid += 1
            rows.append((eid, k, f"2024-01-{k:02d} 10:{j:02d}:00", "purchase", float(k)))
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts string, event_type string, value double"
    ).select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
             "event_type", "value")
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    got = {r.user_id: r for r in q_rfm_segments(spark, d).collect()}
    # 10 users into quintiles: users (1,2)->1 ... (9,10)->5 on ALL axes
    # (recency, frequency, monetary all increase with k)
    for k in range(1, 11):
        expected = (k + 1) // 2
        assert (got[k].r, got[k].f, got[k].m) == (expected,) * 3, (k, got[k])
    assert got[10].rfm == 555 and got[1].rfm == 111
    assert got[7].frequency == 7 and got[7].monetary == 49.0


def test_target_encode_loo_values(spark):
    from openetlagent_spark.functions.mining import target_encode_loo

    rows = [
        (1, "a", 10.0), (2, "a", 20.0), (3, "a", 30.0),  # a mean 20
        (4, "b", 100.0),                                   # singleton
        (5, "c", None),                                    # NULL target
    ]
    df = spark.createDataFrame(rows, "id bigint, cat string, y double")
    got = {r.id: r.te_loo for r in target_encode_loo(df, "cat", "y").collect()}
    assert got[1] == (20.0 + 30.0) / 2 and got[3] == (10.0 + 20.0) / 2
    # singleton falls back to global LOO mean over the OTHER rows
    assert got[4] == (10.0 + 20.0 + 30.0) / 3
    assert got[5] is None


def test_lift_table_sums_and_monotone_capture(spark):
    from openetlagent_spark.plans.analytics import q_lift_table

    rows = q_lift_table(spark, "/root/testdata/sf0.001").collect()
    rows.sort(key=lambda r: r.decile)
    assert [r.decile for r in rows] == list(range(1, len(rows) + 1))
    caps = [r.cum_capture for r in rows]
    assert all(b >= a for a, b in zip(caps, caps[1:]))
    assert abs(caps[-1] - 1.0) < 1e-12


def test_wow_growth_values(spark):
    from openetlagent_spark.plans.analytics import q_wow_growth
    import tempfile, os
    # type a: weeks 0,1,2 with 2,4,3 events -> growth NULL, 1.0, -0.25
    rows = []
    eid = 0
    for week, n in ((0, 2), (1, 4), (2, 3)):
        for i in range(n):
            eid += 1
            day = week * 7 + 1
            rows.append((eid, 1, f"1970-01-{day:02d} 0{i}:00:00", "a", 1.0))
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts string, event_type string, value double"
    ).select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
             "event_type", "value")
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    got = {r.week: r for r in q_wow_growth(spark, d).collect()}
    assert got[0].wow_growth is None
    assert got[1].wow_growth == 1.0
    assert got[2].wow_growth == -0.25


def test_growth_accounting_new_vs_returning(spark):
    from openetlagent_spark.plans.analytics import q_growth_accounting
    import tempfile, os
    # week 0: users 1,2 (both new); week 1: users 1 (returning), 3 (new)
    rows = []
    eid = 0
    for week, users in ((0, [1, 2]), (1, [1, 3])):
        for u in users:
            eid += 1
            day = week * 7 + 1
            rows.append((eid, u, f"1970-01-{day:02d} 10:00:00", "view", 1.0))
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts string, event_type string, value double"
    ).select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
             "event_type", "value")
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    got = {r.week: r for r in q_growth_accounting(spark, d).collect()}
    assert (got[0].n_active, got[0].n_new, got[0].n_returning) == (2, 2, 0)
    assert (got[1].n_active, got[1].n_new, got[1].n_returning) == (2, 1, 1)
