"""Round-14 optimization pins: guard hardening from the r13 ADVICE
(the Lloyd fast-path domain bounds and the connected-components
step-budget entry guard)."""

from __future__ import annotations

import pytest

from openetlagent_spark.functions.similarity import _lloyd, _lloyd_reference


def test_lloyd_float_sample_defers_to_reference():
    # asarray(dtype=int64) would TRUNCATE 1.5 -> 1 silently; the fast
    # path must defer non-integral dtypes to the reference loop, whose
    # float(v) init and exact rationals define the semantics
    sample = [[1.5, 2.0], [3.0, 4.5], [0.5, 0.5], [2.5, 2.5]]
    cents_fast, rats_fast = _lloyd(sample, 2, 2)
    cents_ref, rats_ref = _lloyd_reference(sample, 2, 2)
    assert cents_fast == cents_ref
    assert rats_fast == rats_ref


def test_lloyd_sum_overflow_bound_falls_back():
    # per-element values just under the 2^52 grid bound, but enough
    # rows that a cluster SUM would cross 2^53: np.add.at would wrap
    # or the float64 cast would round — must take the reference loop,
    # whose big-int s/cnt stays correctly rounded
    v = (1 << 52) - 1
    sample = [[v, v]] * 8 + [[0, 0], [1, 1]]
    cents_fast, rats_fast = _lloyd(sample, 2, 3)
    cents_ref, rats_ref = _lloyd_reference(sample, 2, 3)
    assert cents_fast == cents_ref
    assert rats_fast == rats_ref


def test_lloyd_int64_min_edge_falls_back():
    # np.abs(-2^63) wraps to -2^63 in int64; the bound check must not
    # be fooled by it (int() of the scalar is arbitrary-precision)
    lo = -(1 << 63)
    sample = [[lo, 0], [0, 1], [5, 5], [6, 6]]
    cents_fast, rats_fast = _lloyd(sample, 2, 2)
    cents_ref, rats_ref = _lloyd_reference(sample, 2, 2)
    assert cents_fast == cents_ref
    assert rats_fast == rats_ref


def test_cc_zero_budget_raises(spark):
    from openetlagent_spark.functions.graph import connected_components

    edges = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    with pytest.raises(ValueError, match="max_iter must be >= 1"):
        connected_components(edges, max_iter=0)


# --- r14 CC cycle-depth schedule -------------------------------------------
#
# connected_components now chains a SCHEDULE of pushes per
# materialize+probe cycle ("auto": 2, 2, then 4s) instead of a fixed 2.
# The step-budget contract is unchanged: the result is the label state
# after EXACTLY max_iter pushes on truncated graphs, so every depth and
# budget must match the unrolled oracle push for push.

import duckdb

from openetlagent_spark.functions.graph import (
    components_oracle_sql,
    connected_components,
)


def _cc_depth_vs_oracle(spark, edges_rows, max_iter, steps_per_cycle):
    df = spark.createDataFrame(edges_rows, "id_a bigint, id_b bigint")
    got = sorted(
        (r["node"], r["component"])
        for r in connected_components(
            df, max_iter=max_iter, steps_per_cycle=steps_per_cycle
        ).collect()
    )
    con = duckdb.connect()
    vals = ", ".join(f"({a}, {b})" for a, b in edges_rows)
    pairs_sql = f"SELECT * FROM (VALUES {vals}) AS t(id_a, id_b)"
    sql = components_oracle_sql(pairs_sql, rounds=max_iter)
    want = sorted((int(r[0]), int(r[1])) for r in con.execute(sql).fetchall())
    assert got == want


def test_cc_depth_schedules_match_oracle_truncated(spark):
    # 40-node path: diameter 39 >> every budget, so each (budget,
    # depth) pair exercises the truncated state, including remainder
    # pushes (e.g. budget 7 auto = init + 2 + 2 + remainder 2; budget
    # 9 at depth 4 = init + 4 + 4)
    path = [(i, i + 1) for i in range(40)]
    for budget in (2, 3, 6, 7, 9, 12):
        for depth in (1, 3, 4, "auto"):
            _cc_depth_vs_oracle(spark, path, budget, depth)


def test_cc_depth_schedules_match_on_converged(spark):
    # shallow multi-component graph: every depth must land on the same
    # fixpoint the oracle converges to
    edges = (
        [(i, i + 1) for i in range(4)]
        + [(100, 101), (101, 102), (100, 102)]
    )
    for depth in (1, 2, 4, "auto"):
        _cc_depth_vs_oracle(spark, edges, 25, depth)


# --- r14 ewma Arrow fold (volume-gated) -------------------------------------


def test_ewma_arrow_fold_bit_identical(spark):
    # the Arrow kernel replays the JVM HOF fold's exact per-element op
    # sequence (a*x + (1-a)*acc, float64), so full results must be
    # BIT-identical — including ragged early windows (< lookback rows)
    # and alpha values that are not exact binary fractions
    from openetlagent_spark.functions.timeseries import ewma_smooth

    rows = [
        ("k%d" % (i % 7), i, i * 31 % 101, float(i % 13) / 7.0)
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "key string, ts bigint, event_id bigint, value double")
    kwargs = dict(alpha_num=3, alpha_den=7, lookback=5)
    jvm = ewma_smooth(df, "key", "ts", "event_id", "value", engine="jvm", **kwargs).collect()
    arrow = ewma_smooth(df, "key", "ts", "event_id", "value", engine="arrow", **kwargs).collect()
    assert len(jvm) == len(arrow) == 2000
    for r_j, r_a in zip(jvm, arrow):
        assert r_j == r_a  # == on float is exact equality


def test_ewma_auto_gate_uses_jvm_below_threshold(spark):
    # a tiny frame must stay all-JVM: no ArrowEvalPython / MapInArrow
    # node below the volume gate (the r13 posture: Python only off the
    # hot path at toy scale)
    from openetlagent_spark.functions.timeseries import ewma_smooth

    df = spark.createDataFrame(
        [("a", 1, 1, 1.0), ("a", 2, 2, 2.0)],
        "key string, ts bigint, event_id bigint, value double",
    )
    plan = ewma_smooth(df, "key", "ts", "event_id", "value")._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan and "ArrowEval" not in plan and "BatchEval" not in plan


def test_ewma_bad_engine_raises(spark):
    from openetlagent_spark.functions.timeseries import ewma_smooth

    df = spark.createDataFrame(
        [("a", 1, 1, 1.0)], "key string, ts bigint, event_id bigint, value double"
    )
    with pytest.raises(ValueError, match="engine"):
        ewma_smooth(df, "key", "ts", "event_id", "value", engine="numpy")


# --- r14 corpus-gated unrolled verify cosine --------------------------------


def test_cosine_unrolled_bit_identical(spark):
    # the unrolled chain must equal the HOF fold BIT-for-bit on valid
    # rows and route NULL/ragged rows through the HOF branch itself —
    # including NULL elements inside valid-length arrays and zero norms
    from pyspark.sql import functions as F

    from openetlagent_spark.functions.similarity import (
        cosine_expr,
        cosine_expr_unrolled,
    )

    rows = [
        ([1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),          # plain
        ([0.1, -0.2, 0.3], [-0.4, 0.5, -0.6]),       # signs
        ([1e-300, 2e150, -3.0], [5e-9, 1e308, 2.0]), # extreme magnitudes
        ([0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),          # zero norm -> NULL
        ([1.0, None, 3.0], [4.0, 5.0, 6.0]),         # NULL element
        (None, [1.0, 2.0, 3.0]),                     # NULL vector
        ([1.0, 2.0], [4.0, 5.0, 6.0]),               # ragged -> HOF branch
        ([7.0, 8.0, 9.0, 10.0], [1.0, 2.0, 3.0, 4.0]),  # ragged both (len 4)
    ]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    out = df.select(
        cosine_expr(F.col("a"), F.col("b")).alias("hof"),
        cosine_expr_unrolled(F.col("a"), F.col("b"), 3).alias("unrolled"),
    ).collect()
    import math

    for r in out:
        h, u = r["hof"], r["unrolled"]
        if h is None or u is None:
            assert h is None and u is None
        elif math.isnan(h) or math.isnan(u):
            # inf/inf from the extreme-magnitude row: both folds must
            # overflow identically
            assert math.isnan(h) and math.isnan(u)
        else:
            assert h == u  # exact float equality


def test_embedding_pairs_unroll_gate(spark):
    # below the corpus gate the verify plan must contain no element_at
    # unroll (the HOF aggregate only); the gate keys on corpus_count
    from openetlagent_spark.functions import dedup as D

    df = spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0, 0.5]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )
    small = D.embedding_neardup_pairs(
        df, "vec_id", "embedding", n_planes=4, dim=4,
        corpus_count=40,
    )
    plan_small = small._jdf.queryExecution().optimizedPlan().toString()
    big = D.embedding_neardup_pairs(
        df, "vec_id", "embedding", n_planes=4, dim=4,
        corpus_count=D._UNROLL_MIN_CORPUS,
    )
    plan_big = big._jdf.queryExecution().optimizedPlan().toString()
    # the unrolled form adds the per-row validity CASE WHEN guard (the
    # element chain prints as bracket indexing); the HOF-only form has
    # one fewer
    assert plan_big.count("CASE WHEN") > plan_small.count("CASE WHEN")
    assert "aggregate(zip_with" in plan_small
    # results identical regardless of the gate
    a = sorted(map(tuple, small.collect()))
    b = sorted(map(tuple, big.collect()))
    assert a == b
