"""Unit tests for the as-of join (single-shuffle union/window design)."""

from __future__ import annotations

from pyspark.sql import Row

from openetlagent_spark.functions.asof import asof_join


def _trades(spark):
    return spark.createDataFrame(
        [
            Row(sym="A", t=10.0, qty=1),
            Row(sym="A", t=20.0, qty=2),
            Row(sym="A", t=5.0, qty=3),   # before any quote
            Row(sym="B", t=10.0, qty=4),
        ]
    )


def _quotes(spark):
    return spark.createDataFrame(
        [
            Row(sym="A", qt=8.0, px=100.0),
            Row(sym="A", qt=15.0, px=110.0),
            Row(sym="A", qt=20.0, px=120.0),  # exactly at trade time
            Row(sym="B", qt=50.0, px=200.0),  # only after B's trade
        ]
    )


def test_asof_backward(spark):
    out = asof_join(
        _trades(spark),
        _quotes(spark),
        left_on="sym",
        right_on="sym",
        left_time="t",
        right_time="qt",
        value_columns=["px"],
    )
    got = {(r.sym, r.t): (r.px_asof, r.qt_asof) for r in out.collect()}
    assert got[("A", 10.0)] == (100.0, 8.0)
    assert got[("A", 20.0)] == (120.0, 20.0)  # tie: right at exactly t matches
    assert got[("A", 5.0)] == (None, None)    # no earlier quote
    assert got[("B", 10.0)] == (None, None)
    assert out.count() == 4  # every left row survives exactly once


def test_asof_forward(spark):
    out = asof_join(
        _trades(spark),
        _quotes(spark),
        left_on="sym",
        right_on="sym",
        left_time="t",
        right_time="qt",
        value_columns=["px"],
        direction="forward",
    )
    got = {(r.sym, r.t): (r.px_asof, r.qt_asof) for r in out.collect()}
    assert got[("A", 10.0)] == (110.0, 15.0)
    assert got[("A", 20.0)] == (120.0, 20.0)  # tie matches forward too
    assert got[("A", 5.0)] == (100.0, 8.0)
    assert got[("B", 10.0)] == (200.0, 50.0)


def test_asof_tolerance_nulls_stale_matches(spark):
    from openetlagent_spark.functions.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100.0), (1, 1000.0)], "k long, t double"
    )
    right = spark.createDataFrame(
        [(1, 90.0, "fresh"), (1, 10.0, "stale")], "k long, t double, v string"
    )
    out = asof_join(
        left, right, left_on="k", right_on="k", left_time="t", right_time="t",
        value_columns=["v"], tolerance=60.0,
    )
    rows = {r.t: (r.t_asof, r.v_asof) for r in out.collect()}
    # t=100 matches t=90 (dt 10 <= 60); t=1000's best match t=90 is 910s
    # stale -> reverts to no-match
    assert rows[100.0] == (90.0, "fresh")
    assert rows[1000.0] == (None, None)


def test_asof_tolerance_flow_op_validates(spark):
    import pytest

    from openetlagent_spark.model import AsofJoinOperation, SpecError

    with pytest.raises(SpecError, match="tolerance must be >= 0"):
        AsofJoinOperation(
            right_file_path="x", left_on="k", right_on="k",
            left_time="t", right_time="t", value_columns=["v"], tolerance=-1.0,
        )


def test_asof_tolerance_rejects_nan(spark):
    import math

    import pytest

    from openetlagent_spark.functions.asof import asof_join
    from openetlagent_spark.model import AsofJoinOperation, SpecError

    left = spark.createDataFrame([(1, 1.0)], "k long, t double")
    with pytest.raises(ValueError):
        asof_join(
            left, left, left_on="k", right_on="k", left_time="t", right_time="t",
            value_columns=[], tolerance=math.nan,
        )
    with pytest.raises(SpecError, match="tolerance must be >= 0"):
        AsofJoinOperation(
            right_file_path="x", left_on="k", right_on="k",
            left_time="t", right_time="t", value_columns=["v"], tolerance=math.nan,
        )
