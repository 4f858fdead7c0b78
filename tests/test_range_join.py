"""Range-join tests: bucketed expansion must equal the brute-force
inequality join exactly."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from openetlagent_spark.functions.range_join import (
    point_in_interval_join,
    within_tolerance_pairs,
)


def test_within_tolerance_matches_bruteforce(spark):
    rows = [
        Row(uid=1, eid=1, t=0.0),
        Row(uid=1, eid=2, t=59.0),     # within 60 of eid 1
        Row(uid=1, eid=3, t=61.0),     # within 60 of eid 2, NOT eid 1
        Row(uid=1, eid=4, t=500.0),    # alone
        Row(uid=2, eid=5, t=0.0),      # other key
        Row(uid=2, eid=6, t=60.0),     # exactly at tolerance -> match
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r.id_a, r.id_b)
        for r in within_tolerance_pairs(df, key="uid", time_col="t", id_col="eid", tolerance=60.0).collect()
    }
    # brute force
    a, b = df.alias("a"), df.alias("b")
    brute = {
        (r.id_a, r.id_b)
        for r in a.join(
            b,
            (F.col("a.uid") == F.col("b.uid"))
            & (F.col("a.eid") < F.col("b.eid"))
            & (F.abs(F.col("a.t") - F.col("b.t")) <= 60.0),
        )
        .select(F.col("a.eid").alias("id_a"), F.col("b.eid").alias("id_b"))
        .collect()
    }
    assert got == brute == {(1, 2), (2, 3), (5, 6)}


def test_point_in_interval_join(spark):
    points = spark.createDataFrame(
        [Row(k=1, pid=1, t=50.0), Row(k=1, pid=2, t=150.0), Row(k=2, pid=3, t=50.0)]
    )
    intervals = spark.createDataFrame(
        [
            Row(k=1, name="early", s=0.0, e=100.0),
            Row(k=1, name="late", s=100.0, e=200.0),
            Row(k=2, name="other", s=0.0, e=10.0),  # misses pid 3
        ]
    )
    out = point_in_interval_join(
        points,
        intervals,
        left_on="k",
        right_on="k",
        time_col="t",
        start_col="s",
        end_col="e",
        value_columns=["name"],
        bucket_width=60.0,
    )
    got = {(r.pid, r.name) for r in out.collect()}
    assert got == {(1, "early"), (2, "late")}


def test_point_in_interval_rejects_pathological_span(spark):
    points = spark.createDataFrame([Row(k=1, pid=1, t=5.0)])
    intervals = spark.createDataFrame([Row(k=1, name="huge", s=0.0, e=1e9)])
    out = point_in_interval_join(
        points, intervals, left_on="k", right_on="k", time_col="t",
        start_col="s", end_col="e", value_columns=["name"],
        bucket_width=1.0, max_interval_buckets=1000,
    )
    with pytest.raises(Exception, match="spans more than"):
        out.collect()


# --- interval_overlap_join (round 10) -----------------------------------------


def test_interval_overlap_join_exact_and_distinct(spark):
    """Pairs spanning MANY shared buckets still emit exactly once (the
    canonical-bucket condition), with exact integer overlap lengths."""
    from pyspark.sql import Row

    from openetlagent_spark.functions.range_join import interval_overlap_join

    left = spark.createDataFrame(
        [
            Row(k=1, lid=10, s=0.0, e=10_000.0),     # spans many 600s buckets
            Row(k=1, lid=11, s=500.0, e=600.0),
            Row(k=2, lid=20, s=0.0, e=100.0),
            Row(k=None, lid=30, s=0.0, e=100.0),     # NULL key excluded
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k=1, rid=100, s=9_500.0, e=12_000.0),  # overlaps lid=10 only
            Row(k=1, rid=101, s=550.0, e=560.0),       # inside 10 AND 11
            Row(k=2, rid=200, s=200.0, e=300.0),       # same key, no overlap
        ]
    )
    out = interval_overlap_join(
        left, right,
        key="k", left_id="lid", right_id="rid",
        left_start="s", left_end="e", right_start="s", right_end="e",
        bucket_width_seconds=600.0,
    ).collect()
    got = {(r.k, r.lid, r.rid): r.overlap_us for r in out}
    assert got == {
        (1, 10, 100): 500_000_000,   # [9500, 10000] = 500 s
        (1, 10, 101): 10_000_000,    # [550, 560]
        (1, 11, 101): 10_000_000,
    }
    assert len(out) == len(got)  # distinct by construction, no dup rows


def test_interval_overlap_join_refuses_degenerate_span(spark):
    import pytest as _pytest
    from pyspark.sql import Row

    from openetlagent_spark.functions.range_join import interval_overlap_join

    left = spark.createDataFrame([Row(k=1, lid=1, s=0.0, e=1e12)])
    right = spark.createDataFrame([Row(k=1, rid=2, s=0.0, e=1.0)])
    with _pytest.raises(Exception, match="spans more than"):
        interval_overlap_join(
            left, right,
            key="k", left_id="lid", right_id="rid",
            left_start="s", left_end="e", right_start="s", right_end="e",
            bucket_width_seconds=1.0, max_interval_buckets=100,
        ).collect()


RANGE_JOIN_KINDS = {
    "tolerance": {"key": "k", "time_column": "t", "id_column": "i"},
    "interval": {
        "right_file_path": "r", "left_on": "k", "right_on": "k", "time_column": "t",
        "start_column": "s", "end_column": "e", "value_columns": ["v"],
    },
    "overlap": {
        "right_file_path": "r", "key": "k", "left_id_column": "a", "right_id_column": "b",
        "left_start_column": "ls", "left_end_column": "le", "start_column": "s",
        "end_column": "e",
    },
}


@pytest.mark.parametrize("kind", sorted(RANGE_JOIN_KINDS))
@pytest.mark.parametrize("field", ["tolerance", "bucket_width"])
@pytest.mark.parametrize("value", [float("nan"), 0, -1])
def test_range_join_refuses_non_positive_widths_under_every_kind(kind, field, value):
    from openetlagent_spark.model import SpecError, parse_operation

    raw = {"operation_type": "range_join", "kind": kind, **RANGE_JOIN_KINDS[kind]}
    assert parse_operation(dict(raw)).kind == kind
    with pytest.raises(
        SpecError, match=rf"^range_join {field} must be positive, got {value!r}$"
    ):
        parse_operation({**raw, field: value})
