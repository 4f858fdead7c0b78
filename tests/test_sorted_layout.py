"""Range-sorted write layout (sources/io.py write_sorted): the parquet
footers must prove the scale story — disjoint per-file key ranges,
sorted row groups, and quantified row-group skipping for a narrow
predicate vs an unsorted layout."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from openetlagent_spark.sources import write_sorted
from openetlagent_spark.streaming import read_event_table

SF_DIR = "/root/testdata/sf0.001"


def _rg_ranges(path_glob: str, col: str):
    """[(min, max)] for every row group of every file under the glob."""
    ranges = []
    for f in sorted(glob.glob(path_glob)):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.to_arrow_schema().names.index(col)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            ranges.append((f, st.min, st.max))
    return ranges


def _file_ranges(path_glob: str, col: str):
    per_file: dict[str, tuple] = {}
    for f, lo, hi in _rg_ranges(path_glob, col):
        cur = per_file.get(f)
        per_file[f] = (
            (lo, hi) if cur is None else (min(cur[0], lo), max(cur[1], hi))
        )
    return list(per_file.values())


def test_sorted_layout_disjoint_files_and_skipping(spark, tmp_path):
    ev = read_event_table(spark, f"{SF_DIR}/events.parquet").select(
        "event_id", "user_id", "ts", "value"
    )
    sorted_path = str(tmp_path / "sorted")
    unsorted_path = str(tmp_path / "unsorted")
    write_sorted(ev, sorted_path, ["ts"], num_files=8)
    # unsorted control: same data, hash-scattered across the same count
    ev.repartition(8).write.mode("overwrite").parquet(unsorted_path)

    # 1. files own disjoint ts ranges (range partitioner boundaries)
    franges = sorted(_file_ranges(f"{sorted_path}/part-*.parquet", "ts"))
    assert len(franges) > 2
    for (_, hi_prev), (lo_next, _) in zip(franges, franges[1:]):
        assert hi_prev <= lo_next

    # 2. row groups inside each file are sorted (monotonic mins)
    by_file: dict[str, list] = {}
    for f, lo, hi in _rg_ranges(f"{sorted_path}/part-*.parquet", "ts"):
        by_file.setdefault(f, []).append((lo, hi))
    for rgs in by_file.values():
        mins = [lo for lo, _ in rgs]
        assert mins == sorted(mins)

    # 3. quantified pruning: a narrow ts window (~5 % of the span)
    #    intersects few sorted row groups but nearly all unsorted ones
    all_sorted = _rg_ranges(f"{sorted_path}/part-*.parquet", "ts")
    all_unsorted = _rg_ranges(f"{unsorted_path}/part-*.parquet", "ts")
    lo = min(r[1] for r in all_sorted)
    hi = max(r[2] for r in all_sorted)
    span = hi - lo
    w_lo, w_hi = lo + span * 0.50, lo + span * 0.55

    def hit(ranges):
        return sum(1 for _, a, b in ranges if not (b < w_lo or a > w_hi))

    sorted_frac = hit(all_sorted) / len(all_sorted)
    unsorted_frac = hit(all_unsorted) / len(all_unsorted)
    assert sorted_frac <= 0.35
    assert unsorted_frac >= 0.9  # hash layout: every row group spans ~everything
    assert sorted_frac < unsorted_frac / 2

    # 4. round trip: the filtered read-back agrees with the source, and
    #    the predicate reaches the scan (PushedFilters in the plan)
    back = spark.read.parquet(sorted_path).filter(
        (F.col("ts") >= F.lit(w_lo)) & (F.col("ts") <= F.lit(w_hi))
    )
    want = ev.filter((F.col("ts") >= F.lit(w_lo)) & (F.col("ts") <= F.lit(w_hi)))
    assert back.count() == want.count()
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "IsNotNull(ts)" in plan


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Morton-code clustering (write_zorder) must bound EVERY z-ordered
    dimension per file: a narrow predicate on either column alone
    skips files, and a 2-D box predicate skips nearly all of them —
    which a single-column sort cannot do for the second dimension."""
    from openetlagent_spark.sources import write_zorder

    ev = read_event_table(spark, f"{SF_DIR}/events.parquet").select(
        "event_id", "user_id", "ts", "value"
    )
    zpath = str(tmp_path / "z")
    upath = str(tmp_path / "u")
    write_zorder(ev, zpath, ["user_id", "value"], num_files=16)
    ev.repartition(16).write.mode("overwrite").parquet(upath)

    # lossless rewrite
    assert spark.read.parquet(zpath).count() == ev.count()
    stats = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
    ).collect()[0]
    ulo, uhi, vlo, vhi = stats

    def window(lo, hi, a, b):
        span = hi - lo
        return lo + span * a, lo + span * b

    def hit_frac(pat, col, w):
        r = _rg_ranges(pat, col)
        return sum(1 for _, a, b in r if not (b < w[0] or a > w[1])) / len(r)

    uw = window(ulo, uhi, 0.50, 0.55)
    vw = window(vlo, vhi, 0.50, 0.55)
    # each single dimension prunes vs the hash layout
    assert hit_frac(f"{zpath}/part-*.parquet", "user_id", uw) <= 0.7
    assert hit_frac(f"{zpath}/part-*.parquet", "value", vw) <= 0.5
    assert hit_frac(f"{upath}/part-*.parquet", "user_id", uw) >= 0.85
    assert hit_frac(f"{upath}/part-*.parquet", "value", vw) >= 0.85

    # the 2-D box predicate touches almost nothing
    uw2 = window(ulo, uhi, 0.50, 0.60)
    vw2 = window(vlo, vhi, 0.50, 0.60)
    ru = dict(
        (f, (a, b)) for f, a, b in _rg_ranges(f"{zpath}/part-*.parquet", "user_id")
    )
    rv = dict(
        (f, (a, b)) for f, a, b in _rg_ranges(f"{zpath}/part-*.parquet", "value")
    )
    box_hits = sum(
        1
        for f in ru
        if not (ru[f][1] < uw2[0] or ru[f][0] > uw2[1])
        and not (rv[f][1] < vw2[0] or rv[f][0] > vw2[1])
    )
    assert box_hits / len(ru) <= 0.25

    # filtered read-back agrees with the source
    pred = (
        (F.col("user_id") >= F.lit(uw2[0]))
        & (F.col("user_id") <= F.lit(uw2[1]))
        & (F.col("value") >= F.lit(vw2[0]))
        & (F.col("value") <= F.lit(vw2[1]))
    )
    assert spark.read.parquet(zpath).filter(pred).count() == ev.filter(pred).count()


def test_sorted_layout_orc_and_bad_format(spark, tmp_path):
    ev = read_event_table(spark, f"{SF_DIR}/events.parquet").limit(100)
    write_sorted(ev, str(tmp_path / "o"), ["ts"], fmt="orc", num_files=2)
    assert spark.read.orc(str(tmp_path / "o")).count() == 100
    import pytest

    with pytest.raises(NotImplementedError):
        write_sorted(ev, str(tmp_path / "x"), ["ts"], fmt="avro")


def test_write_sized_hits_target_and_is_lossless(spark, tmp_path):
    """Sizing must actually produce MULTIPLE near-target files for a
    frame larger than the target (a vacuous 1-file result would let a
    broken rows_per_file formula pass), one file for a huge target,
    and both rewrites must be lossless.  Incompressible payloads make
    encoded size predictable: ~200k rows x ~110 B ≈ 20+ MB."""
    from openetlagent_spark.sources.io import write_sized

    df = spark.range(200_000).selectExpr(
        "id",
        "md5(CAST(id AS STRING)) AS h1",
        "md5(CAST(id + 1 AS STRING)) AS h2",
        "md5(CAST(id + 2 AS STRING)) AS h3",
        "id * 1.5 AS v",
    )
    small = str(tmp_path / "small")
    n_small = write_sized(df, small, target_mb=4)
    import os

    files = [f for f in os.listdir(small) if f.endswith(".parquet")]
    assert len(files) == n_small >= 3  # the multi-file path is real
    sizes = [os.path.getsize(os.path.join(small, f)) for f in files]
    # every file within [1/4x, 3x] of the 4 MB target
    assert all(1 * 1024 * 1024 < sz < 12 * 1024 * 1024 for sz in sizes), sizes
    back = spark.read.parquet(small)
    assert back.count() == 200_000
    assert back.selectExpr("sum(v)").first()[0] == df.selectExpr("sum(v)").first()[0]

    one = str(tmp_path / "one")
    assert write_sized(df, one, target_mb=1024) == 1
    assert len([f for f in os.listdir(one) if f.endswith(".parquet")]) == 1


def test_write_sized_empty_and_validation(spark, tmp_path):
    from openetlagent_spark.sources.io import write_sized

    empty = spark.range(0).selectExpr("id")
    assert write_sized(empty, str(tmp_path / "e"), target_mb=64) == 0
    assert spark.read.parquet(str(tmp_path / "e")).count() == 0
    with pytest.raises(ValueError):
        write_sized(empty, str(tmp_path / "x"), target_mb=0)
    with pytest.raises(ValueError):
        write_sized(empty, str(tmp_path / "x"), sample_rows=0)
    with pytest.raises(NotImplementedError):
        write_sized(empty, str(tmp_path / "x"), fmt="avro")
