"""Driver-side work of the ANN store lifecycle: store layers read on the
driver (no Spark job), centroid literals as one folded node, the probed
cid set observed on the materializing job, the one-sort hash sample, and
the job budget these keep for ``q_ann_store_append``."""

from __future__ import annotations

import os
import struct
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pytest
from pyspark.sql import functions as F

from openetlagent_spark.functions.similarity import (
    _array_literal,
    _hash_sample,
    _probe_lists,
    _read_ann_store_header,
    _read_store_layer,
    ann_from_store,
    build_ann_store,
)
from openetlagent_spark.sources.io import read_parquet_on_driver

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _bits(rows):
    """Rows as comparable text that tells -0.0 from 0.0."""
    return sorted(repr(r) for r in rows)


# --- read_parquet_on_driver ------------------------------------------------


def _reference(spark, path):
    return [r.asDict(recursive=True) for r in spark.read.parquet(path).collect()]


def test_driver_parquet_read_skips_success_and_crc_files(spark, tmp_path):
    path = str(tmp_path / "centroids")
    spark.createDataFrame(
        [(0, [5e-324, -0.0, 1e308]), (1, [-1e308, 0.1, None]), (2, None)],
        "cid int, cen array<double>",
    ).coalesce(1).write.parquet(path)
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    got, jobs = _jobs_in_group(
        spark, "driver_read", lambda: read_parquet_on_driver(spark, path).to_pylist()
    )
    assert jobs == 0
    assert _bits(got) == _bits(_reference(spark, path))


def test_driver_parquet_read_several_part_files(spark, tmp_path):
    path = str(tmp_path / "codebooks")
    spark.createDataFrame(
        [(s, c, [float(s * 100 + c), 0.5]) for s in range(4) for c in range(8)],
        "sub int, code int, cw array<double>",
    ).repartition(3).write.parquet(path)
    assert sum(n.startswith("part-") for n in os.listdir(path)) == 3
    got = read_parquet_on_driver(spark, path).to_pylist()
    assert _bits(got) == _bits(_reference(spark, path))


def test_driver_parquet_read_pq_meta(spark, tmp_path):
    path = str(tmp_path / "meta")
    spark.createDataFrame(
        [(20, 16, 8, 16)], "scale_bits int, n_centroids int, m int, k_codes int"
    ).write.parquet(path)
    got = read_parquet_on_driver(spark, path).to_pylist()
    assert got == _reference(spark, path)
    assert got == [{"scale_bits": 20, "n_centroids": 16, "m": 8, "k_codes": 16}]


def test_driver_parquet_read_empty_and_missing_are_named(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
        spark.read.parquet(str(empty)).collect()
    with pytest.raises(ValueError, match="no data files"):
        read_parquet_on_driver(spark, str(empty))
    with pytest.raises(FileNotFoundError, match="PATH_NOT_FOUND"):
        read_parquet_on_driver(spark, str(tmp_path / "nope"))


@pytest.mark.parametrize(
    "schema, column",
    [("cid bigint, cen array<double>", "cid"), ("cid int, cen array<float>", "cen"),
     ("cid int", "cen")],
)
def test_store_layer_column_types_are_checked(spark, tmp_path, schema, column):
    store = str(tmp_path / "store")
    row = (0, [1.0]) if "cen" in schema else (0,)
    spark.createDataFrame([row], schema).write.parquet(f"{store}/centroids")
    with pytest.raises(ValueError, match=f"centroids column '{column}'"):
        _read_store_layer(spark, store, "centroids")


def test_store_header_read_launches_no_job(spark, tmp_path):
    emb = spark.read.parquet(f"{SF_DIRS[0]}/embeddings.parquet")
    store = str(tmp_path / "store")
    build_ann_store(emb, store, n_centroids=8, iters=2, sample_size=256)
    header, jobs = _jobs_in_group(
        spark, "header_read", lambda: _read_ann_store_header(spark, store)
    )
    assert jobs == 0
    bits, n_cent, cents, meta = header
    assert (bits, n_cent, meta) == (20, 8, {"scale_bits": 20, "n_centroids": 8})
    ref = sorted(_reference(spark, f"{store}/centroids"), key=lambda r: r["cid"])
    assert _bits(cents) == _bits([r["cen"] for r in ref])


# --- _array_literal -----------------------------------------------------------


def _sql_text_literal(values):
    """The SQL-text builder _array_literal replaced: array(array(…D))."""

    def fmt(v):
        if isinstance(v, (list, tuple, np.ndarray)):
            return "array(" + ",".join(fmt(x) for x in v) + ")"
        return f"{float(v)!r}D"

    return F.expr(fmt(values))


def _flat_bytes(v):
    if isinstance(v, list):
        return [b for x in v for b in _flat_bytes(x)]
    return [struct.pack("<d", v)]


SPECIAL = [5e-324, 2.2250738585072014e-308, 1e-310, 0.0, -0.0, 1e308, -1e308,
           1.7976931348623157e308, 0.1, -2.5, 1 / 3]


@pytest.mark.parametrize(
    "values",
    [
        SPECIAL,
        [SPECIAL, SPECIAL[::-1]],
        [[SPECIAL[:4], SPECIAL[4:8]], [SPECIAL[8:] + [1.0], SPECIAL[:4]]],
        np.random.RandomState(7).randn(16, 64),
        np.random.RandomState(8).randn(2, 3, 4) * 1e-300,
        [1, 2, 3],
    ],
    ids=["depth1", "depth2", "depth3", "numpy16x64", "numpy3d_tiny", "ints"],
)
def test_array_literal_bit_identical_to_sql_text(spark, values):
    df = spark.range(1).select(
        _array_literal(values).alias("new"), _sql_text_literal(values).alias("old")
    )
    row = df.first()
    assert _flat_bytes(row["new"]) == _flat_bytes(row["old"])
    plan = df._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "from_json" not in plan and "jsontostructs" not in plan


def test_array_literal_refuses_non_finite():
    with pytest.raises(ValueError, match="non-finite"):
        _array_literal([[1.0, float("nan")]])


# --- probed cids through an Observation --------------------------------------


@pytest.mark.parametrize("mode", ["localCheckpoint", "checkpoint"])
def test_observed_probed_set_matches_distinct(spark, tmp_path, mode):
    key = "spark.openetlagent.materialize"
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    frame = (
        spark.range(300)
        .filter(F.col("id") % 5 != 0)
        .select("id", F.explode(F.array(F.col("id") % 11, F.col("id") % 17 + 20)).alias("cid"))
    )
    spark.conf.set(key, mode)
    try:
        q, probed = _probe_lists(frame)
        want = sorted(r["cid"] for r in q.select("cid").distinct().collect())
    finally:
        spark.conf.unset(key)
    assert probed == want
    assert len(want) == 28


@pytest.mark.parametrize("mode", ["checkpoint"])
def test_ann_from_store_same_in_every_materialize_mode(spark, tmp_path, mode):
    emb = spark.read.parquet(f"{SF_DIRS[0]}/embeddings.parquet")
    store = str(tmp_path / "store")
    build_ann_store(emb, store, n_centroids=8, iters=2, sample_size=256)
    queries = emb.filter("vec_id < 12")
    want = ann_from_store(spark, store, queries, k=5, nprobe=2).collect()
    key = "spark.openetlagent.materialize"
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set(key, mode)
    try:
        got = ann_from_store(spark, store, queries, k=5, nprobe=2).collect()
    finally:
        spark.conf.unset(key)
    assert _bits(got) == _bits(want)


def test_concurrent_probes_get_their_own_sets(spark):
    def probe(lo):
        frame = spark.range(lo, lo + 200).select((F.col("id") % 7 + lo).alias("cid"))
        return _probe_lists(frame)[1]

    with ThreadPoolExecutor(max_workers=2) as pool:
        for _ in range(3):
            a, b = pool.map(probe, [0, 100])
            assert a == list(range(7)) and b == list(range(100, 107))


# --- _hash_sample --------------------------------------------------------------


def _two_sort_sample(corpus, sample_size, scale_bits=20):
    """The former _hash_sample: (h, id) order re-pinned by a second orderBy."""
    from openetlagent_spark.functions.clustering import _quantize

    rows = (
        corpus.filter(F.col("embedding").isNotNull())
        .select(
            F.col("vec_id").alias("__id__"),
            F.col("embedding").alias("__v__"),
            F.md5(F.col("vec_id").cast("string")).alias("__h__"),
        )
        .orderBy("__h__", "__id__")
        .limit(sample_size)
        .select("__id__", "__h__", _quantize(F.col("__v__"), scale_bits).alias("xq"))
        .orderBy("__h__", "__id__")
        .collect()
    )
    return [list(r["xq"]) for r in rows]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_hash_sample_sorts_once_same_sample(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for size in (256, 2048):
        assert _hash_sample(emb, "vec_id", "embedding", size, 20) == _two_sort_sample(
            emb, size
        )


# --- job budget ------------------------------------------------------------------


def test_ann_store_append_build_job_budget(spark):
    """The driver build of q_ann_store_append (fit, build, append, serve
    set-up) launches at most 16 Spark jobs; it launched 24 when store
    headers were read through Spark, the hash sample sorted twice and
    the probed cids were a separate distinct().collect()."""
    from openetlagent_spark.plans.harness_queries import q_ann_store_append

    _df, jobs = _jobs_in_group(
        spark, "ann_append_build", lambda: q_ann_store_append(spark, SF_DIRS[0])
    )
    assert jobs <= 16
