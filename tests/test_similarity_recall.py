"""Recall quality of the approximate similarity paths vs the exact
brute-force baseline, on the driver's real embeddings table at sf0.001.
Uniform random embeddings are the WORST case for LSH (near-uniform
cosines); the floors here are deliberately below the measured values
(~0.7 both) to stay robust."""

from __future__ import annotations

import pytest

from openetlagent_spark.functions.similarity import cosine_topk, ivf_topk, lsh_topk

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def brute(spark, emb):
    qs = emb.filter("vec_id < 30")
    return {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, qs, k=10).collect()}


def test_lsh_topk_recall_floor(emb, brute):
    qs = emb.filter("vec_id < 30")
    lsh = {(r.query_id, r.neighbor_id) for r in lsh_topk(emb, qs, k=10).collect()}
    recall = len(brute & lsh) / len(brute)
    assert recall >= 0.5, f"LSH recall@10 collapsed: {recall:.3f}"


def test_ivf_topk_recall_floor(emb, brute):
    qs = emb.filter("vec_id < 30")
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, qs, k=10, n_centroids=8, nprobe=4).collect()
    }
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.5, f"IVF recall@10 collapsed: {recall:.3f}"


def test_embedding_centroids_match_numpy(spark):
    import numpy as np

    from openetlagent_spark.functions.similarity import embedding_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = embedding_centroids(emb, "label", "embedding").collect()
    data = emb.collect()
    import collections
    by_label = collections.defaultdict(list)
    for r in data:
        by_label[r.label].append(np.array(r.embedding, dtype=np.float64))
    got = {(r.label, r.dim_pos): (r.centroid, r.n_vecs) for r in rows}
    for label, vecs in by_label.items():
        q = np.floor(np.stack(vecs) * (1 << 20)).sum(axis=0)
        want = q / float(1 << 20) / len(vecs)
        for pos in range(len(want)):
            c, n = got[(label, pos)]
            assert n == len(vecs)
            assert abs(c - want[pos]) < 1e-12


def test_lsh_topk_scores_equal_cosine_expr(spark, emb):
    """lsh_topk scores each candidate with norms computed once per row
    (cosine_prenorm_expr); every emitted cosine must equal cosine_expr
    on the same two vectors, bit for bit."""
    from pyspark.sql import functions as F

    from openetlagent_spark.functions.similarity import cosine_expr

    qs = emb.filter("vec_id < 30")
    out = lsh_topk(emb, qs, k=10)
    vec = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    rows = (
        out.join(vec.withColumnRenamed("vec_id", "query_id").withColumnRenamed("v", "qv"), "query_id")
        .join(vec.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed("v", "cv"), "neighbor_id")
        .select("cosine", cosine_expr(F.col("qv"), F.col("cv")).alias("want"))
        .collect()
    )
    assert rows and all(r.cosine == r.want for r in rows)


def test_lsh_topk_corpus_as_queries(emb):
    """Full corpus×corpus ANN: every vector is its own query; each gets
    k neighbors (buckets permitting) and never itself."""
    out = lsh_topk(emb, emb, k=3, n_planes=2, n_tables=4).collect()
    assert len(out) > 0
    assert all(r.query_id != r.neighbor_id for r in out)
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivf_exact_deterministic_and_recall(emb, brute):
    """The hash-sampled integer Lloyd fit is bit-stable across
    repartitionings of the corpus — its sample never depends on scan
    order — and holds the same recall floor."""
    qs = emb.filter("vec_id < 30")
    a = {
        tuple(r)
        for r in ivf_topk(
            emb, qs, k=10, n_centroids=8, nprobe=4,
            sample_size=512, iters=2,
        ).collect()
    }
    b = {
        tuple(r)
        for r in ivf_topk(
            emb.repartition(7), qs, k=10, n_centroids=8, nprobe=4,
            sample_size=512, iters=2,
        ).collect()
    }
    assert a == b
    pairs = {(q, n) for (q, n, _, _) in a}
    recall = len(brute & pairs) / len(brute)
    assert recall >= 0.5, f"exact-IVF recall@10 collapsed: {recall:.3f}"


def test_center_embeddings_quantized_mean(spark, emb):
    import numpy as np

    from openetlagent_spark.functions.similarity import center_embeddings

    out = center_embeddings(emb, "embedding", "centered").collect()
    raw = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    M = np.stack(list(raw.values()))
    mean = np.floor(M * (1 << 20)).sum(axis=0) / float(1 << 20) / len(M)
    for r in out:
        want = raw[r.vec_id] - mean
        got = np.array(r.centered)
        assert np.allclose(got, want, atol=1e-12)


def test_center_embeddings_spreads_lsh_buckets(spark):
    """The motivating property: a tight off-origin cluster collapses
    sign-LSH to one bucket; centering spreads it."""
    import numpy as np

    from openetlagent_spark.functions.similarity import (
        center_embeddings,
        multi_table_signatures,
    )
    from pyspark.sql import functions as F

    rng = np.random.RandomState(7)
    vecs = (np.array([5.0] * 8) + rng.randn(40, 8) * 0.1).tolist()
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    def n_buckets(frame, col):
        sigs = frame.select(
            F.element_at(
                multi_table_signatures(F.col(col), 8, 1, 42, 8), 1
            ).alias("sig")
        )
        return sigs.distinct().count()

    assert n_buckets(df, "embedding") == 1  # collapsed
    cdf = center_embeddings(df, "embedding", "centered")
    assert n_buckets(cdf, "centered") > 4  # spread


def test_center_embeddings_ignores_null_vectors(spark):
    """The mean covers only non-NULL vectors (NULL rows must not
    deflate it), and an all-NULL input raises clearly."""
    import pytest

    from openetlagent_spark.functions.similarity import center_embeddings

    df = spark.createDataFrame(
        [(1, [2.0, 4.0]), (2, [4.0, 8.0]), (3, None)],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r.centered for r in center_embeddings(df, "embedding").collect()}
    assert out[1] == [-1.0, -2.0] and out[2] == [1.0, 2.0]  # mean (3,6) over 2 rows
    assert out[3] is None
    allnull = spark.createDataFrame([(1, None)], "vec_id long, embedding array<double>")
    # dim given: the count guard fires; dim inferred: infer_dim's own
    # clear error fires first — either way the failure is loud
    with pytest.raises(ValueError, match="non-NULL"):
        center_embeddings(allnull, "embedding", dim=2)
    with pytest.raises(ValueError, match="cannot infer"):
        center_embeddings(allnull, "embedding")


def test_lsh_topk_drops_null_vectors(spark, emb):
    """A NULL embedding must appear neither as query nor neighbor
    (previously it hashed into bucket 0 of every table)."""
    from pyspark.sql import functions as F

    withnull = emb.unionByName(
        emb.limit(1).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.lit(None).cast("array<float>").alias("embedding"),
            F.col("label"),
        )
    )
    out = lsh_topk(withnull, withnull.filter("vec_id >= 999999 OR vec_id < 5"), k=5).collect()
    ids = {r.query_id for r in out} | {r.neighbor_id for r in out}
    assert all(i < 1_000_000 for i in ids)


def test_supplied_dim_mismatch_is_loud(spark):
    """A wrong explicit dim must error, not silently collapse buckets
    (center: deflated/NULLed mean; pairs: one-bucket signatures)."""
    import pytest

    from openetlagent_spark.functions.dedup import embedding_neardup_pairs
    from openetlagent_spark.functions.similarity import center_embeddings

    df = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [2.0] * 8)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="dimensional"):
        center_embeddings(df, "embedding", dim=16)
    with pytest.raises(Exception, match="expected 16-dimensional"):
        embedding_neardup_pairs(df, "vec_id", "embedding", dim=16).collect()


def test_lsh_topk_null_first_row_still_infers_dim(spark):
    """infer_dim must probe AFTER the NULL filter — a NULL embedding in
    the first scanned row used to abort the whole query."""
    from openetlagent_spark.functions.similarity import lsh_topk

    rows = [(0, None)] + [(i, [float(i + j) for j in range(8)]) for i in range(1, 6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = lsh_topk(df, df, k=3, n_planes=2, n_tables=2).collect()
    ids = {r.query_id for r in out} | {r.neighbor_id for r in out}
    assert 0 not in ids and len(out) > 0


def test_quantize_embeddings_roundtrip_bound(spark, emb):
    """int8 symmetric quantization: |q| <= 127, max_err <= scale/2 +
    eps per vector (half-step rounding bound), zero vectors quantize
    to zeros with scale 0, and dequantized ANN ranking stays close to
    the float ranking (recall sanity on the real table)."""
    import numpy as np

    from openetlagent_spark.functions.similarity import quantize_embeddings

    rows = quantize_embeddings(emb, "vec_id", "embedding").collect()
    raw = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    for r in rows:
        assert max(abs(x) for x in r.q) <= 127
        assert r.max_err <= r.scale / 2 + 1e-15
        deq = np.array(r.q, dtype=np.float64) * r.scale
        assert np.max(np.abs(raw[r.vec_id] - deq)) == r.max_err
    # dequantized cosine ranking ~ matches float top-1 for most queries
    ids = sorted(raw)[:20]
    deqs = {r.vec_id: np.array(r.q, dtype=np.float64) * r.scale for r in rows}
    agree = 0
    for qid in ids:
        def top1(space):
            best, bid = -2.0, None
            qv = space[qid]
            for nid, nv in space.items():
                if nid == qid:
                    continue
                c = float(qv @ nv / (np.linalg.norm(qv) * np.linalg.norm(nv)))
                if c > best:
                    best, bid = c, nid
            return bid
        agree += top1(raw) == top1(deqs)
    assert agree >= 16  # >=80% top-1 agreement after 8-bit quantization


def test_quantize_zero_and_null_vectors(spark):
    from openetlagent_spark.functions.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, None), (3, [1.0, -0.5])],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    assert got[1].scale == 0.0 and got[1].q == [0, 0] and got[1].max_err == 0.0
    assert got[2].scale is None and got[2].q is None and got[2].max_err is None
    assert got[3].q == [127, -64]  # -0.5/1*127 = -63.5 → away-from-zero → -64


def test_ann_store_equals_direct_exact_ivf(spark, tmp_path):
    """Serving from the persisted index == ivf_topk
    over the same corpus, row for row — the store round trip is
    lossless (the ann_store oracle row's claim, locally)."""
    from openetlagent_spark.functions.similarity import (
        ann_from_store,
        build_ann_store,
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 8")
    store = str(tmp_path / "ann")
    build_ann_store(emb, store, "vec_id", "embedding",
                    n_centroids=8, iters=2, sample_size=256)
    served = ann_from_store(spark, store, queries, k=5, nprobe=2)
    direct = ivf_topk(emb, queries, k=5,
                      n_centroids=8, nprobe=2, sample_size=256, iters=2)
    assert sorted(map(tuple, served.collect())) == sorted(map(tuple, direct.collect()))


def test_ann_store_append_equals_full_build(spark, tmp_path):
    """build(evens, fixed centroids) + append(odds) serves byte-the-same
    results as build(all, same centroids): per-vector assignment against
    a pinned coarse quantizer cannot depend on arrival batch."""
    from openetlagent_spark.functions.similarity import (
        ann_from_store,
        append_to_ann_store,
        build_ann_store,
        fit_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 8")
    cents = fit_ivf_centroids(
        emb, "vec_id", "embedding", n_centroids=8, iters=2, sample_size=256
    )
    full = str(tmp_path / "ann_full")
    build_ann_store(emb, full, "vec_id", "embedding",
                    n_centroids=8, centroids=cents)
    grown = str(tmp_path / "ann_grown")
    build_ann_store(emb.filter("vec_id % 2 = 0"), grown, "vec_id", "embedding",
                    n_centroids=8, centroids=cents)
    append_to_ann_store(emb.filter("vec_id % 2 = 1"), grown, "vec_id", "embedding")
    a = sorted(map(tuple, ann_from_store(spark, full, queries, k=5, nprobe=2).collect()))
    b = sorted(map(tuple, ann_from_store(spark, grown, queries, k=5, nprobe=2).collect()))
    assert a == b and a
    # centroid count mismatch is refused at build time
    import pytest

    with pytest.raises(ValueError, match="centroids"):
        build_ann_store(emb, str(tmp_path / "bad"), "vec_id", "embedding",
                        n_centroids=4, centroids=cents)


def test_ann_from_store_recall_floor(spark, emb, brute, tmp_path):
    """Recall@10 of the persisted-store serving path against the brute
    baseline — the same floor the direct IVF path holds (serving is
    bit-identical to ivf_topk, so this pins the
    composed store path end-to-end, not just the equality)."""
    from openetlagent_spark.functions.similarity import (
        ann_from_store,
        build_ann_store,
    )

    qs = emb.filter("vec_id < 30")
    store = str(tmp_path / "ann_recall")
    build_ann_store(emb, store, "vec_id", "embedding",
                    n_centroids=8, iters=2, sample_size=2048)
    served = {
        (r.query_id, r.neighbor_id)
        for r in ann_from_store(spark, store, qs, k=10, nprobe=4).collect()
    }
    recall = len(brute & served) / len(brute)
    assert recall >= 0.5, f"store-served recall@10 collapsed: {recall:.3f}"


def test_ann_store_serving_prunes_unprobed_lists(spark, tmp_path):
    """The probed-cid literal filter reaches the lists scan as a
    PartitionFilter — unprobed inverted-list directories never leave
    disk (the store's whole point at 100 TB)."""
    from openetlagent_spark.functions.similarity import ann_from_store, build_ann_store

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    store = str(tmp_path / "ann_prune")
    build_ann_store(emb, store, "vec_id", "embedding",
                    n_centroids=8, iters=2, sample_size=256)
    served = ann_from_store(spark, store, emb.filter("vec_id < 2"), k=3, nprobe=1)
    plan = served._jdf.queryExecution().toString()
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*cid", plan)
    assert m, "probed-cid filter must prune list partitions"


def test_ann_store_centroid_coverage_validated(spark, tmp_path):
    from openetlagent_spark.functions.similarity import ann_from_store

    store = str(tmp_path / "bad_ann")
    spark.createDataFrame([(0, [0.0]), (2, [1.0])], "cid int, cen array<double>"
                          ).write.parquet(f"{store}/centroids")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    import pytest

    # no meta table -> loud, before anything else
    with pytest.raises(Exception, match="meta|PATH_NOT_FOUND"):
        ann_from_store(spark, store, emb.limit(1))
    spark.createDataFrame([(20, 2)], "scale_bits int, n_centroids int"
                          ).write.parquet(f"{store}/meta")
    with pytest.raises(ValueError, match="cover cid 0..n-1"):
        ann_from_store(spark, store, emb.limit(1))
    # serving with a different grid than the build is refused
    with pytest.raises(ValueError, match="scale_bits"):
        ann_from_store(spark, store, emb.limit(1), scale_bits=16)


# --- SQ8 scalar quantization (round 10) ----------------------------------------


def test_sq8_full_refine_equals_exact_topk(spark):
    """With refine_factor covering the whole corpus, every candidate
    reaches the exact re-rank, so sq8_topk must equal cosine_topk
    rank-for-rank — quantization then affects nothing but the cut."""
    from pyspark.sql import functions as F

    from openetlagent_spark.functions.similarity import cosine_topk, sq8_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.limit(80)
    queries = corpus.filter(F.col("vec_id") < 5)
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in sq8_topk(corpus, queries, k=5, refine_factor=100).collect()
    }
    want = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk(corpus, queries, k=5).collect()
    }
    assert got == want and len(got) == 25


def test_sq8_dequantization_error_bounded(spark):
    """Every dequantized coordinate lies within one grid step
    (range/255) of the original — the SQ8 accuracy contract."""
    import numpy as np
    from pyspark.sql import functions as F

    from openetlagent_spark.functions.similarity import _sq8_dq_col

    rng = np.random.RandomState(0)
    vals = rng.uniform(-3, 7, 500)
    lo, hi = float(vals.min()), float(vals.max())
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    out = df.select(
        "v", _sq8_dq_col(F.col("v"), F.lit(lo), F.lit(hi)).alias("dq")
    ).collect()
    step = (hi - lo) / 255.0
    assert all(abs(r.v - r.dq) <= step + 1e-12 for r in out)
    # degenerate dimension: everything dequantizes to the min
    const = spark.createDataFrame([(2.5,), (2.5,)], "v double").select(
        _sq8_dq_col(F.col("v"), F.lit(2.5), F.lit(2.5)).alias("dq")
    )
    assert all(r.dq == 2.5 for r in const.collect())


def test_sq8_skips_ragged_vectors(spark):
    """A ragged (short) vector must be skipped like the oracle's
    len(v) = dim filter — not crash the ANSI [j] extraction and not
    shrink the inferred dim."""
    from pyspark.sql import functions as F

    from openetlagent_spark.functions.similarity import sq8_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(40)
    ragged = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 7, F.slice(F.col("embedding"), 1, 10)).otherwise(
            F.col("embedding")
        ),
    )
    out = sq8_topk(ragged, ragged.filter(F.col("vec_id") < 3), k=5).collect()
    assert len(out) == 15  # 3 queries x k=5
    assert all(r.neighbor_id != 7 for r in out)  # ragged row excluded
