"""Connected components + cluster dedup (functions/graph.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openetlagent_spark.functions.graph import (
    connected_components,
    dedup_by_components,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_transitive_chain_collapses(spark):
    # A-B, B-C, C-D: one component labeled by the minimum node
    comps = connected_components(_edges(spark, [(1, 2), (2, 3), (3, 4)]))
    got = {r["node"]: r["component"] for r in comps.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_separate_components_stay_separate(spark):
    comps = connected_components(_edges(spark, [(1, 2), (10, 11), (11, 12), (20, 21)]))
    got = {r["node"]: r["component"] for r in comps.collect()}
    assert got == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_deep_chain_converges(spark):
    # a 20-hop path needs many propagation rounds — exercises the
    # fixpoint loop, not just one-shot neighbor mins
    edges = [(i, i + 1) for i in range(100, 120)]
    comps = connected_components(_edges(spark, edges))
    got = {r["node"]: r["component"] for r in comps.collect()}
    assert set(got.values()) == {100}
    assert len(got) == 21


@pytest.mark.parametrize("steps", [0, -2])
def test_components_refuse_empty_cycles(spark, steps):
    # a cycle of 0 pushes leaves the label sum unchanged, which would
    # read as convergence after the first push
    with pytest.raises(ValueError, match=f"steps_per_cycle must be >= 1 or 'auto', got {steps}"):
        connected_components(_edges(spark, [(1, 2), (2, 3)]), steps_per_cycle=steps)


def test_components_partitioning_independent(spark):
    edges = _edges(spark, [(5, 3), (3, 9), (2, 7), (7, 1), (8, 8)])
    a = sorted(connected_components(edges).collect())
    b = sorted(connected_components(edges.repartition(7)).collect())
    assert a == b
    got = {r["node"]: r["component"] for r in a}
    assert got[9] == 3 and got[5] == 3 and got[1] == 1 and got[2] == 1


def test_dedup_by_components_keeps_cluster_minimum(spark):
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 8)], "doc_id long, text string"
    )
    # clusters {1,2,3} (via chain) and {5,6}; 4 and 7 untouched
    pairs = _edges(spark, [(1, 2), (2, 3), (5, 6)])
    kept = sorted(
        r["doc_id"] for r in dedup_by_components(df, pairs, "doc_id").collect()
    )
    assert kept == [1, 4, 5, 7]


def test_dedup_by_components_no_pairs_is_identity(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    pairs = _edges(spark, []).filter(F.lit(False))
    kept = sorted(r["doc_id"] for r in dedup_by_components(df, pairs, "doc_id").collect())
    assert kept == [1, 2]


def test_dedup_keep_best_keeps_highest_score(spark):
    from openetlagent_spark.functions.graph import dedup_keep_best

    df = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (4, 7), (5, 20), (6, 20)],
        "doc_id long, quality long",
    )
    # clusters {1,2,3} and {5,6}; 4 untouched
    pairs = _edges(spark, [(1, 2), (2, 3), (5, 6)])
    kept = sorted(
        r["doc_id"]
        for r in dedup_keep_best(df, pairs, "doc_id", "quality").collect()
    )
    # cluster 1: doc 2 wins (score 99); cluster 2: tie 20/20 -> min id 5
    assert kept == [2, 4, 5]


def test_dedup_keep_best_no_pairs_is_identity(spark):
    from openetlagent_spark.functions.graph import dedup_keep_best

    df = spark.createDataFrame([(1, 5), (2, 9)], "doc_id long, quality long")
    pairs = _edges(spark, []).filter(F.lit(False))
    kept = sorted(
        r["doc_id"] for r in dedup_keep_best(df, pairs, "doc_id", "quality").collect()
    )
    assert kept == [1, 2]


def test_dedup_keep_best_flow_mode(spark):
    from openetlagent_spark.model import parse_operation
    from openetlagent_spark.operators import apply_dedup

    txt = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(1, txt, 10), (2, txt + " iota", 99), (3, "unrelated words only here now", 5)],
        "doc_id long, text string, quality long",
    )
    op = parse_operation({
        "operation_type": "dedup", "strategy": "ngram", "mode": "keep_best",
        "id_column": "doc_id", "text_column": "text",
        "threshold": 0.3, "score_column": "quality",
    })
    kept = sorted(r["doc_id"] for r in apply_dedup(df, op).collect())
    # docs 1,2 are near-dups: 2 wins on quality; 3 untouched
    assert kept == [2, 3]


def test_triangle_count_hand_built(spark):
    """K4 minus one edge: nodes 1,2,3,4 with all edges except (3,4) —
    triangles {1,2,3} and {1,2,4}; per-node counts 2,2,1,1.  Edge
    direction/duplication in the input must not matter."""
    from pyspark.sql import Row

    from openetlagent_spark.functions.graph import triangle_count

    edges = spark.createDataFrame(
        [Row(src=1, dst=2), Row(src=2, dst=1),  # duplicate reversed
         Row(src=1, dst=3), Row(src=3, dst=1),
         Row(src=1, dst=4),
         Row(src=2, dst=3), Row(src=2, dst=4),
         Row(src=2, dst=2),  # self-loop drops
         Row(src=None, dst=1)]
    )
    got = {r.node: r.n_triangles for r in triangle_count(edges).collect()}
    assert got == {1: 2, 2: 2, 3: 1, 4: 1}


def test_triangle_count_no_triangles_is_empty(spark):
    from pyspark.sql import Row

    from openetlagent_spark.functions.graph import triangle_count

    path = spark.createDataFrame([Row(src=i, dst=i + 1) for i in range(5)])
    assert triangle_count(path).count() == 0


def test_knn_label_majority_and_ties(spark, tmp_path):
    """kNN vote layer over a store: majority wins; equal votes pick
    the lexicographically smaller label."""
    from pyspark.sql import Row

    from openetlagent_spark.functions.similarity import build_ann_store, knn_label

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    store = str(tmp_path / "knn")
    build_ann_store(emb, store, n_centroids=8, sample_size=256)
    labels = emb.select("vec_id", "label")
    out = knn_label(spark, store, emb.filter("vec_id < 10"), labels,
                    k=5, nprobe=4)
    rows = {r.query_id: r for r in out.collect()}
    assert len(rows) == 10
    assert all(1 <= r.n_votes <= 5 for r in rows.values())
    # recompute the expected majority from the served neighbors
    from openetlagent_spark.functions.similarity import ann_from_store

    nn = ann_from_store(spark, store, emb.filter("vec_id < 10"), k=5, nprobe=4)
    lab = {r.vec_id: r.label for r in labels.collect()}
    import collections

    by_q = collections.defaultdict(list)
    for r in nn.collect():
        by_q[r.query_id].append(lab[r.neighbor_id])
    for q, labs in by_q.items():
        cnt = collections.Counter(labs)
        best = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert (rows[q].pred_label, rows[q].n_votes) == best


def test_knn_label_null_labels_do_not_vote(spark, tmp_path):
    from pyspark.sql import functions as F

    from openetlagent_spark.functions.similarity import build_ann_store, knn_label

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    store = str(tmp_path / "knn_null")
    build_ann_store(emb, store, n_centroids=8, sample_size=256)
    # every odd-id neighbor is unlabeled; predictions must come only
    # from labeled voters and never be NULL
    labels = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 2 == 0, F.col("label")).alias("label"),
    )
    out = knn_label(spark, store, emb.filter("vec_id < 10"), labels, k=5)
    rows = out.collect()
    assert rows and all(r.pred_label is not None for r in rows)


def test_infer_dim_skips_null_vectors(spark):
    from pyspark.sql import Row

    from openetlagent_spark.functions.similarity import infer_dim

    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=None), Row(vec_id=2, embedding=[1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    assert infer_dim(df, "embedding") == 2


def test_label_propagation_finds_dense_cores(spark):
    """Two triangles joined by ONE bridge edge: connected components
    would merge everything; mode-adoption LPA keeps the two dense
    cores apart (hand-traced 4-round fixpoint: {a,b,c}->a,
    {d,e,f}->c), and an isolated node keeps its own label."""
    from pyspark.sql import Row

    from openetlagent_spark.functions.graph import label_propagation

    nodes = spark.createDataFrame([Row(node=n) for n in "abcdefg"])
    edges = spark.createDataFrame(
        [Row(src=s, dst=d) for s, d in
         [("a", "b"), ("b", "c"), ("a", "c"),
          ("d", "e"), ("e", "f"), ("d", "f"),
          ("c", "d")]]
    )
    out = {r.node: r for r in label_propagation(nodes, edges, iters=4).collect()}
    assert {n: out[n].community for n in "abcdefg"} == {
        "a": "a", "b": "a", "c": "a", "d": "c", "e": "c", "f": "c", "g": "g",
    }
    assert out["a"].community_size == 3 and out["g"].community_size == 1
    with pytest.raises(ValueError, match="iters"):
        label_propagation(nodes, edges, iters=0)


def test_label_propagation_orientation_invariant(spark):
    """Edges are symmetrized: passing the reversed orientation (or a
    mix) yields identical communities."""
    from pyspark.sql import Row

    from openetlagent_spark.functions.graph import label_propagation

    nodes = spark.createDataFrame([Row(node=n) for n in "abcd"])
    fwd = [("a", "b"), ("b", "c"), ("c", "d")]
    e1 = spark.createDataFrame([Row(src=s, dst=d) for s, d in fwd])
    e2 = spark.createDataFrame([Row(src=d, dst=s) for s, d in fwd])
    r1 = label_propagation(nodes, e1, iters=3).collect()
    r2 = label_propagation(nodes, e2, iters=3).collect()
    assert r1 == r2


def test_kcore_peels_tendrils(spark):
    """A triangle with a pendant chain: the chain peels away round by
    round (leaf first, then its newly-exposed parent), leaving the
    2-core = the triangle with within-core degree 2 each.  One round
    is NOT enough (x survives round 1 with degree 2 via the chain) —
    the fixed-rounds recurrence matters."""
    from pyspark.sql import Row

    from openetlagent_spark.functions.graph import kcore

    nodes = spark.createDataFrame([Row(node=n) for n in "abcxyz"])
    edges = spark.createDataFrame(
        [Row(src=s, dst=d) for s, d in
         [("a", "b"), ("b", "c"), ("a", "c"),        # triangle
          ("c", "x"), ("x", "y"), ("y", "z")]]       # pendant chain
    )
    out = kcore(nodes, edges, k=2, rounds=4).collect()
    assert {(r.node, r.degree) for r in out} == {("a", 2), ("b", 2), ("c", 2)}
    # under-rounded run: round 1 peels only z; the report's own >= k
    # cut then drops y, leaving the documented superset {a,b,c,x}
    # whose x degree still counts the not-yet-peeled y
    one = {r.node: r.degree for r in kcore(nodes, edges, k=2, rounds=1).collect()}
    assert set(one) == {"a", "b", "c", "x"} and one["x"] == 2
    with pytest.raises(ValueError, match="kcore needs"):
        kcore(nodes, edges, k=0)


def test_bfs_hops_levels_and_unreachable(spark):
    from openetlagent_spark.functions.graph import bfs_hops

    # path a-b-c-d plus isolated z: from seed 'a' (lexicographic min),
    # hops: a=0, b=1, c=2, d=3 (max_hops=3); z absent
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("z",)], "node string"
    )
    got = {r.node: r.hops for r in bfs_hops(nodes, edges, max_hops=3).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}
    # max_hops truncates
    got2 = {r.node: r.hops for r in bfs_hops(nodes, edges, max_hops=1).collect()}
    assert got2 == {"a": 0, "b": 1}
    # symmetrization: reversed edge reaches the seed's parent
    edges_rev = spark.createDataFrame([("b", "a")], "src string, dst string")
    got3 = {r.node: r.hops for r in bfs_hops(nodes, edges_rev, 2).collect()}
    assert got3 == {"a": 0, "b": 1}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        bfs_hops(nodes, edges, 0)
