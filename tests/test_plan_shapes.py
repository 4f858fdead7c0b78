"""Physical-plan regression tests: the scale properties the engine
promises (broadcast dimension joins, predicate pushdown, bounded
shuffle counts, no accidental cartesians) asserted against the actual
Catalyst output, so a refactor can't silently trade them away.

These run on sf0.001 — plan SHAPE is scale-invariant for these queries
(file-size broadcast heuristics all trigger at every test SF)."""

from __future__ import annotations

import re
from pathlib import Path

import pytest
import yaml

from pyspark.sql import functions as F

from openetlagent_spark.model import BindOperation, load_pipeline_config, load_pipeline_flow
from openetlagent_spark.operators import apply_application
from openetlagent_spark.plans import HARNESS_QUERIES
from openetlagent_spark.runner import apply_operations, run_flow
from openetlagent_spark.sources import save_data

SF_DIR = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = HARNESS_QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().toString()


def count_shuffles(plan: str) -> int:
    return len(re.findall(r"Exchange (hash|range)partitioning", plan))


@pytest.mark.parametrize("name", ["flagship", "tpch_q3", "tpch_q5", "tpch_q10"])
def test_dimension_joins_broadcast(spark, name):
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan, f"{name}: dimension joins must broadcast"
    assert "SortMergeJoin" not in plan, f"{name}: no sort-merge join expected at this shape"


@pytest.mark.parametrize(
    "name,max_shuffles",
    [("tpch_q1", 1), ("tpch_q5", 1), ("tpch_q6", 0), ("tpch_q10", 1), ("grouping_sets", 1)],
)
def test_shuffle_budget(spark, name, max_shuffles):
    assert count_shuffles(plan_of(spark, name)) <= max_shuffles


def test_q6_filters_reach_scan(spark):
    # Spark's plan text truncates long filter lists with "...", so match
    # line-wise instead of bracket-to-bracket.
    plan = plan_of(spark, "tpch_q6")
    pushed = [l for l in plan.splitlines() if "PushedFilters: [" in l]
    assert pushed, "tpch_q6 must push filters into the parquet scan"
    assert any("l_shipdate" in l for l in pushed)
    assert re.search(r"DataFilters: \[[^\n]*l_discount", plan)


def test_scan_prunes_columns(spark):
    # tpch_q6 touches 4 lineitem columns; the scan schema must not read
    # the full 11-column table.
    plan = plan_of(spark, "tpch_q6")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert set(cols) <= {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_q19_disjunction_pushes_and_broadcasts(spark):
    """Q19's OR-of-ANDs must partially push into BOTH parquet scans
    (the common-attribute disjunction) and join as one broadcast hash
    join — the plan this query exists to pin."""
    plan = plan_of(spark, "tpch_q19")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters: [" in l]
    assert any("l_quantity" in l and "Or(" in l for l in pushed), "lineitem OR not pushed"
    assert any("p_brand" in l and "Or(" in l for l in pushed), "part OR not pushed"


@pytest.mark.parametrize("name", ["tpch_q8", "tpch_q9"])
def test_second_batch_star_joins_broadcast(spark, name):
    # Q8 joins five dimensions, Q9 four — every one must broadcast;
    # the fact table shuffles exactly once (the final group-by).
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert count_shuffles(plan) <= 1


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        ("tpch_q11", 2),   # per-part agg + kept-rows exchange; scalar is 1-row broadcast
        ("tpch_q13", 2),   # outer-join fan + two cascaded aggs share one exchange each
        ("tpch_q15", 4),   # revenue view agg + argmax equality (Catalyst rewrites the
                           # 1-row cross join + equality filter into a broadcast EQUI-join).
                           # The view is eagerly localCheckpoint-ed (it feeds both the MAX
                           # probe and the winner filter — one lineitem pass at runtime,
                           # measured 5×; blocks free on GC), so the explain tree shows
                           # Scan ExistingRDD leaves and ≤2 textual exchanges; 4 kept as
                           # slack for the pre-checkpoint logical print.
        ("tpch_q16", 2),   # distinct-pair expand + final count
        ("tpch_q17", 1),   # decorrelated per-part avg joined back co-partitioned
        ("tpch_q20", 1),   # semi-join chain: one agg shuffle, everything else broadcast
        ("tpch_q21", 3),   # per-order stats agg + join-back + final per-supplier count
    ],
)
def test_second_batch_shuffle_budget(spark, name, max_shuffles):
    assert count_shuffles(plan_of(spark, name)) <= max_shuffles


def test_q17_aggregates_only_selected_parts(spark):
    """The per-part AVG must run AFTER the broadcast part-selection
    join, not over the full fact table: both lineitem subtrees (the
    aggregate input and the probe side) must sit above a
    BroadcastHashJoin with the filtered part keys.  Pin: every
    HashAggregate over l_quantity appears below a plan region that
    already joined part, i.e. the aggregate subtree mentions the
    broadcast exchange."""
    plan = plan_of(spark, "tpch_q17")
    assert "BroadcastHashJoin" in plan
    # The partial aggregate over l_quantity must consume the output of
    # the part-pruned join, so the physical plan orders the broadcast
    # join BEFORE the first partial HashAggregate (string order in the
    # formatted tree: children print below parents, so the join feeding
    # the aggregate appears AFTER it textually — assert the aggregate's
    # child subtree contains the broadcast join).
    first_agg = plan.find("HashAggregate")
    assert first_agg != -1
    assert "BroadcastHashJoin" in plan[first_agg:], (
        "per-part aggregate must be fed by the part-pruned join"
    )
    # Exactly one shuffle: the pruned per-part aggregate.
    assert count_shuffles(plan) <= 1


def test_q11_scalar_is_one_row_broadcast(spark):
    # The global-total threshold must reach the plan as a broadcast of
    # the re-aggregated group-by output — NOT a second fact-table scan
    # subtree. One BroadcastNestedLoopJoin against a 1-row side is the
    # expected (and intended) shape for a non-equi scalar compare.
    plan = plan_of(spark, "tpch_q11")
    assert plan.count("BroadcastNestedLoopJoin") == 1
    # exactly one lineitem scan feeds the whole plan
    assert plan.count("lineitem.parquet") <= 2  # logical + physical mention


def test_no_accidental_cartesian(spark):
    # Cartesian/nested-loop joins are legal ONLY where they are the
    # semantics: explicit cross bind, the brute-force ANN baseline, and
    # the salt-replication step.
    allowed = {"bind_cross", "ann_cosine_topk", "bind_salted", "dedup_embedding"}
    for name in ["flagship", "tpch_q5", "tpch_q18", "range_join", "asof_join", "bind_multikey"]:
        assert name not in allowed
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, f"{name} must not cartesian"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name} must not nested-loop"


def test_neardup_verify_joins_never_broadcast_unproven(spark):
    """The near-dup verify join-backs (candidates → base frame) must be
    sort-merge whenever no measured bound proves a side fits: Catalyst
    statically underestimates BOTH sides (the pair list shrinks through
    groupBy→explode→dropDuplicates; the localCheckpoint LogicalRDD
    carries a small default), and each side is corpus- or pair-volume-
    sized.  At sf10 the un-hinted plan collected a >1 GiB
    BroadcastExchange and died on spark.driver.maxResultSize — the r12
    sf10 sweep's catch.

    r14 refinement: a caller-supplied corpus COUNT may prove the vector
    table fits (count·dim·8 ≤ 64 MiB) — then broadcasting that side is
    the deliberate guide-§3.1 choice and the unbounded candidate list
    is never shuffled.  The shingle/gram miners stay uncounted and must
    keep the sort-merge shape; so must an embedding call without
    corpus_count."""
    for name in ("dedup_minhash", "dedup_ngram"):
        plan = plan_of(spark, name)
        physical = plan.split("== Physical Plan ==")[-1]
        assert "BroadcastExchange" not in physical, name
        assert "SortMergeJoin" in physical, name
    # uncounted embedding call: the r12 safety shape, unchanged
    from openetlagent_spark.functions.dedup import embedding_neardup_pairs
    from openetlagent_spark.plans.harness_queries import _ts

    emb = _ts(spark, SF_DIR, "embeddings")
    unproven = embedding_neardup_pairs(emb, "vec_id", "embedding", threshold=0.3)
    physical = unproven._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in physical
    assert "SortMergeJoin" in physical


def test_neardup_verify_join_broadcasts_proven_vectors(spark):
    """The declared dedup_embedding query COUNTS its corpus, so the
    verify joins must broadcast the proven-small vector side and keep
    the candidate list un-shuffled (no SortMergeJoin on the pair
    ids)."""
    plan = plan_of(spark, "dedup_embedding")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in physical
    assert "SortMergeJoin" not in physical


def test_bm25_is_takeordered_with_one_row_broadcast(spark):
    """keyword search must rank via TakeOrdered (never a global sort)
    and get its corpus stats from a broadcast, with zero wide
    shuffles."""
    df = HARNESS_QUERIES["bm25_topk"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert count_shuffles(plan) == 0


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        ("dedup_substring", 2),   # run-code buckets + pair counts
        ("vocab_oov", 2),         # vocab counts + per-doc counts
        ("kmeans_clusters", 1),   # quantized scan; 1 rebalance only
        ("curation_pipeline", 0), # fused per-row scan
        ("bpe_pairs", 1),         # one combined pair-count shuffle
    ],
)
def test_new_operator_shuffle_budget(spark, name, max_shuffles):
    df = HARNESS_QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_shuffles(plan) <= max_shuffles, plan[:2000]


def test_new_operators_avoid_joins_where_promised(spark):
    """substring dedup and kmeans are join-free by design (bucket
    arrays and centroid literals, not join relations)."""
    for name in ("dedup_substring", "kmeans_clusters"):
        df = HARNESS_QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"\w*(HashJoin|MergeJoin)", plan), name


def test_named_frame_broadcasts_only_by_its_own_hint(spark):
    """Bind adds no hint to an in-memory named input: an ``F.broadcast``
    frame plans a broadcast join, and an unhinted frame under
    ``skew_salt`` still plans the salt columns."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select("l_orderkey", "l_quantity")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    keys = dict(right_file_path="orders", left_on="l_orderkey", right_on="o_orderkey", how="inner")
    plain = BindOperation(**keys, columns_to_add=["o_orderpriority"])
    salted = BindOperation(**keys, columns_to_add=["o_orderpriority"], skew_salt=8)
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        hinted = apply_operations(li, [plain], spark, {"orders": F.broadcast(orders)})
        assert "BroadcastHashJoin" in hinted._jdf.queryExecution().toString()
        plan = apply_operations(li, [salted], spark, {"orders": orders})
        plan = plan._jdf.queryExecution().toString()
    finally:
        spark.conf.set(key, before)
    assert "__skew_salt__" in plan and "__skew_salt_r__" in plan
    assert "BroadcastHashJoin" not in plan


def test_incremental_dedup_broadcasts_both_sides(spark):
    """The admission gate's plan must contain ONLY broadcast joins —
    a SortMergeJoin here would mean the corpus is being shuffled."""
    df = HARNESS_QUERIES["incremental_dedup"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        ("exact_distinct", 2),        # Expand multi-distinct re-aggregation
        ("fuzzy_join", 2),            # block-key gather (+ scan rebalance)
        ("bigram_lm", 3),             # bigram count + per-w1 window + TakeOrdered
        ("robust_scale", 1),          # percentile stats agg; join-back broadcasts
        ("quantile_bins", 1),         # pid-local rank window (range exchange is pre-boundary)
        ("cooccurrence_pairs", 4),    # distinct + per-user sets + pair counts
        ("window_distinct_users", 2), # day agg + distinct expand
        ("cohort_retention", 3),      # first-week agg + join + retained counts
        ("doc_lm_score", 5),          # LM build + doc gather (LM side broadcasts)
        ("tfidf_topk", 4),            # tf checkpoint + df agg + weight join + window
    ],
)
def test_round4_operator_shuffle_budget(spark, name, max_shuffles):
    df = HARNESS_QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_shuffles(plan) <= max_shuffles, plan[:2000]


@pytest.mark.parametrize("name", ["robust_scale", "cohort_retention", "doc_lm_score", "tfidf_topk"])
def test_round4_small_sides_broadcast(spark, name):
    """The bounded side (percentile stats / cohort table at test SF /
    k-row LM / vocab df) must reach the plan as a broadcast, never a
    sort-merge join."""
    df = HARNESS_QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_no_global_single_partition_windows_in_round4(spark):
    """None of the round-4 queries may sort the world through a
    partitionless window (the classic silent scale killer) — global
    top-k must be TakeOrdered.  A SinglePartition exchange is legal
    only for 1-row global aggregates (e.g. tfidf's corpus N), so the
    assertion targets the hazard directly: every Window operator must
    carry a partition column (its windowspecdefinition's first argument
    is a partition attribute, not a sort order), and the global top-k
    queries must plan as TakeOrderedAndProject."""
    for name in ["bigram_lm", "doc_lm_score", "tfidf_topk", "quantile_bins"]:
        df = HARNESS_QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            s = line.strip()
            if "windowspecdefinition(" in s:
                spec = s.split("windowspecdefinition(", 1)[1]
                first_arg = spec.split(",", 1)[0]
                assert " DESC" not in first_arg and " ASC" not in first_arg, (
                    f"{name}: partitionless window: {s[:160]}"
                )
    for name in ["bigram_lm", "doc_lm_score"]:
        df = HARNESS_QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, f"{name}: top-k must be TakeOrdered"


# --- round-5 additions ------------------------------------------------------


def test_quantile_filter_threshold_broadcasts(spark):
    """The per-group PERCENTILE_CONT threshold table is group-
    cardinality sized and must broadcast back onto the corpus — the
    corpus itself never shuffles for the join."""
    df = HARNESS_QUERIES["quantile_filter"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        ("embedding_stats", 1),   # one narrow shuffle on the label key
        ("quantile_filter", 2),   # threshold agg + survivor agg
        ("global_shuffle", 3),    # range split + pid-window hash; the
        # cached range exchange prints twice (initial+final AQE plan of
        # the InMemoryRelation), so the textual count is 3 for 2 real
        # shuffles
        ("top_p_sources", 2),     # source agg; window runs on bounded agg
        ("event_paths", 1),       # rank window + grouped agg share user_id
        ("embedding_centroids", 1),  # one (group, pos) shuffle
        ("bpe_encode", 0),        # shuffle-free scan (chained folds)
    ],
)
def test_round5_shuffle_budget(spark, name, max_shuffles):
    df = HARNESS_QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_shuffles(plan) <= max_shuffles, plan[:2000]


def test_partitioned_layout_prunes_partitions(spark):
    """The read back off the hive-partitioned copy must carry the lang
    predicate as a PartitionFilter (directory pruning), not a row-level
    data filter over all partitions."""
    df = HARNESS_QUERIES["partitioned_layout"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan[:2000]
    assert "lang" in m.group(1), m.group(1)


def test_global_shuffle_window_is_partitioned(spark):
    """global_shuffle's rank window must be partitioned by the range-
    partition id — never a partitionless window sorting the world."""
    df = HARNESS_QUERIES["global_shuffle"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        s = line.strip()
        if "windowspecdefinition(" in s:
            first_arg = s.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
            assert " DESC" not in first_arg and " ASC" not in first_arg, s[:160]


# --- round-5 new operators --------------------------------------------------


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        ("gopher_rules", 0),   # pure per-row expressions, one codegen span
        ("line_dedup", 4),     # line-key count + anti-join + doc regroup
                               # (+1 textual for the base join-back)
    ],
)
def test_round5_new_operator_shuffle_budget(spark, name, max_shuffles):
    df = HARNESS_QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_shuffles(plan) <= max_shuffles, plan[:2000]


def test_gopher_rules_is_single_codegen_scan(spark):
    """No wide shuffle, no Python UDF: the whole rule battery must
    evaluate as JVM expressions over the scan (the only exchange is the
    harness's RoundRobin rebalance of the single-file test parquet)."""
    df = HARNESS_QUERIES["gopher_rules"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_shuffles(plan) == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ccnet_buckets_thresholds_broadcast(spark):
    """The per-language quantile thresholds are lang-cardinality sized
    and must broadcast back — the bucketing itself never windows the
    corpus by language (the only Window in the plan is doc_lm_score's
    vocabulary-sized LM normalization, partitioned by w1)."""
    df = HARNESS_QUERIES["ccnet_buckets"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "windowspecdefinition(lang" not in plan


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        ("tokenize_ids", 3),      # vocab count + TakeOrdered feed + doc gather
        ("curriculum_order", 2),  # range exchange + (textual) checkpoint reprint
        ("dedup_store", 3),       # batch-bounded distincts (keys, known) + window;
                                  # the STORE is probed map-side by a broadcast
                                  # semi join, never shuffled
        ("neardup_store", 5),     # batch band distinct + collided distinct +
                                  # known distinct + bucket-min agg + batch-dup
                                  # distinct — ALL batch-bounded; the store
                                  # scan is filter-only (broadcast semi)
    ],
)
def test_store_and_lastmile_shuffle_budget(spark, name, max_shuffles):
    df = HARNESS_QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_shuffles(plan) <= max_shuffles, plan[:2000]


def test_store_gates_broadcast_verdicts(spark):
    """Both store gates must broadcast their batch-bounded verdict sets
    back onto the batch — the batch is never sort-merge-joined."""
    for name in ("dedup_store", "neardup_store"):
        df = HARNESS_QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, name


# --- round 6 ----------------------------------------------------------------


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        # pure projection: normalization/extraction never shuffles
        ("url_normalize", 0),
        # exactly the one hash shuffle on domain for the quota window
        ("domain_quota", 1),
        # (lang, line-key) count + anti-join + per-doc regroup + rebalance
        ("line_dedup_lang", 4),
        # banded pair mining + components + keep-best joins
        ("image_neardup", 5),
    ],
)
def test_round6_shuffle_budget(spark, name, max_shuffles):
    assert count_shuffles(plan_of(spark, name)) <= max_shuffles


def test_round6_no_cartesians_or_global_windows(spark):
    for name in ["url_normalize", "domain_quota", "line_dedup_lang", "image_neardup"]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "Exchange SinglePartition" not in plan.split("== Physical Plan ==")[-1], name


def test_lsh_candidates_dedup_ids_not_vectors(spark):
    """ann_lsh_topk deduplicates its (query_id, neighbor_id) candidates
    before the vectors join back: no aggregate in the optimized plan
    carries the 64-double corpus or query vector."""
    df = HARNESS_QUERIES["ann_lsh_topk"](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    aggs = [l for l in plan.splitlines() if re.search(r"\bAggregate \[", l)]
    assert aggs, plan
    for line in aggs:
        assert not re.search(r"\b[cq]v#", line), line


def test_classifier_score_is_single_scan_no_shuffle(spark):
    plan = plan_of(spark, "classifier_score")
    assert count_shuffles(plan) <= 1  # only the rebalance_scan spread
    physical = plan.split("== Physical Plan ==")[-1]
    assert "Join" not in physical


def test_html_extract_is_pure_projection(spark):
    plan = plan_of(spark, "html_extract")
    assert count_shuffles(plan) <= 1  # only the rebalance_scan spread
    assert "Join" not in plan.split("== Physical Plan ==")[-1]


def test_web_pipeline_shape(spark):
    """Capstone shape: no cartesians, no global single-partition
    windows, and the HTML-width columns never enter a shuffle after
    extraction (the quota exchange carries cleaned text only)."""
    plan = plan_of(spark, "web_pipeline")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in physical
    assert "Exchange SinglePartition" not in physical
    assert count_shuffles(plan) <= 3  # quota window + dedup window + rebalance


def test_embedding_quantize_is_pure_projection(spark):
    plan = plan_of(spark, "embedding_quantize")
    assert count_shuffles(plan) <= 1  # rebalance spread only
    assert "Join" not in plan.split("== Physical Plan ==")[-1]


def test_gap_fill_shape(spark):
    """Raw events reduce in the FIRST shuffle; grid + fill only touch
    (key, hour) rows, the grid join stays broadcast at test SF, and
    the fill window partitions by key — never a global window."""
    plan = plan_of(spark, "gap_fill")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "Exchange SinglePartition" not in physical
    assert "CartesianProduct" not in physical
    assert count_shuffles(plan) <= 3  # hourly agg + fill window (+margin)


def test_bloom_gate_serve_is_shuffle_free(spark):
    """The corpus side of the Bloom gate is scan + codegen projection:
    no join, no hash/range exchange at all (the bitmap ships as a plan
    literal) — the property that makes it usable at 100 TB."""
    plan = plan_of(spark, "bloom_gate")
    physical = plan.split("== Physical Plan ==")[-1]
    assert count_shuffles(plan) == 0
    assert "Join" not in physical


def test_token_budget_no_global_window(spark):
    """The per-group prefix scan must never fall back to a global
    single-partition window; budget joins broadcast."""
    plan = plan_of(spark, "token_budget")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "Exchange SinglePartition" not in physical
    assert count_shuffles(plan) <= 4  # range split + agg + base join + local window reuse


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        # bottom-k window on group + estimate re-rank; targets broadcast
        ("quantile_sketch", 2),
        # same shape served from the parquet sample store
        ("qsketch_store", 2),
        # the map-side prefilter must NOT add an exchange
        ("qsketch_prefilter", 2),
        # register MAX-merge + finalize regroup
        ("hll_store", 2),
        # counter SUM-merge + probe regroup
        ("cms_store", 2),
        # artifact-weighted scoring: a single codegen scan, no shuffle
        ("classifier_file", 0),
        # trained-artifact scoring scan (training rounds run eagerly
        # at build; the SERVED plan is the same single scan)
        ("classifier_train", 0),
        ("classifier_warm", 0),
        # one group-key hash shuffle for the PPS top-k window
        ("weighted_sample", 1),
        # distinct + bottom-k window on the narrow (set, hash) stream
        ("kmv_distinct", 2),
        # sample materialized ONCE, then the bounded pairwise fan-out
        # over k-row samples (pair regroup + union re-rank + final agg)
        ("kmv_set_overlap", 4),
        # store read + bottom-k re-select + estimator regroup
        ("kmv_store", 2),
        # served distilled gate = the same single scoring scan
        ("distill_gate", 0),
    ],
)
def test_round7_sketch_store_shuffle_budget(spark, name, max_shuffles):
    assert count_shuffles(plan_of(spark, name)) <= max_shuffles


def test_round7_no_cartesians_or_global_windows(spark):
    for name in [
        "quantile_sketch", "qsketch_store", "qsketch_prefilter",
        "hll_store", "cms_store", "classifier_file", "classifier_train",
        "classifier_warm",
    ]:
        plan = plan_of(spark, name)
        physical = plan.split("== Physical Plan ==")[-1]
        assert "CartesianProduct" not in physical, name
        assert "Exchange SinglePartition" not in physical, name
        assert "SortMergeJoin" not in physical, name


def test_qsketch_prefilter_cuts_before_shuffle(spark):
    """The min_group_rows hash cutoff is a map-side Filter BELOW the
    bottom-k exchange (the whole point: rows drop before they shuffle),
    and the threshold literal matches _prefilter_threshold."""
    from openetlagent_spark.functions.quantile import _prefilter_threshold

    plan = plan_of(spark, "qsketch_prefilter")
    physical = plan.split("== Physical Plan ==")[-1]
    t = _prefilter_threshold(64, 1900)
    assert str(t) in physical, "threshold literal must appear in the physical plan"
    # the filter appears under (after, in text order) the first exchange
    exch = physical.index("Exchange hashpartitioning")
    assert physical.index(str(t)) > exch


def test_classifier_file_no_join(spark):
    """Weights arrive as a plan literal (kilobyte artifact), never a
    join: the scoring query is scan + projection only."""
    plan = plan_of(spark, "classifier_file")
    assert "Join" not in plan.split("== Physical Plan ==")[-1]


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        # store read + one (group, bucket) merge regroup
        ("rollup_store", 1),
        # hour build regroup + day coarsen regroup
        ("rollup_day", 2),
        # rollup state materialized once; served plan = stats regroup
        # + broadcast join (test below pins the no-rescan property)
        ("spike_buckets", 1),
        # counter table embeds as plan literals; the estimate filter is
        # map-side, so only the exact GROUP BY shuffles (and only
        # candidate rows reach it)
        ("heavy_hitters", 1),
        # labels + scores chain as projections over ONE scan; the
        # threshold fan-out is a map-side explode, so the single
        # exchange carries |thresholds| rows
        ("classifier_eval", 1),
        # per-batch integer matmul partials: the one exchange carries
        # |partitions| * dim^2 integer rows regardless of corpus size
        ("embedding_gram", 1),
    ],
)
def test_round8_session2_shuffle_budget(spark, name, max_shuffles):
    assert count_shuffles(plan_of(spark, name)) <= max_shuffles


def test_round8_session2_no_cartesians_or_global_windows(spark):
    for name in [
        "rollup_store", "rollup_day", "spike_buckets", "heavy_hitters",
        "classifier_eval", "embedding_gram",
    ]:
        plan = plan_of(spark, name)
        physical = plan.split("== Physical Plan ==")[-1]
        assert "CartesianProduct" not in physical, name
        assert "Exchange SinglePartition" not in physical, name
        assert "SortMergeJoin" not in physical, name


def test_spike_buckets_never_rescans_the_corpus(spark):
    """The rollup state materializes once; the SERVED spike plan reads
    the checkpointed state on both join branches — zero FileScans, one
    broadcast join (a re-scan here would double the corpus cost at
    100 TB)."""
    plan = plan_of(spark, "spike_buckets")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "FileScan parquet" not in physical
    assert "BroadcastHashJoin" in physical


def test_heavy_hitters_estimate_filter_is_map_side(spark):
    """The LEAST-of-element_at threshold filter sits BELOW the exact
    aggregation's exchange — light rows drop before they shuffle (the
    operator's whole point)."""
    plan = plan_of(spark, "heavy_hitters")
    physical = plan.split("== Physical Plan ==")[-1]
    exch = physical.index("Exchange hashpartitioning")
    m = re.search(r"Filter .*least", physical, flags=re.IGNORECASE)
    assert m, "expected the least-of-lookups estimate filter in the plan"
    assert m.start() > exch  # text order: below the exchange
    assert "Join" not in physical  # counters are plan literals, not a join


def test_classifier_eval_single_scan_no_join(spark):
    plan = plan_of(spark, "classifier_eval")
    physical = plan.split("== Physical Plan ==")[-1]
    assert physical.count("FileScan parquet") == 1
    assert "Join" not in physical


def test_bucketed_join_query_has_no_join_side_exchange(spark):
    """The harness bucketed_join: a sort-merge join whose inputs need
    NO exchange (bucketed layouts already satisfy the distribution) —
    the only shuffle is the 5-row final regroup.  This is the 100 TB
    plan; broadcast (which would also be exchange-free here) is ruled
    out by asserting the join really is SMJ."""
    plan = plan_of(spark, "bucketed_join")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "SortMergeJoin" in physical
    assert count_shuffles(plan) == 1  # groupBy regroup only
    # both join inputs read the bucketed tables directly
    assert physical.count("FileScan parquet spark_catalog.default.ela_bjoin") == 2


def test_time_weighted_avg_single_shuffle(spark):
    """lead window + final aggregate share the key partitioning."""
    plan = plan_of(spark, "time_weighted_avg")
    physical = plan.split("== Physical Plan ==")[-1]
    assert count_shuffles(plan) == 1
    assert "Exchange SinglePartition" not in physical


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        # global counter aggregate (1-row exchange) + the unique rule's
        # distinct-key exchange
        ("row_expectations", 2),
        # whatever the statement is — the demo statement's
        # COUNT(DISTINCT user_id) plans the standard two-phase
        # distinct expansion (keys+user regroup, then keys regroup)
        ("sql_transform", 2),
        # store serving: broadcast probe join + per-query top-k window
        # regroup; the index build runs eagerly at plan construction
        ("ann_store", 2),
    ],
)
def test_round8_late_shuffle_budget(spark, name, max_shuffles):
    assert count_shuffles(plan_of(spark, name)) <= max_shuffles


def test_ann_store_serving_reads_only_probed_partitions(spark):
    """The harness ann_store plan carries a cid PartitionFilter on the
    lists scan — unprobed inverted lists never leave disk — and scans
    the STORE, not the embeddings table."""
    plan = plan_of(spark, "ann_store")
    physical = plan.split("== Physical Plan ==")[-1]
    assert re.search(r"PartitionFilters: \[[^\]]*cid", physical)
    # the lists scan reads the store layout (neighbor_id, cv, cid);
    # the other scans are the bounded QUERY batch, which is allowed
    assert any("neighbor_id" in l and "cid" in l
               for l in physical.splitlines() if "FileScan parquet" in l)


# --- round 9 additions -------------------------------------------------


def test_ann_pq_serving_reads_codes_and_prunes_partitions(spark):
    """The IVF-PQ serve scans the compact CODES layer (not vectors) for
    ADC, prunes both the lists and refine scans to the probed cids
    (PartitionFilters), and never rescans the embeddings table."""
    plan = plan_of(spark, "ann_pq")
    physical = plan.split("== Physical Plan ==")[-1]
    part_filtered = [
        l for l in physical.splitlines()
        if "FileScan parquet" in l and re.search(r"PartitionFilters: \[[^\]]*cid", l)
    ]
    assert len(part_filtered) >= 2, "lists AND refine scans must partition-prune"
    assert any("codes" in l for l in part_filtered), "ADC must scan the codes layer"


def test_ann_pq_adc_cut_before_refine_join(spark):
    """The refine join input is the ADC top-(k*refine_factor) cut —
    a row_number window runs BEFORE the refine-side join, so the
    full-precision layer is joined against a bounded candidate set."""
    plan = plan_of(spark, "ann_pq")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "RunningWindowFunction" in physical or "Window" in physical
    # two windows total: the ADC cut and the final rank
    assert len(re.findall(r"\bWindow\b", physical)) >= 2


def test_image_decode_is_scan_plus_mapinpandas_only(spark):
    """Real image decode is embarrassingly parallel: one documents
    scan, two mapInPandas stages (encode, decode/featurize), zero
    shuffles, no joins."""
    plan = plan_of(spark, "image_decode")
    physical = plan.split("== Physical Plan ==")[-1]
    assert count_shuffles(plan) == 0
    assert "Join" not in physical
    assert physical.count("MapInPandas") == 2


def test_sql_join_broadcasts_the_dimension_view(spark):
    """The multi-input sql_transform joins orders against the small
    customer view — Catalyst must broadcast the dimension side across
    the SQL boundary like any native plan."""
    plan = plan_of(spark, "sql_join")
    assert "BroadcastHashJoin" in plan


def test_ann_store_append_serving_prunes_partitions(spark):
    """Serving from a grown store keeps the probed-cid PartitionFilter
    — appended files land inside the cid= directories, so pruning is
    unchanged."""
    plan = plan_of(spark, "ann_store_append")
    physical = plan.split("== Physical Plan ==")[-1]
    assert re.search(r"PartitionFilters: \[[^\]]*cid", physical)


def test_row_expectations_single_exchange_with_expr_rule(spark):
    """The expr + severity extension keeps the one-scan summary shape:
    a single 1-row exchange carries every counter."""
    plan = plan_of(spark, "row_expectations")
    assert count_shuffles(plan) <= 1


def test_ohlc_bars_single_shuffle(spark):
    """One (key, bucket) exchange; the min_by/max_by aggregates run a
    map-side PARTIAL pass (the exchange carries |keys|·|buckets|
    partials, not raw rows)."""
    plan = plan_of(spark, "ohlc_bars")
    assert count_shuffles(plan) <= 1
    physical = plan.split("== Physical Plan ==")[-1]
    assert "partial_min_by" in physical and "partial_max_by" in physical


def test_knn_label_votes_after_topk_cut(spark):
    """The label join and vote aggregate run on the bounded top-k
    frame; the store serve keeps its probed-cid PartitionFilter."""
    plan = plan_of(spark, "knn_label")
    physical = plan.split("== Physical Plan ==")[-1]
    assert re.search(r"PartitionFilters: \[[^\]]*cid", physical)


def test_dataset_drift_reduces_before_join(spark):
    """One (bin) aggregate shuffle; the totals side is a broadcast —
    the corpus never reaches the join at its own width."""
    plan = plan_of(spark, "dataset_drift")
    assert count_shuffles(plan) <= 2  # partial counts + 1-row totals
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_association_rules_no_corpus_self_join(spark):
    """Baskets collapse to per-user sorted sets before pairs expand
    (JVM array expression, no corpus-sized self-join); the item
    marginals and the 1-row basket total enter as broadcasts."""
    plan = plan_of(spark, "association_rules")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastExchange" in physical
    assert "SortMergeJoin" not in physical
    # set-agg (×3 branches at worst), pair count, marginal count —
    # every one over vocabulary-bounded data after the first
    assert count_shuffles(plan) <= 5


def test_markov_transitions_one_sequence_shuffle(spark):
    """The lead window co-locates each user's stream (one exchange);
    the transition count is map-side combined into the vocab²-sized
    table, and per-source totals are window sums over that table —
    never a second corpus shuffle."""
    plan = plan_of(spark, "markov_transitions")
    physical = plan.split("== Physical Plan ==")[-1]
    # sequence window, count, per-src window, final order-by range
    assert count_shuffles(plan) <= 4
    assert "partial_count" in physical


def test_changepoint_counts_before_windows(spark):
    """One map-side-combined (key, day) count shuffle; every window
    runs over the keys×days table, not the corpus."""
    plan = plan_of(spark, "changepoint")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "partial_count" in physical
    # count exchange + per-key window + final order-by range
    assert count_shuffles(plan) <= 3


def test_skyline_prunes_through_buckets_before_global_sort(spark):
    """Stage 1's windows partition by the hash bucket (a parallel,
    lossless prune); only survivors reach the single-partition global
    RANGE window — the plan must show the bucketed partitioning
    FEEDING the global one, and no quadratic join anywhere."""
    plan = plan_of(spark, "skyline")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "Join" not in physical  # sort-based, never NOT-EXISTS
    assert re.search(r"hashpartitioning\(bucket", physical)


@pytest.mark.parametrize("name", ["ewma", "rolling_median"])
def test_smoothers_one_key_shuffle(spark, name):
    """One key co-location exchange feeds the bounded ROWS window;
    the per-row state is O(lookback/window_rows), never a whole-series
    collect, and no join appears anywhere."""
    plan = plan_of(spark, name)
    physical = plan.split("== Physical Plan ==")[-1]
    assert "Join" not in physical
    # key window partitioning + final order-by range partitioning
    assert count_shuffles(plan) <= 2


def test_label_propagation_rounds_are_mode_cuts(spark):
    """Every round truncates through materialize() (the labels frame
    is referenced twice per round — without per-round truncation the
    plan doubles, the connected_components failure mode), so the
    visible plan is just the community-size window + final sort over
    the last checkpoint: one ExistingRDD leaf, no cartesian, and at
    most the two post-loop exchanges."""
    plan = plan_of(spark, "label_propagation")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in physical
    assert "ExistingRDD" in physical  # the per-round materialize() boundary
    assert count_shuffles(plan) <= 2  # size window + final order-by


def test_temperature_mixture_one_count_shuffle(spark):
    """The corpus reduces to a materialized |sources|-row count table
    (Scan ExistingRDD — the one corpus scan + count shuffle ran inside
    the boundary); the denominator enters as a 1-row broadcast and the
    only remaining exchange is the final order-by."""
    plan = plan_of(spark, "temperature_mixture")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "ExistingRDD" in physical  # the materialize() boundary
    assert "BroadcastNestedLoopJoin" in physical or "BroadcastExchange" in physical
    assert count_shuffles(plan) <= 2  # denominator agg + order-by range


def test_kcore_truncates_every_round(spark):
    """Alive sets truncate through materialize() per round (the
    double-endpoint-reference plan rule), so the visible plan is the
    final degree count over checkpointed frames: ExistingRDD leaves,
    no cartesian, bounded exchanges."""
    plan = plan_of(spark, "kcore")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in physical
    assert "ExistingRDD" in physical
    # the final report's two endpoint semi-joins shuffle both sides
    # (checkpointed frames carry no size stats for the broadcast
    # heuristic; at scale the alive set may legitimately be large),
    # plus the degree count and the order-by
    assert count_shuffles(plan) <= 6


def test_skipgram_pairs_scan_local_expansion(spark):
    """Pairs expand as shifted zip_withs inside the scan projection —
    no self-join on position anywhere; one map-side-combined count
    exchange plus the final order-by."""
    plan = plan_of(spark, "skipgram_pairs")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "Join" not in physical
    assert "partial_count" in physical
    assert count_shuffles(plan) <= 2


def test_negative_sampling_vocab_rows_only(spark):
    """The corpus reduces to a materialized vocabulary-row count
    table; the fold total broadcasts; TakeOrdered handles the cut."""
    plan = plan_of(spark, "negative_sampling")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "ExistingRDD" in physical
    assert "BroadcastNestedLoopJoin" in physical or "BroadcastExchange" in physical
    assert "TakeOrderedAndProject" in physical


def test_layout_audit_is_metadata_scale(spark):
    """One 1-row bounds broadcast + one n_ranges-row count exchange —
    no sort, no join beyond the broadcast."""
    plan = plan_of(spark, "layout_audit")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastNestedLoopJoin" in physical or "BroadcastExchange" in physical
    assert "SortMergeJoin" not in physical
    assert count_shuffles(plan) <= 2  # slice count + final order-by


# --- round 10 ----------------------------------------------------------------


def test_quantile_bins_rank_avoids_group_key_sort(spark):
    """quantile_bins must never sort the corpus through a window
    partitioned on the 3-value return flag (one task would own a third
    of the data).  The two-phase rewrite ranks inside range partitions:
    the only window partition key is the synthetic pid (balanced by the
    range exchange), and the visible plan carries no l_returnflag
    hash exchange or ntile at all."""
    plan = plan_of(spark, "quantile_bins")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "ntile" not in physical.lower()
    assert not re.search(r"hashpartitioning\(l_returnflag", physical)
    assert re.search(r"hashpartitioning\(_x_pid", physical), physical[:2000]
    # the range exchange runs inside the materialize boundary
    assert "ExistingRDD" in physical


def test_jpeg_decode_is_scan_plus_mapinpandas_only(spark):
    """Baseline-JPEG decode is embarrassingly parallel like the other
    media paths: one documents scan, two mapInPandas stages (JFIF
    synth, huffman+iDCT decode/featurize), zero shuffles, no joins."""
    plan = plan_of(spark, "jpeg_decode")
    physical = plan.split("== Physical Plan ==")[-1]
    assert count_shuffles(plan) == 0
    assert "Join" not in physical
    assert physical.count("MapInPandas") == 2


def test_jpeg_progressive_is_scan_plus_mapinpandas_only(spark):
    """Progressive-JPEG decode keeps the media plan shape: one
    documents scan, two mapInPandas stages (multi-scan SOF2 synth,
    progressive huffman+iDCT decode/featurize), zero shuffles."""
    plan = plan_of(spark, "jpeg_progressive")
    physical = plan.split("== Physical Plan ==")[-1]
    assert count_shuffles(plan) == 0
    assert "Join" not in physical
    assert physical.count("MapInPandas") == 2


def test_video_frames_is_three_mapinpandas_no_shuffle(spark):
    """Video → frames → image features is embarrassingly parallel:
    three mapInPandas stages (Y4M synth, frame sampling, PNG decode),
    zero shuffles, no joins."""
    plan = plan_of(spark, "video_frames")
    physical = plan.split("== Physical Plan ==")[-1]
    assert count_shuffles(plan) == 0
    assert "Join" not in physical
    assert physical.count("MapInPandas") == 3


def test_audio_features_is_two_mapinpandas_no_shuffle(spark):
    """Audio synth + decode/featurize: two mapInPandas stages, zero
    shuffles, no joins — same embarrassingly-parallel shape as images."""
    plan = plan_of(spark, "audio_features")
    physical = plan.split("== Physical Plan ==")[-1]
    assert count_shuffles(plan) == 0
    assert "Join" not in physical
    assert physical.count("MapInPandas") == 2


def test_interval_join_single_equi_shuffle_no_cartesian(spark):
    """The interval overlap join must plan as ONE (key, bucket)
    equi-shuffle pair — never a nested-loop/cartesian on the
    inequality predicate, never a dedup exchange."""
    plan = plan_of(spark, "interval_join")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in physical
    assert "BroadcastNestedLoopJoin" not in physical
    assert count_shuffles(plan) <= 2  # one per side of the equi-join


def test_fuzzy_dedup_no_cartesian_and_anti_join(spark):
    """Entity resolution composes blocked pairs -> components ->
    keep-best: never a cartesian, and the corpus leaves through one
    broadcast anti join (losers are a bounded set at any SF)."""
    plan = plan_of(spark, "fuzzy_dedup")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in physical
    assert "LeftAnti" in physical


def test_snapshot_diff_sort_merge_full_outer(spark):
    """Both snapshots are corpus-scale: the diff must plan as a
    co-partitioned sort-merge FULL OUTER join, never a broadcast of
    either side."""
    plan = plan_of(spark, "snapshot_diff")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "SortMergeJoin" in physical and "FullOuter" in physical


def test_join_cardinality_joins_count_tables_only(spark):
    """The audit join runs over per-key COUNT tables (partial
    aggregation below the exchange), the 1-row total broadcasts, and
    the top-k plans as TakeOrdered — never a global sort."""
    plan = plan_of(spark, "join_cardinality")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "TakeOrderedAndProject" in physical
    assert "BroadcastNestedLoopJoin" in physical or "BroadcastExchange" in physical
    assert physical.count("partial_count") >= 2


def test_grouped_quantiles_avoids_group_key_sort(spark):
    """Same contract as quantile_bins: the per-group quantile cut must
    rank inside range partitions (pid window), never sort a third of
    the corpus under one 3-value window key."""
    plan = plan_of(spark, "grouped_quantiles")
    physical = plan.split("== Physical Plan ==")[-1]
    # the only window runs per-pid; the flag appears in the final
    # 3-row aggregation exchange, never as a window partition key
    assert not re.search(r"windowspecdefinition\(l_returnflag", physical)
    assert re.search(r"hashpartitioning\(_x_pid", physical), physical[:1500]
    assert "ExistingRDD" in physical
    assert "ntile" not in physical.lower()


def test_ann_sq8_broadcasts_stats_and_queries(spark):
    """SQ8 scoring: the 1-row stats aggregate and the query batch both
    broadcast; the corpus is scanned once and never shuffled at vector
    width (the only exchanges carry the per-query candidate windows)."""
    plan = plan_of(spark, "ann_sq8")
    physical = plan.split("== Physical Plan ==")[-1]
    assert physical.count("BroadcastExchange") >= 2
    assert "SortMergeJoin" not in physical
    assert count_shuffles(plan) <= 2  # ADC cut window + re-rank window


def test_dataset_manifest_single_pass(spark):
    """The manifest is ONE map-side-combined aggregation: a single
    1-row exchange carries every counter; no join, no sort."""
    plan = plan_of(spark, "dataset_manifest")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "Join" not in physical
    assert count_shuffles(plan) <= 1


def test_scd2_snapshot_filter_no_join(spark):
    """The point-in-time read is a pair of range predicates over the
    history — no join, the one window is the history build itself."""
    plan = plan_of(spark, "scd2_snapshot")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "Join" not in physical


def test_fk_orphans_anti_join_on_aggregated_keys(spark):
    """Every FK check is a LeftAnti equi-join against the DISTINCT
    parent keyset (Catalyst's PushDownLeftSemiAntiJoin may inline the
    anti-join below the histogram aggregate when the parent keyset
    broadcasts — both shapes exchange each key once and never build a
    row×row join).  Pin: exactly 5 joins, all LeftAnti — a regression
    to inner/outer joins or a nested-loop would show here."""
    plan = plan_of(spark, "fk_orphans")
    physical = plan.split("== Physical Plan ==")[-1]
    joins = re.findall(r"(?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)[^\n]*", physical)
    assert len(joins) == 5, f"expected 5 FK joins, got: {joins}"
    assert all("LeftAnti" in j for j in joins), joins


def test_k_anonymity_single_groupby(spark):
    plan = plan_of(spark, "k_anonymity")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "Join" not in physical
    assert count_shuffles(plan) <= 1


def test_benford_no_querytime_log(spark):
    """Benford's expected fractions are plan literals — no LOG10 call
    anywhere in the optimized plan; the single non-scalar exchange is
    the 9-bucket digit group-by."""
    plan = plan_of(spark, "benford_audit")
    assert "LOG10" not in plan.upper().replace("CATALOG", "")
    physical = plan.split("== Physical Plan ==")[-1]
    # digit agg (1 exchange) + 1-row total agg (SinglePartition, not hash/range)
    assert count_shuffles(plan) <= 1


def test_seasonal_baseline_one_corpus_shuffle(spark):
    """The key totals are window sums over the (keys × 7)-row
    aggregate — the corpus is scanned once and exchanged once on
    (key, dow); the window's key exchange moves aggregate rows only."""
    plan = plan_of(spark, "seasonal_baseline")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "Join" not in physical
    assert plan.count("FileScan") == 1
    assert count_shuffles(plan) <= 2  # (key,dow) agg + key window, both keyed


def test_autocorr_joins_aggregates_not_corpus(spark):
    """The lag self-join runs on the |days|-row aggregate: both join
    inputs sit above HashAggregate, and the day table broadcasts."""
    plan = plan_of(spark, "autocorr")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in physical
    assert "SortMergeJoin" not in physical


def test_link_prediction_takeordered_no_cartesian(spark):
    """The top-k cut must be TakeOrdered (never a global sort) and the
    pair generation an array expand — no item×item cartesian."""
    df = HARNESS_QUERIES["link_prediction"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_item_similarity_no_cartesian(spark):
    plan = plan_of(spark, "item_similarity")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ols_fit_single_pass(spark):
    """Power-sum OLS: one corpus scan, one keyed exchange, no join."""
    plan = plan_of(spark, "ols_fit")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "Join" not in physical
    assert plan.count("FileScan") == 1
    assert count_shuffles(plan) <= 1


def test_chi2_cross_join_is_aggregate_level(spark):
    """The cell lattice crosses the two MARGIN AGGREGATES (bounded by
    the category domains) — the corpus itself is never crossed: every
    FileScan feeds a HashAggregate before any join."""
    plan = plan_of(spark, "chi2_independence")
    physical = plan.split("== Physical Plan ==")[-1]
    # margins and observed each scan once
    assert physical.count("FileScan") <= 3
    assert "CartesianProduct" not in physical
    # every scan is aggregated before any join consumes it: the first
    # join operator in the tree (printed above its children) must have
    # only aggregate-fed subtrees — no raw-scan join input.  Textual
    # proxy: each FileScan line sits below (after) a HashAggregate line.
    lines = physical.splitlines()
    agg_seen = False
    for ln in lines:
        if "HashAggregate" in ln:
            agg_seen = True
        if "FileScan" in ln:
            assert agg_seen, "a FileScan feeds a join before any aggregation"


def test_gini_windows_over_aggregate_only(spark):
    """Lorenz/Gini windows run on the |sources|-row aggregate — one
    corpus scan, one keyed exchange, no join; the global windows sit
    ABOVE the HashAggregate (bounded frame, per the PLANS.md global-
    window rule)."""
    plan = plan_of(spark, "gini_sources")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "Join" not in physical
    assert plan.count("FileScan") == 1
    assert count_shuffles(plan) <= 1


def test_ab_test_single_conditional_pass(spark):
    """Both cohorts' power sums come from ONE conditional aggregate —
    no join, no second scan, and the cohort filter reaches the scan."""
    plan = plan_of(spark, "ab_test")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "Join" not in physical
    assert plan.count("FileScan") == 1
    pushed = [l for l in plan.splitlines() if "PushedFilters: [" in l]
    assert any("event_type" in l for l in pushed)


def test_text_readability_zero_shuffle_projection(spark):
    plan = plan_of(spark, "text_readability")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "Join" not in physical and "Exchange" not in physical
    assert count_shuffles(plan) == 0


def test_attribution_single_user_window(spark):
    """One window over user_id (corpus-cardinality key), no join, one
    keyed exchange."""
    plan = plan_of(spark, "attribution")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "Join" not in physical
    assert count_shuffles(plan) <= 1


def test_rfm_no_global_window_sort(spark):
    """The three quintile ranks run on the two-phase grouped prefix
    rank (range exchanges + pid-local windows) — never a plain
    ORDER-BY window whose single partition would sort every user on
    one task."""
    plan = plan_of(spark, "rfm_segments")
    physical = plan.split("== Physical Plan ==")[-1]
    import re as _re
    # every Window's partition spec must include a pid or group column
    # (two-phase shape) — a global rank would print windowspecdefinition
    # with an empty partition list
    for m in _re.finditer(r"Window \[[^\n]*", physical):
        frag = m.group(0)
        assert "windowspecdefinition(_x_" in frag or "windowspecdefinition(pid" in frag or "_x_pid" in frag, frag


def test_target_encode_no_second_corpus_scan_shape(spark):
    """The encode is category-aggregate JOIN corpus + a 1-row global
    broadcast — at most the aggregate exchanges; never a corpus
    self-join."""
    plan = plan_of(spark, "target_encode")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in physical
    assert physical.count("BroadcastNestedLoopJoin") <= 1  # the 1-row global


def test_ks_cumsum_is_pid_local(spark):
    """The ECDF running sums come from the two-phase prefix scan —
    every cumulative window is partitioned by the range-partition id,
    never an empty-spec global ORDER BY over the value set."""
    plan = plan_of(spark, "ks_test")
    physical = plan.split("== Physical Plan ==")[-1]
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", physical):
        spec = m.group(1)
        if "ASC" in spec or "DESC" in spec:
            assert "_x_pid" in spec, f"global ordered window leaked: {spec}"


# --- flow job and plan budget -------------------------------------------------

BENCHMARK_FLOWS = ["enriched_orders", "profit_by_region_category",
                   "country_sales_summary", "refresh_audit"]
EXAMPLES = Path(__file__).resolve().parents[1] / "examples"


def _example_config(tmp_path):
    """examples/config.yaml with inputs at examples/input_folder and
    outputs under ``tmp_path``."""
    cfg = yaml.safe_load((EXAMPLES / "config.yaml").read_text())
    for fd in cfg["inputs"].values():
        fd["path"] = str(EXAMPLES.parent / fd["path"])
    for key, fd in cfg["outputs"].items():
        fd["path"] = str(tmp_path / key)
    path = tmp_path / "config.yaml"
    path.write_text(yaml.safe_dump(cfg, sort_keys=False))
    return load_pipeline_config(str(path))


def _python_eval_nodes(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [n for n in ("ArrowEvalPython", "BatchEvalPython") if n in plan]


@pytest.mark.parametrize("name", BENCHMARK_FLOWS)
def test_benchmark_flow_runs_no_job_before_save_and_no_python(spark, tmp_path, name):
    """Scanning (driver-read CSV headers), binding and the compiled
    ``application`` lambda launch no Spark job: the save is the flow's
    first.  No Python worker runs in its plan."""
    config = _example_config(tmp_path)
    flow = load_pipeline_flow(str(EXAMPLES / "pipelines" / f"{name}.yaml"))
    sc = spark.sparkContext
    build, save = f"flow-budget/{name}:build", f"flow-budget/{name}:save"
    try:
        sc.setJobGroup(build, build)
        result, ok, feedback = run_flow(spark, config, flow, name, save=False)
        assert ok, feedback
        sc.setJobGroup(save, save)
        save_data(result, config.outputs[name])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    assert list(tracker.getJobIdsForGroup(build)) == []
    assert len(tracker.getJobIdsForGroup(save)) >= 1
    assert _python_eval_nodes(result) == []


def test_benford_flow_lambda_still_plans_udf(spark):
    """``(x * 100).round(0)`` is a numpy method, outside the compiled
    subset: it keeps the pandas UDF."""
    flow = load_pipeline_flow(str(EXAMPLES / "pipelines" / "benford_fraud_screen.yaml"))
    op = next(o for o in flow.operations if o.operation_type == "application")
    df = spark.createDataFrame([(123.45,)], "o_totalprice double")
    assert _python_eval_nodes(apply_application(df, op)) == ["ArrowEvalPython"]
