#!/usr/bin/env python
"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].  Prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec", "queries":
{name: sec}, "sf": ...}.

Each query is forced to full materialization with the ``noop`` sink —
every row is computed and serialized through the physical plan, but no
driver-side collect or disk write distorts the timing.

MEASUREMENT PROTOCOL: per-query numbers are comparable ONLY between
full warm runs of this script.  A query timed alone in a fresh process
reads 3-4× slower (JVM + Python-worker startup, cold code cache), and
the first queries of any run absorb shared warm-up; round-over-round
deltas under ~1.5× on individual queries are bench variance, not
regressions — re-measure at the suspect's old commit before concluding
anything.  Besides the single stdout JSON line (driver contract), the
full result is also written to BENCH_LOCAL.json beside this script so
per-query history survives any driver-side tail truncation.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from openetlagent_spark.plans import HARNESS_QUERIES  # noqa: E402
from openetlagent_spark.session import (  # noqa: E402
    class_archive_state,
    free_local_checkpoints,
    get_spark,
)

# Headline set: the flagship plus the operators whose plans are
# interesting at scale (joins, shuffles, pivot, UDF path), plus the
# training-data extension pipelines (dedup, similarity, text, events).
HEADLINE = [
    "flagship",
    "aggregation",
    "bind",
    "window",
    "unfold",
    "fold",
    "filter",
    "switching",
    "application",
    "sort_limit",
    "text_stats",
    "text_quality",
    "lang_id",
    "fingerprint",
    "dedup_exact",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_ngram",
    "dedup_embedding",
    "ann_cosine_topk",
    "events_window",
    "sessionize",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q4",
    "tpch_q10",
    "tpch_q12",
    "tpch_q14",
    "tpch_q18",
    "tpch_q2",
    "tpch_q7",
    "tpch_q19",
    "tpch_q22",
    "tpch_q8",
    "tpch_q9",
    "tpch_q11",
    "tpch_q13",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q20",
    "tpch_q21",
    "asof_join",
    "asof_tolerance",
    "range_join",
    "rollup",
    "grouping_sets",
    "window_moving_avg",
    "topk_per_group",
    "approx_distinct",
    "explode_tokens",
    "dataset_split",
    "contamination",
    "pack_sequences",
    "dataset_mixture",
    "window_range_frame",
    "window_distribution",
    "funnel",
    "bind_multikey",
    "bind_salted",
    "set_intersect",
    "stream_dedup",
    "stream_enrich",
    "stream_join",
    "stream_sink",
    "session_window",
    "doc_repetition",
    "sorted_layout",
    "zorder_layout",
    "multimodal_features",
    "merge_changes",
    "scd2_history",
    "stratified_sample",
    "chunk_docs",
    "dedup_substring",
    "vocab_oov",
    "bm25_topk",
    "inverted_index",
    "kmeans_clusters",
    "diversity_sample",
    "incremental_dedup",
    "curation_pipeline",
    "profile_table",
    "bpe_pairs",
    "compacted_layout",
    "value_histogram",
    "unicode_nfc",
    "outlier_flags",
    "exact_distinct",
    "fuzzy_join",
    "tfidf_topk",
    "bigram_lm",
    "robust_scale",
    "quantile_bins",
    "cooccurrence_pairs",
    "window_distinct_users",
    "cohort_retention",
    "doc_lm_score",
    "running_totals",
    "stats_skew",
    "stats_corr",
    "global_shuffle",
    "quantile_filter",
    "embedding_stats",
    "partitioned_layout",
    "top_p_sources",
    "near_contamination",
    "dedup_keep_best",
    "event_paths",
    "incremental_neardup",
    "bpe_train",
    "bpe_encode",
    "events_sliding",
    "embedding_centroids",
    "semantic_dedup",
    "gopher_rules",
    "ccnet_buckets",
    "line_dedup",
    "neardup_store",
    "dedup_store",
    "tokenize_ids",
    "curriculum_order",
    "skew_report",
    "training_shards",
    "trending_topk",
    "doc_novelty",
    "source_overlap",
    "url_normalize",
    "domain_quota",
    "image_neardup",
    "line_dedup_lang",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "classifier_score",
    "domain_rank",
    "html_extract",
    "web_pipeline",
    "token_budget",
    "embedding_quantize",
    "gap_fill",
    "bloom_gate",
    "hll_distinct",
    "cms_counts",
    "quantile_sketch",
    "qsketch_store",
    "qsketch_prefilter",
    "hll_store",
    "cms_store",
    "classifier_file",
    "classifier_train",
    "classifier_warm",
    "weighted_sample",
    "kmv_distinct",
    "kmv_set_overlap",
    "kmv_store",
    "distill_gate",
    "rollup_store",
    "rollup_day",
    "spike_buckets",
    "heavy_hitters",
    "classifier_eval",
    "embedding_gram",
    "time_weighted_avg",
    "bucketed_join",
    "row_expectations",
    "sql_transform",
    "ann_store",
    # round 9: full coverage — every registered query benches (the
    # formerly benchless core ops, set ops, analytics rows, and the
    # round-9 additions), so BENCH_LOCAL has a complete time series
    "equality",
    "concatenation",
    "assignation",
    "casting",
    "arithmetic",
    "comparison",
    "distinct",
    "union",
    "bind_outer",
    "bind_cross",
    "bind_semi",
    "bind_anti",
    "fold_mixed",
    "agg_stats",
    "window_lag",
    "window_first_last",
    "json_extract",
    "sample_hash",
    "percentile",
    "set_except",
    "cube",
    "dedup_clusters",
    "stats_moments",
    "text_scrub",
    "image_decode",
    "jpeg_decode",
    "jpeg_progressive",
    "sql_join",
    "ann_store_append",
    "pq_codebooks",
    "ann_pq",
    "ohlc_bars",
    "triangle_count",
    "knn_label",
    "dataset_drift",
    "collocations",
    "association_rules",
    "markov_transitions",
    "changepoint",
    "skyline",
    "ewma",
    "rolling_median",
    "label_propagation",
    "temperature_mixture",
    "kcore",
    "skipgram_pairs",
    "negative_sampling",
    "layout_audit",
    # round 10
    "video_frames",
    "audio_features",
    "interval_join",
    "fuzzy_dedup",
    "grouped_quantiles",
    "snapshot_diff",
    "join_cardinality",
    "ann_sq8",
    "dataset_manifest",
    "scd2_snapshot",
    "fk_orphans",
    "k_anonymity",
    "benford_audit",
    "seasonal_baseline",
    "autocorr",
    "link_prediction",
    "item_similarity",
    "ols_fit",
    "chi2_independence",
    "gini_sources",
    "ab_test",
    "bfs_reach",
    "text_readability",
    "attribution",
    "rfm_segments",
    "lift_table",
    "target_encode",
    "ks_test",
    "mad_outliers",
    "crosscorr",
    "user_streaks",
    "dwell_stats",
    "wow_growth",
    "reconcile_totals",
    "growth_accounting",
]


# Drift canary (r12 VERDICT task 7): a fixed 10-query reference-plan
# set timed 3× once per full bench session.  Round-over-round, the
# canary medians separate host drift from real regression: if the
# canaries moved together on plans nobody touched, the window is
# hot/cold and the headline totals are not comparable across rounds;
# if one headline query moved while the canaries held, that's a
# regression.  Never change this list — its value is that the plans
# stay frozen across rounds.  r14 (r13 VERDICT task 3): the canary now
# runs AFTER the headline loop — running it first gave the headline's
# early slots free JIT/code-cache warm-up that no pre-canary round
# had, biasing cross-round sf0.1 totals.  The headline loop now starts
# exactly as cold as r12's did; drift attribution does not care where
# in the session the canary sits.
CANARY = [
    "flagship", "tpch_q1", "tpch_q6", "tpch_q21", "window",
    "aggregation", "dedup_minhash", "ann_pq", "jpeg_decode",
    "semantic_dedup",
]
CANARY_LEGS = 3


def _run_canary(spark, sf_dir: str) -> dict:
    legs: dict[str, list[float]] = {q: [] for q in CANARY}
    for _ in range(CANARY_LEGS):
        for name in CANARY:
            fn = HARNESS_QUERIES[name]
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            legs[name].append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
            free_local_checkpoints(spark)
    # median of 3 — robust to the one-leg blips that forced past rounds
    # into re-measure archaeology
    return {
        "legs": legs,
        "median": {q: sorted(ts)[len(ts) // 2] for q, ts in legs.items()},
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # Optional subset filter (comma-separated names) — used by the
    # SCALE.md growth study to time specific queries at larger SFs.
    only = os.environ.get("SPARK_GRAFT_QUERIES")
    headline = [q for q in HEADLINE if q in only.split(",")] if only else HEADLINE

    t0 = time.time()
    spark = get_spark("bench")
    session = {"get_spark_s": round(time.time() - t0, 3),
               "class_archive": class_archive_state(spark)}
    # Warm the JVM/codegen once so per-query numbers measure the plan,
    # not session startup.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    timings: dict[str, float] = {}
    for name in headline:
        fn = HARNESS_QUERIES.get(name)
        if fn is None:
            continue
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 3)
        # release operator-internal materializations (cached plans and
        # eager localCheckpoint blocks — the JVM can hold checkpoint
        # references past Python GC) so successive queries don't
        # accumulate executor storage for the whole bench session
        spark.catalog.clearCache()
        free_local_checkpoints(spark)

    # Canary runs on full sessions only (subset runs are growth-study
    # probes at other SFs); SPARK_GRAFT_CANARY=0 skips it explicitly.
    # Placed after the headline loop so it cannot warm it (r13 VERDICT
    # task 3).
    canary = None
    if only is None and os.environ.get("SPARK_GRAFT_CANARY", "1") != "0":
        canary = _run_canary(spark, sf_dir)

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if canary is not None:
        payload["canary"] = canary
    # Sibling artifact with the COMPLETE per-query map: the driver
    # records only a truncated tail of stdout, which has forced past
    # rounds to reconstruct timings by regex.  Session set-up goes
    # there only; the stdout line keeps its fields.
    try:
        local = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json")
        with open(local, "w") as fh:
            json.dump({**payload, "session": session}, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: stdout line still carries the data
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
