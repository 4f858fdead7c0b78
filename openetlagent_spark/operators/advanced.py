"""Flow-op adapters for the north-star operators (dedup, similarity,
asof join, range join) — thin spec→function bridges so a GENERATED
pipeline (the reference's LLM flow path, app/main.py:85-283) can reach
the training-data operators through the same YAML dispatch as the
parity ops.  All heavy lifting lives in functions/{dedup,similarity,
asof,range_join}.py; these adapters only resolve secondary frames
(bind's named-input-or-path convention) and map spec fields to keyword
arguments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import (
    AsofJoinOperation,
    ChunkOperation,
    ClusteringOperation,
    ContaminationOperation,
    DedupOperation,
    IncrementalDedupOperation,
    InvertedIndexOperation,
    BigramLmOperation,
    DocLmScoreOperation,
    FuzzyPairsOperation,
    KeywordSearchOperation,
    TfidfOperation,
    MergeOperation,
    MixtureOperation,
    HistogramOperation,
    OutlierOperation,
    PackSequencesOperation,
    ProfileOperation,
    ProvenanceOperation,
    RangeJoinOperation,
    RepetitionOperation,
    Scd2Operation,
    ScrubOperation,
    SimilarityOperation,
    SnapshotDiffOperation,
    SplitAssignOperation,
    StratifiedSampleOperation,
    VocabOovOperation,
)
from .base import Inputs, read_input, require_columns
from .bind import resolve_side


def apply_contamination(
    df: DataFrame,
    op: ContaminationOperation,
    spark: SparkSession,
    inputs: Inputs | None = None,
) -> DataFrame:
    """Benchmark-contamination check: current frame = corpus, benchmark
    resolved like bind's right side.  mode='annotate' returns the
    per-doc overlap stats; mode='filter' drops contaminated rows from
    the ORIGINAL frame (all columns preserved)."""
    from ..functions.curation import contamination_check, near_contamination

    bench_df = resolve_side(spark, op.benchmark_path, op.benchmark_schema_columns, inputs)
    if op.strategy == "near":
        bench_side = bench_df
        if op.benchmark_text_column and op.benchmark_text_column != op.text_column:
            bench_side = bench_df.withColumnRenamed(
                op.benchmark_text_column, op.text_column
            )
        pairs = near_contamination(
            df,
            bench_side,
            id_col=op.id_column,
            text_col=op.text_column,
            threshold=op.jaccard_threshold,
            num_perm=op.num_perm,
            bands=op.bands,
            shingle_size=op.ngram_size,
            max_bucket=op.max_bucket,
        )
        if op.mode == "annotate":
            return pairs
        bad = pairs.select(F.col("corpus_id").alias(op.id_column)).distinct()
        return df.join(bad, op.id_column, "left_anti")
    ann = contamination_check(
        df,
        bench_df,
        id_col=op.id_column,
        text_col=op.text_column,
        bench_text_col=op.benchmark_text_column or None,
        n=op.ngram_size,
        rate_threshold=op.rate_threshold,
    )
    if op.mode == "annotate":
        return ann
    bad = ann.filter(F.col("contaminated")).select(op.id_column)
    return df.join(bad, op.id_column, "left_anti")


def apply_provenance(df: DataFrame, op: "ProvenanceOperation") -> DataFrame:
    """Stamp rows with their source-file lineage from the hidden
    ``_metadata`` struct (file-scan frames only)."""
    exprs = {
        "path": F.col("_metadata.file_path"),
        "name": F.col("_metadata.file_name"),
        "size": F.col("_metadata.file_size"),
        "mtime": F.col("_metadata.file_modification_time"),
    }
    clash = [f"{op.column_prefix}{f}" for f in op.fields
             if f"{op.column_prefix}{f}" in df.columns]
    if clash:
        raise ValueError(
            f"provenance: output column(s) {clash} already exist in the frame "
            "— withColumn would silently overwrite user data; pick another "
            "column_prefix"
        )
    try:
        out = df
        for f_name in op.fields:
            out = out.withColumn(f"{op.column_prefix}{f_name}", exprs[f_name])
        out.schema  # force analysis so a missing _metadata fails HERE
        return out
    except Exception as exc:  # noqa: BLE001 — re-raise with an actionable message
        if "_metadata" in str(exc) or "UNRESOLVED_COLUMN" in str(exc):
            raise ValueError(
                "provenance: this frame has no file lineage (_metadata is "
                "only defined on frames read directly from files; apply "
                "provenance BEFORE joins/aggregations that lose it)"
            ) from exc
        raise


def apply_scrub(df: DataFrame, op: "ScrubOperation") -> DataFrame:
    """Redact a string column in place (or into output_column)."""
    from ..functions.curation import scrub_text

    rules = [tuple(r) for r in op.rules] or None
    out_col = op.output_column or op.input_column
    return df.withColumn(out_col, scrub_text(F.col(op.input_column), rules))


def apply_repetition(df: DataFrame, op: "RepetitionOperation") -> DataFrame:
    """Add dup_{n}gram_frac columns for each configured n."""
    from ..functions.text import with_repetition

    return with_repetition(df, text_col=op.input_column, ns=tuple(op.ns))


def apply_pack_sequences(df: DataFrame, op: PackSequencesOperation) -> DataFrame:
    """Annotate each row with its packing layout: the packed columns
    join back onto the ORIGINAL frame by id, so downstream ops see all
    source columns plus (n_tokens, start_offset, chunk_id, n_chunks)."""
    from ..functions.curation import pack_sequences

    packed = pack_sequences(
        df, id_col=op.id_column, text_col=op.text_column, ctx=op.context_length
    )
    return df.join(packed, op.id_column)


def apply_mixture(df: DataFrame, op: "MixtureOperation") -> DataFrame:
    """Deterministic per-group up/down-sampling (domain re-weighting)."""
    from ..functions.curation import weighted_mixture

    return weighted_mixture(
        df,
        group_col=op.group_column,
        weights=op.weights,
        key_col=op.key_column,
        seed=op.seed,
        default_weight=op.default_weight,
        copy_col=op.copy_column,
    )


def apply_dedup(df: DataFrame, op: DedupOperation) -> DataFrame:
    """Dispatch one dedup strategy.  mode='drop' removes every row with
    a lower-id duplicate partner (exact keeps the keep-min survivor);
    mode='pairs' returns the (id_a, id_b, score) pair table."""
    from ..functions import dedup as D

    if op.strategy == "exact":
        return D.exact_dedup(df, op.keys, op.order_column)
    if op.strategy == "minhash":
        pairs = D.minhash_lsh_pairs(
            df, op.id_column, op.text_column,
            n=op.shingle_size, threshold=op.threshold, bands=op.bands,
            rows_per_band=op.num_perm // op.bands, seed=op.seed,
            max_bucket=op.max_bucket,
        )
    elif op.strategy == "simhash":
        pairs = D.simhash_pairs(
            df, op.id_column, op.text_column,
            max_hamming=op.max_hamming, max_bucket=op.max_bucket,
        )
    elif op.strategy == "ngram":
        # the miner's default 4 bands x 3 rows: ngram keeps that geometry
        pairs = D.minhash_lsh_pairs(
            df, op.id_column, op.text_column,
            n=op.ngram_size, threshold=op.threshold,
            seed=op.seed, max_bucket=op.max_bucket,
        )
    elif op.strategy == "substring":
        pairs = D.substring_run_pairs(
            df, op.id_column, op.text_column,
            run_len=op.run_len, min_shared=op.min_shared,
            max_bucket=op.max_bucket,
        )
    elif op.strategy == "fuzzy":
        from ..functions.fuzzy import fuzzy_pairs

        pairs = fuzzy_pairs(
            df, op.id_column, op.text_column,
            max_dist=op.max_dist, prefix_chars=op.prefix_chars,
            block_tokens=op.block_tokens, len_band=op.len_band,
            max_bucket=op.max_bucket,
        )
    else:  # embedding
        pairs = D.embedding_neardup_pairs(
            df, op.id_column, op.vector_column,
            threshold=op.threshold, n_planes=op.n_planes,
            n_tables=op.n_tables, seed=op.seed, max_bucket=op.max_bucket,
        )
    if op.mode == "pairs":
        return pairs
    if op.mode == "components":
        from ..functions.graph import connected_components

        # every pair strategy above ends dedup-by-construction
        # (dropDuplicates / groupBy(id_a, id_b) over id_a < id_b)
        return connected_components(pairs, edges_deduped=True)
    if op.mode == "keep_best":
        # transitive: keep each cluster's best-scoring row (min id on
        # ties) — the production "keep the longest/highest-quality
        # representative" policy
        from ..functions.graph import dedup_keep_best

        return dedup_keep_best(
            df, pairs, op.id_column, op.score_column, edges_deduped=True
        )
    if op.mode == "cluster_drop":
        # transitive: exactly one survivor (the min id) per duplicate
        # cluster, via distributed connected components
        from ..functions.graph import dedup_by_components

        return dedup_by_components(df, pairs, op.id_column, edges_deduped=True)
    # drop: single-hop min-id clustering — any row with a lower-id
    # partner goes (longer chains are the transitive modes' job)
    losers = pairs.select(F.col("id_b").alias(op.id_column)).distinct()
    return df.join(losers, op.id_column, "left_anti")


def apply_similarity(
    df: DataFrame,
    op: SimilarityOperation,
    spark: SparkSession,
    inputs: Inputs | None = None,
) -> DataFrame:
    """ANN top-k: current frame = corpus, queries resolved like bind's
    right side."""
    from ..functions import similarity as S

    queries_df = resolve_side(spark, op.queries_path, op.queries_schema_columns, inputs)
    kwargs = dict(k=op.k, id_col=op.id_column, vec_col=op.vector_column)
    if op.method == "brute":
        return S.cosine_topk(df, queries_df, **kwargs)
    if op.method == "lsh":
        return S.lsh_topk(
            df, queries_df, n_planes=op.n_planes, n_tables=op.n_tables,
            seed=op.seed, **kwargs,
        )
    return S.ivf_topk(
        df, queries_df, n_centroids=op.n_centroids, nprobe=op.nprobe, **kwargs
    )


def apply_asof_join(
    df: DataFrame,
    op: AsofJoinOperation,
    spark: SparkSession,
    inputs: Inputs | None = None,
) -> DataFrame:
    from ..functions.asof import asof_join

    right_df = resolve_side(spark, op.right_file_path, op.right_schema_columns, inputs)
    return asof_join(
        df,
        right_df,
        left_on=op.left_on,
        right_on=op.right_on,
        left_time=op.left_time,
        right_time=op.right_time,
        value_columns=op.value_columns,
        direction=op.direction,
        suffix=op.suffix,
        tolerance=op.tolerance,
    )


def apply_range_join(
    df: DataFrame,
    op: RangeJoinOperation,
    spark: SparkSession,
    inputs: Inputs | None = None,
) -> DataFrame:
    from ..functions import range_join as R

    if op.kind == "tolerance":
        return R.within_tolerance_pairs(
            df, key=op.key, time_col=op.time_column,
            id_col=op.id_column, tolerance=op.tolerance,
        )
    right_df = resolve_side(spark, op.right_file_path, op.right_schema_columns, inputs)
    if op.kind == "overlap":
        return R.interval_overlap_join(
            df,
            right_df,
            key=op.key,
            left_id=op.left_id_column,
            right_id=op.right_id_column,
            left_start=op.left_start_column,
            left_end=op.left_end_column,
            right_start=op.start_column,
            right_end=op.end_column,
            bucket_width_seconds=op.bucket_width,
        )
    return R.point_in_interval_join(
        df,
        right_df,
        left_on=op.left_on,
        right_on=op.right_on,
        time_col=op.time_column,
        start_col=op.start_column,
        end_col=op.end_column,
        value_columns=op.value_columns,
        bucket_width=op.bucket_width,
    )


def apply_snapshot_diff(
    df: DataFrame,
    op: "SnapshotDiffOperation",
    spark: SparkSession,
    inputs: Inputs | None = None,
) -> DataFrame:
    """Table-version diff: current frame = NEW snapshot, old snapshot
    resolved like bind's right side."""
    from ..functions.profile import snapshot_diff

    old_df = resolve_side(spark, op.old_path, op.old_schema_columns, inputs)
    labeled = snapshot_diff(old_df, df, op.key_columns, op.compare_columns)
    if op.mode == "labels":
        return labeled
    return labeled.groupBy("diff_status").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def apply_merge(
    df: DataFrame,
    op: MergeOperation,
    spark: SparkSession,
    inputs: Inputs | None = None,
) -> DataFrame:
    """CDC merge: current frame = base snapshot, change feed resolved
    like bind's right side."""
    from ..functions.incremental import merge_changes

    changes_df = resolve_side(spark, op.right_file_path, op.right_schema_columns, inputs)
    return merge_changes(
        df,
        changes_df,
        op.keys,
        op_col=op.op_column or None,
        delete_value=op.delete_value,
        seq_col=op.seq_column or None,
    )


def apply_scd2(df: DataFrame, op: Scd2Operation) -> DataFrame:
    from ..functions.incremental import scd2_history

    return scd2_history(
        df,
        op.keys,
        op.ts_column,
        op.attr_columns,
        order_col=op.order_column or None,
        collapse=op.collapse,
    )


def apply_stratified_sample(df: DataFrame, op: StratifiedSampleOperation) -> DataFrame:
    from ..functions.curation import stratified_sample

    return stratified_sample(
        df,
        op.group_columns,
        op.key_column,
        op.k,
        seed=op.seed,
        rank_column=op.rank_column or None,
    )


def apply_weighted_sample(df: DataFrame, op: "WeightedSampleOperation") -> DataFrame:
    from ..functions.curation import weighted_sample

    return weighted_sample(
        df,
        op.group_columns,
        op.key_column,
        op.weight_column,
        op.k,
        seed=op.seed,
        rank_column=op.rank_column or None,
    )


def apply_chunk(df: DataFrame, op: ChunkOperation) -> DataFrame:
    from ..functions.curation import chunk_text

    return chunk_text(
        df,
        op.id_column,
        op.text_column,
        chunk_size=op.chunk_size,
        overlap=op.overlap,
    )


def apply_keyword_search(df: DataFrame, op: KeywordSearchOperation) -> DataFrame:
    from ..functions.search import keyword_search_topk

    return keyword_search_topk(
        df, op.query_terms, op.id_column, op.text_column, k=op.k, k1=op.k1, b=op.b
    )


def apply_fuzzy_pairs(df: DataFrame, op: "FuzzyPairsOperation") -> DataFrame:
    from ..functions.fuzzy import fuzzy_pairs

    return fuzzy_pairs(
        df,
        op.id_column,
        op.string_column,
        max_dist=op.max_dist,
        prefix_chars=op.prefix_chars,
        block_tokens=op.block_tokens,
        len_band=op.len_band,
        max_bucket=op.max_bucket,
    )


def apply_tfidf(df: DataFrame, op: "TfidfOperation") -> DataFrame:
    from ..functions.search import tfidf_topk

    return tfidf_topk(df, op.id_column, op.text_column, k=op.k)


def apply_bigram_lm(df: DataFrame, op: "BigramLmOperation") -> DataFrame:
    from ..functions.text import bigram_lm_topk

    return bigram_lm_topk(df, op.text_column, k=op.k)


def apply_doc_lm_score(df: DataFrame, op: "DocLmScoreOperation") -> DataFrame:
    from ..functions.text import doc_lm_score

    return doc_lm_score(df, op.id_column, op.text_column, k=op.k)


def apply_inverted_index(df: DataFrame, op: InvertedIndexOperation) -> DataFrame:
    from ..functions.search import inverted_index

    return inverted_index(
        df, op.id_column, op.text_column, max_df=op.max_df or None
    )


def apply_bpe_train(df: DataFrame, op: "BpeTrainOperation") -> DataFrame:
    from ..functions.text import bpe_train

    return bpe_train(df, op.text_column, n_merges=op.n_merges)


def apply_bpe_encode(df: DataFrame, op: "BpeEncodeOperation") -> DataFrame:
    from ..functions.text import bpe_encode

    merges = [(m[0], m[1]) for m in op.merges]
    return bpe_encode(df, merges, id_col=op.id_column, text_col=op.text_column)


def apply_vocab_oov(df: DataFrame, op: VocabOovOperation) -> DataFrame:
    from ..functions.text import vocab_oov

    return vocab_oov(df, op.id_column, op.text_column, top_k=op.top_k)


def apply_kmeans(df: DataFrame, op: ClusteringOperation) -> DataFrame:
    from ..functions.clustering import diversity_sample, kmeans_assign

    if op.mode == "sample":
        return diversity_sample(
            df, op.id_column, op.vector_column,
            k=op.k, iters=op.iters, per_cluster=op.per_cluster,
            scale_bits=op.scale_bits,
        )
    return kmeans_assign(
        df, op.id_column, op.vector_column,
        k=op.k, iters=op.iters, scale_bits=op.scale_bits,
    )


def apply_incremental_dedup(
    df: DataFrame,
    op: IncrementalDedupOperation,
    spark: SparkSession,
    inputs: Inputs | None = None,
) -> DataFrame:
    """Append-batch dedup: current frame = incoming batch, corpus
    resolved like bind's right side.  strategy='near' swaps the exact
    fingerprint key for banded MinHash near-duplication."""
    from ..functions.incremental import incremental_dedup, incremental_neardup

    corpus_df = resolve_side(spark, op.corpus_path, op.corpus_schema_columns, inputs)
    if op.strategy == "near":
        return incremental_neardup(
            df, corpus_df, op.id_column, op.text_column, mode=op.mode,
            threshold=op.jaccard_threshold, num_perm=op.num_perm,
            bands=op.bands, shingle_size=op.shingle_size,
            max_bucket=op.max_bucket,
        )
    return incremental_dedup(df, corpus_df, op.id_column, op.text_column, mode=op.mode)


def apply_split_assign(df: DataFrame, op: SplitAssignOperation) -> DataFrame:
    from ..functions.text import with_split_assign

    return with_split_assign(
        df, op.key_column, splits=op.splits or None, output_column=op.output_column
    )


def apply_profile(df: DataFrame, op: ProfileOperation) -> DataFrame:
    from ..functions.profile import profile_columns

    return profile_columns(df, op.columns or None, approx=op.approx)


def apply_histogram(df: DataFrame, op: HistogramOperation) -> DataFrame:
    from ..functions.profile import value_histogram

    return value_histogram(df, op.input_column, bins=op.bins, lo=op.lo, hi=op.hi)


def apply_outliers(df: DataFrame, op: OutlierOperation) -> DataFrame:
    from ..functions.profile import outlier_flags

    return outlier_flags(
        df, op.input_column, z_threshold=op.z_threshold,
        group_cols=op.group_columns or None,
    )


def apply_global_shuffle(df: DataFrame, op: "GlobalShuffleOperation") -> DataFrame:
    from ..functions.curation import global_shuffle

    return global_shuffle(
        df, op.key_column, seed=op.seed,
        key_column=op.shuffle_key_column, position_column=op.position_column,
    )


def apply_quantile_filter(df: DataFrame, op: "QuantileFilterOperation") -> DataFrame:
    from ..functions.curation import quantile_filter

    return quantile_filter(
        df, op.group_columns, op.value_column, q=op.q,
        threshold_column=op.threshold_column or None,
    )


def apply_gopher_rules(df: DataFrame, op: "GopherRulesOperation") -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions.text import gopher_rules

    # keep_all: every metric is a per-row expression, so annotation is
    # a pure projection — no join back, no id-uniqueness assumption,
    # and the frame is evaluated exactly once
    flagged = gopher_rules(
        df, text_col=op.text_column,
        min_words=op.min_words, max_words=op.max_words,
        min_mean_word_len=op.min_mean_word_len,
        max_mean_word_len=op.max_mean_word_len,
        max_symbol_ratio=op.max_symbol_ratio,
        max_bullet_ratio=op.max_bullet_ratio,
        max_ellipsis_ratio=op.max_ellipsis_ratio,
        min_alpha_ratio=op.min_alpha_ratio,
        min_stop_hits=op.min_stop_hits, keep_all=True,
    )
    if op.mode == "annotate":
        return flagged
    metric_cols = [c for c in flagged.columns if c not in df.columns]
    return flagged.filter(F.col("gopher_pass")).drop(*metric_cols)


def apply_lm_buckets(df: DataFrame, op: "LmBucketsOperation") -> DataFrame:
    from ..functions.text import lm_quality_buckets

    return lm_quality_buckets(
        df, op.id_column, op.text_column, op.lang_column, k=op.k
    )


def apply_line_dedup(df: DataFrame, op: "LineDedupOperation") -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions.curation import line_dedup

    cleaned = line_dedup(
        df, op.id_column, op.text_column, max_docs=op.max_docs,
        group_col=op.group_column, min_df=op.min_df,
    ).select(op.id_column, "text_clean")
    # LEFT join: line_dedup emits no row for NULL-text documents — they
    # must ride through with their NULL text intact, not vanish
    return (
        df.join(cleaned, op.id_column, "left")
        .withColumn(
            op.text_column,
            F.coalesce(F.col("text_clean"), F.col(op.text_column)),
        )
        .drop("text_clean")
    )


def apply_html_to_text(df: DataFrame, op: "HtmlToTextOperation") -> DataFrame:
    from ..functions.curation import html_to_text

    out_col = op.output_column or op.input_column
    return df.withColumn(out_col, html_to_text(F.col(op.input_column)))


def apply_hll_distinct(df: DataFrame, op: "HllDistinctOperation") -> DataFrame:
    from ..functions.sketch import hll_distinct

    return hll_distinct(df, op.key_column, list(op.group_columns), p=op.p)


def apply_cms_counts(
    df: DataFrame,
    op: "CmsCountsOperation",
    spark: SparkSession,
    inputs: Inputs | None = None,
) -> DataFrame:
    """Count-min build over the current frame + point queries for the
    probe side (bind's named-input-or-path convention; empty
    probe_path = the frame's own distinct keys)."""
    from ..functions.cms import cms_build, cms_estimate

    counters = cms_build(df, op.key_column, w=op.w, d=op.d)
    if op.probe_path:
        probe_df = resolve_side(spark, op.probe_path, op.probe_schema_columns, inputs)
    else:
        probe_df = df.select(op.key_column).where(F.col(op.key_column).isNotNull()).distinct()
    probe_key = op.probe_key_column or op.key_column
    require_columns(probe_df, [probe_key], "cms_counts (probe side)")
    # same contract as the self-probe default and the oracle: NULL keys
    # are never probed (they'd emit a meaningless (NULL, 0) row)
    probes = (
        probe_df.select(F.col(probe_key).alias(op.key_column))
        .where(F.col(op.key_column).isNotNull())
        .distinct()
    )
    return cms_estimate(probes, counters, op.key_column, w=op.w, d=op.d)


def apply_gap_fill(df: DataFrame, op: "GapFillOperation") -> DataFrame:
    from ..functions.timeseries import gap_fill_hourly

    return gap_fill_hourly(
        df,
        key=op.key_column,
        ts_col=op.ts_column,
        value_col=op.value_column,
        max_span_hours=op.max_span_hours,
    )


def apply_bloom_gate(
    df: DataFrame,
    op: "BloomGateOperation",
    spark: SparkSession,
    inputs: Inputs | None = None,
) -> DataFrame:
    """Bloom membership gate: current frame = corpus, eval side
    resolved like bind's right side, packed once into a bitmap and
    served as a pure projection (functions/bloom.py)."""
    from ..functions.bloom import build_bloom_bitmap, with_bloom_flag

    eval_df = resolve_side(spark, op.eval_path, op.eval_schema_columns, inputs)
    eval_col = op.eval_text_column or op.text_column
    require_columns(eval_df, [eval_col], "bloom_gate (eval side)")
    bitmap = build_bloom_bitmap(
        eval_df.select(eval_col), eval_col, m=op.m, k=op.k
    )
    flagged = with_bloom_flag(df, op.text_column, bitmap, m=op.m, k=op.k)
    if op.mode == "filter":
        return flagged.filter(F.col("bloom_hit") == 0).drop("bloom_hit")
    return flagged


def apply_quantile_sketch(df: DataFrame, op: "QuantileSketchOperation") -> DataFrame:
    from ..functions.quantile import quantile_sketch

    return quantile_sketch(
        df, op.value_column, op.id_column, list(op.group_columns), list(op.qs),
        k=op.k, min_group_rows=op.min_group_rows,
    )


def apply_sql_transform(
    df: DataFrame,
    op: "SqlTransformOperation",
    spark: SparkSession,
    inputs: Inputs | None = None,
) -> DataFrame:
    """Register the frame under the spec's view name (plus any
    ``views``-declared pipeline inputs under theirs), run the SELECT,
    return its (lazy) result.  spark.sql ANALYZES eagerly — the views
    resolve into the plan at this call — so every temp view is dropped
    immediately afterwards and cannot leak across sequential ops.

    Two loud guards before anything runs:
    - a temp view already registered under any of the op's names is
      NEVER clobbered (createOrReplaceTempView would replace it and
      the cleanup would then DROP the user's view) — rename one side;
    - the statement's PARSED plan is walked for Command/DML nodes
      (DeleteFromTable, InsertIntoStatement, CreateTable, SetCommand,
      ...) — the parse-time leading-keyword check alone is bypassable
      via ``WITH x AS (...) INSERT INTO ...``, and spark.sql would
      EXECUTE such a statement eagerly, mutating catalogs from inside
      a pipeline op."""
    side_frames: dict[str, DataFrame] = {}
    if op.views:
        inputs = inputs or {}
        missing = [k for k in op.views.values() if k not in inputs]
        if missing:
            raise ValueError(
                f"sql_transform: views reference input keys {missing} not in "
                f"pipeline inputs {sorted(inputs)}"
            )
        side_frames = {
            vname: read_input(spark, inputs[key]) for vname, key in op.views.items()
        }
    all_views = [op.view, *side_frames]
    existing = {
        t.name for t in spark.catalog.listTables() if t.isTemporary
    }
    clashes = [v for v in all_views if v in existing]
    if clashes:
        raise ValueError(
            f"sql_transform: temp view(s) {clashes} already exist in this "
            "session; pick different view names instead of clobbering them"
        )
    jvm = spark._jvm
    parsed = spark._jsparkSession.sessionState().sqlParser().parsePlan(op.statement)
    command_cls = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.plans.logical.Command"
    )
    parsed_stmt_cls = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.plans.logical.ParsedStatement"
    )

    def _walk(node):
        yield node
        it = node.children().iterator()
        while it.hasNext():
            yield from _walk(it.next())

    bad = [
        n.getClass().getSimpleName()
        for n in _walk(parsed)
        if command_cls.isInstance(n) or parsed_stmt_cls.isInstance(n)
    ]
    if bad:
        raise ValueError(
            f"sql_transform statement contains non-query nodes {bad}; only "
            "a single SELECT/WITH query may run inside a pipeline op"
        )
    registered: list[str] = []
    try:
        df.createOrReplaceTempView(op.view)
        registered.append(op.view)
        for vname, frame in side_frames.items():
            frame.createOrReplaceTempView(vname)
            registered.append(vname)
        return spark.sql(op.statement)
    finally:
        for vname in registered:
            spark.catalog.dropTempView(vname)


def apply_expectations(df: DataFrame, op: "ExpectationsOperation") -> DataFrame:
    from ..functions.expectations import (
        expectations_annotate,
        expectations_enforce,
        expectations_summary,
    )

    # expr rules reference columns inside the expression; the analyzer
    # validates those at resolution time with its own clear error
    require_columns(
        df,
        sorted({r["column"] for r in op.rules if "column" in r}),
        "expectations",
    )
    if op.mode == "summary":
        return expectations_summary(df, list(op.rules))
    if op.mode == "enforce":
        return expectations_enforce(df, list(op.rules))
    annotated = expectations_annotate(df, list(op.rules))
    if op.mode == "annotate":
        return annotated
    # filter: quarantine routing — keep passing rows, original columns
    added = [c for c in annotated.columns if c not in df.columns]
    return annotated.filter(F.col("expect_pass")).drop(*added)


def apply_time_weighted_avg(
    df: DataFrame, op: "TimeWeightedAvgOperation"
) -> DataFrame:
    from ..functions.timeseries import time_weighted_avg

    return time_weighted_avg(
        df, key=op.key_column, ts_col=op.ts_column, value_col=op.value_column,
        id_col=op.id_column, q_bits=op.q_bits,
    )


def apply_rollup_aggregate(df: DataFrame, op: "RollupOperation") -> DataFrame:
    from ..functions.rollup import rollup_build, rollup_coarsen, rollup_serve

    groups = list(op.group_columns)
    built = rollup_build(
        df, op.ts_column, op.value_column, groups, grain=op.grain, q_bits=op.q_bits
    )
    # a fresh build is already one row per (group, bucket): only the
    # coarsen path needs a re-merge (a bare rollup_merge here would
    # re-shuffle identical keys for nothing — the q_spike_buckets rule)
    merged = (
        rollup_coarsen(built, groups, factor=op.coarsen_factor)
        if op.coarsen_factor is not None
        else built
    )
    return rollup_serve(merged, groups, q_bits=op.q_bits)


def apply_heavy_hitters(df: DataFrame, op: "HeavyHittersOperation") -> DataFrame:
    from ..functions.cms import cms_heavy_hitters

    return cms_heavy_hitters(
        df, list(op.group_columns), threshold=op.threshold, w=op.w, d=op.d,
        count_col=op.count_column,
    )


def apply_ohlc(df: DataFrame, op) -> DataFrame:
    from ..functions.timeseries import ohlc_bars

    return ohlc_bars(
        df, op.key_column, op.ts_column, op.value_column,
        bucket_seconds=op.bucket_seconds,
    )


def apply_ewma(df: DataFrame, op) -> DataFrame:
    from ..functions.timeseries import ewma_smooth

    return ewma_smooth(
        df, op.key_column, op.ts_column, op.id_column, op.value_column,
        alpha_num=op.alpha_num, alpha_den=op.alpha_den, lookback=op.lookback,
    )


def apply_rolling_median(df: DataFrame, op) -> DataFrame:
    from ..functions.timeseries import rolling_median

    return rolling_median(
        df, op.key_column, op.ts_column, op.id_column, op.value_column,
        window_rows=op.window_rows,
    )


def apply_changepoint(df: DataFrame, op) -> DataFrame:
    from ..functions.timeseries import changepoint_cusum

    return changepoint_cusum(df, op.key_column, op.ts_column)


def apply_association_rules(df: DataFrame, op) -> DataFrame:
    from ..functions.mining import association_rules

    return association_rules(
        df, op.basket_column, op.item_column, min_count=op.min_count, k=op.k
    )


def apply_markov(df: DataFrame, op) -> DataFrame:
    from ..functions.mining import markov_transitions

    return markov_transitions(
        df, op.seq_column, op.order_column, op.tiebreak_column, op.state_column
    )


def apply_skyline(df: DataFrame, op) -> DataFrame:
    from ..functions.mining import skyline2d

    return skyline2d(
        df, op.id_column, op.x_column, op.y_column,
        prune_buckets=op.prune_buckets,
    )


def apply_classifier_eval(df: DataFrame, op: "ClassifierEvalOperation") -> DataFrame:
    from ..functions.classifier import classifier_eval

    return classifier_eval(
        df, op.label_column, op.score_column, thresholds=list(op.thresholds)
    )


def apply_classifier_score(df: DataFrame, op: "ClassifierScoreOperation") -> DataFrame:
    from ..functions.classifier import classifier_score, load_classifier_weights

    weights = (
        load_classifier_weights(op.weights_path, spark=df.sparkSession, dim=op.dim)
        if op.weights_path
        else None
    )
    flagged = classifier_score(
        df, op.id_column, op.text_column, dim=op.dim, seed=op.seed,
        bias=op.bias, threshold=op.threshold, weights=weights, keep_all=True,
    )
    if op.mode == "annotate":
        return flagged
    return flagged.filter(F.col("clf_pass")).drop("n_tokens", "score", "clf_pass")


def apply_classifier_train(df: DataFrame, op: "ClassifierTrainOperation") -> DataFrame:
    """Train the hashed classifier on the current frame's labels, then
    score the frame with the trained weights (optionally persisting the
    artifact) — the flow-surface form of the train→save→score loop."""
    from ..functions.classifier import (
        classifier_score,
        classifier_train,
        save_classifier_weights,
    )

    # a BOOLEAN label column (e.g. a rule battery's pass flag — the
    # distillation recipe) maps true→+1 / false→-1; NULL stays NULL
    # (excluded from training, like NULL text)
    if dict(df.dtypes).get(op.label_column) == "boolean":
        df = df.withColumn(
            op.label_column,
            F.when(F.col(op.label_column), 1).when(~F.col(op.label_column), -1),
        )
    weights = classifier_train(
        df, op.text_column, op.label_column,
        dim=op.dim, iters=op.iters, lr_bits=op.lr_bits,
    )
    if op.save_path:
        save_classifier_weights(weights, op.save_path, spark=df.sparkSession)
    flagged = classifier_score(
        df, op.id_column, op.text_column, dim=op.dim, bias=op.bias,
        threshold=op.threshold, weights=weights, keep_all=True,
    )
    if op.mode == "annotate":
        return flagged
    return flagged.filter(F.col("clf_pass")).drop("n_tokens", "score", "clf_pass")


def apply_url_normalize(df: DataFrame, op: "UrlNormalizeOperation") -> DataFrame:
    from ..functions.web import url_normalize

    return url_normalize(df, op.url_column, op.output_column)


def apply_domain_extract(df: DataFrame, op: "DomainExtractOperation") -> DataFrame:
    from ..functions.web import domain_extract

    return domain_extract(df, op.url_column, op.domain_column, op.apex_column)


def apply_domain_quota(df: DataFrame, op: "DomainQuotaOperation") -> DataFrame:
    from ..functions.web import domain_quota

    return domain_quota(
        df, op.domain_column, op.order_column, op.n_per_domain,
        op.tie_column, ascending=op.ascending,
    )


def apply_tokenize_ids(df: DataFrame, op: "TokenizeIdsOperation") -> DataFrame:
    from ..functions.text import tokenize_ids

    return tokenize_ids(
        df, op.id_column, op.text_column, top_k=op.top_k, oov_id=op.oov_id
    )


def apply_curriculum_order(df: DataFrame, op: "CurriculumOrderOperation") -> DataFrame:
    from ..functions.curation import curriculum_order

    return curriculum_order(
        df, op.score_column, op.id_column,
        ascending=op.ascending, position_column=op.position_column,
        batch_size=op.batch_size or None, batch_column=op.batch_column,
    )


def apply_store_gate(df: DataFrame, op: "StoreGateOperation") -> DataFrame:
    from ..functions.incremental import dedup_gate_from_store, neardup_gate_from_store

    if op.strategy == "exact":
        return dedup_gate_from_store(
            df, df.sparkSession, op.store_path, op.id_column, op.text_column, mode=op.mode
        )
    return neardup_gate_from_store(
        df, df.sparkSession, op.store_path, op.id_column, op.text_column,
        n=op.shingle_size, bands=op.bands, rows_per_band=op.rows_per_band,
        seed=op.seed, mode=op.mode,
    )


def apply_k_anonymity(df: DataFrame, op) -> DataFrame:
    from ..functions.integrity import k_anonymity

    return k_anonymity(df, list(op.quasi_columns), op.k)


def apply_benford(df: DataFrame, op) -> DataFrame:
    from ..functions.integrity import benford_audit

    return benford_audit(df, op.input_column)


def apply_media_features(df: DataFrame, op) -> DataFrame:
    """Binary payloads → fixed-dim feature rows (model.py
    MediaFeaturesOperation) — dispatches to the image or audio
    extractor; one Arrow mapInPandas stage either way."""
    from ..functions.multimodal import (
        extract_audio_features,
        extract_image_features,
    )

    fn = extract_image_features if op.modality == "image" else extract_audio_features
    return fn(
        df,
        payload_col=op.payload_column,
        id_col=op.id_column,
        mime_col=op.mime_column,
        dim=op.dim,
        strict=op.strict,
    )


def _ann_store_manifest(spark: SparkSession, store_path: str) -> DataFrame:
    """Read back a store's inverted lists as the (cid, n_vectors)
    manifest both write-side ANN flow ops return: a column-pruned
    count-per-partition scan (parquet answers it from row-group
    metadata), ordered by cid so the sink is deterministic."""
    from ..functions.similarity import _read_store_lists

    return (
        _read_store_lists(spark, store_path)
        .groupBy(F.col("cid").cast("int").alias("cid"))
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("cid")
    )


def apply_ann_store_build(df: DataFrame, op) -> DataFrame:
    """Corpus frame → persisted ANN store at op.store_path → build
    manifest (model.py AnnStoreBuildOperation)."""
    if op.kind == "pq":
        from ..functions.pq import build_pq_store

        build_pq_store(
            df, op.store_path, op.id_column, op.vector_column,
            n_centroids=op.n_centroids, iters=op.iters,
            sample_size=op.sample_size, scale_bits=op.scale_bits,
            m=op.m, k_codes=op.k_codes,
        )
    else:
        from ..functions.similarity import build_ann_store

        build_ann_store(
            df, op.store_path, op.id_column, op.vector_column,
            n_centroids=op.n_centroids, iters=op.iters,
            sample_size=op.sample_size, scale_bits=op.scale_bits,
        )
    return _ann_store_manifest(df.sparkSession, op.store_path)


def apply_ann_store_append(df: DataFrame, op) -> DataFrame:
    """Batch frame → appended into the store's lists → post-append
    manifest (model.py AnnStoreAppendOperation)."""
    from ..functions.similarity import append_to_ann_store

    append_to_ann_store(df, op.store_path, op.id_column, op.vector_column)
    return _ann_store_manifest(df.sparkSession, op.store_path)


def apply_ann_store_query(df: DataFrame, op) -> DataFrame:
    """Query frame → (query_id, neighbor_id, rank, cosine) served from
    the persisted store (model.py AnnStoreQueryOperation).  Store kind
    is detected from the meta table — PQ stores declare m/k_codes —
    read and checked by the serve functions' own driver-side gate
    (similarity._read_ann_store_meta), which launches no Spark job."""
    from ..functions.similarity import _read_ann_store_meta, ann_store_is_pq

    spark = df.sparkSession
    if ann_store_is_pq(_read_ann_store_meta(spark, op.store_path), op.store_path):
        from ..functions.pq import ann_pq_from_store

        return ann_pq_from_store(
            spark, op.store_path, df, k=op.k, nprobe=op.nprobe,
            refine_factor=op.refine_factor, id_col=op.id_column,
            vec_col=op.vector_column, scale_bits=op.scale_bits,
        )
    from ..functions.similarity import ann_from_store

    return ann_from_store(
        spark, op.store_path, df, k=op.k, nprobe=op.nprobe,
        id_col=op.id_column, vec_col=op.vector_column,
        scale_bits=op.scale_bits,
    )


def apply_fk_check(
    df: DataFrame,
    op,
    spark: SparkSession,
    inputs: Inputs | None = None,
) -> DataFrame:
    """FK orphan audit: current frame = CHILD, parent resolved like
    bind's right side."""
    from ..functions.integrity import fk_orphans

    parent_df = resolve_side(spark, op.parent_path, op.parent_schema_columns, inputs)
    require_columns(parent_df, [op.parent_key], "fk_check (parent)")
    return fk_orphans(
        [{
            "name": op.name,
            "child": df,
            "child_key": op.child_key,
            "parent": parent_df,
            "parent_key": op.parent_key,
        }]
    )


def apply_seasonal_baseline(df: DataFrame, op) -> DataFrame:
    from ..functions.timeseries import seasonal_baseline

    return seasonal_baseline(df, op.key_column, op.ts_column, op.value_column)


def apply_autocorr(df: DataFrame, op) -> DataFrame:
    from ..functions.timeseries import autocorr_lags

    return autocorr_lags(df, ts_col=op.ts_column, max_lag=op.max_lag)


def apply_item_similarity(df: DataFrame, op) -> DataFrame:
    from ..functions.mining import item_similarity

    return item_similarity(df, op.user_column, op.item_column)


def apply_link_prediction(df: DataFrame, op) -> DataFrame:
    from ..functions.graph import link_prediction

    return link_prediction(df, op.group_column, op.item_column, k=op.k)


def apply_ab_test(df: DataFrame, op) -> DataFrame:
    from ..functions.stats import welch_z_test

    return welch_z_test(df, op.cohort_column, op.cohort_a, op.cohort_b, op.value_column)


def apply_ks_test(df: DataFrame, op) -> DataFrame:
    from ..functions.stats import ks_two_sample

    return ks_two_sample(df, op.cohort_column, op.cohort_a, op.cohort_b, op.value_column)
