"""Correctness-harness queries: one per engine operator (SURVEY §2.1),
each built THROUGH the engine's operator implementations and paired with
an ANSI-SQL oracle DuckDB runs on the same parquet tables.

Oracle-compat rules used throughout:
- Column names are aliased identically on both sides (the driver sorts
  columns by name before hashing values).
- FP-sensitive AGGREGATES accumulate in DECIMAL (exact, order-independent
  — a double sum would differ in the last ulp between engines/partition
  orders) and cast the final value to DOUBLE on both sides.  Per-row
  double arithmetic (no accumulation) is bit-identical and stays double.
- Timestamp columns are cast to DATE or epoch seconds where used, to be
  independent of engine timestamp normalization.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from ..session import materialize
from pyspark.sql import functions as F

from ..model import (
    AggregationOperation,
    ApplicationOperation,
    ArithmeticOperation,
    AssignationOperation,
    BindOperation,
    CastingOperation,
    ComparisonOperation,
    ConcatenationOperation,
    DistinctOperation,
    EqualityOperation,
    FilterOperation,
    FoldOperation,
    LimitOperation,
    SortOperation,
    SwitchingOperation,
    UnfoldOperation,
    UnionOperation,
    WindowOperation,
)
from ..runner import apply_operations


def _t(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# Scratch dirs created by THIS process, newest-last per prefix.
# Lifetime contract (ADVICE r05): layout queries return LAZY frames
# that read their scratch back, so the PREDECESSOR dir is never
# rmtree'd on the next invocation — instead each prefix keeps its
# _SCRATCH_KEEP most recent generations (older ones are presumed
# consumed — CONTRACT: at most _SCRATCH_KEEP same-prefix invocations
# in flight per process; a 4th concurrent unconsumed one would see its
# eldest sibling's dir trimmed), and
# whatever remains is retired in one batch at process exit.  This
# bounds disk growth in long bench loops (the unbounded exit-only
# variant could fill tmp) while keeping recent results readable.
# Guarded by an import-time lock — lazy lock creation would itself be
# an unsynchronized check-then-set.  Dirs from DEAD processes are
# still reclaimed on entry via the pid liveness check.
import threading as _threading

_SCRATCH_REGISTRY: dict[str, list[str]] = {}
_SCRATCH_LOCK = _threading.Lock()
_SCRATCH_KEEP = 3


def _retire_scratch_dirs() -> None:
    import shutil

    for dirs in _SCRATCH_REGISTRY.values():
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
    _SCRATCH_REGISTRY.clear()


def _scratch_dir(prefix: str, sf_dir: str) -> str:
    """Fresh per-invocation scratch dir for the write-then-read-back
    layout queries: ``<tmp>/<prefix>_<dataset-tag>_p<pid>_<uuid>``.

    Per-invocation uuid: no two invocations (threads and concurrent
    harness/bench processes included) ever share a dir, so the
    write/read-back sequence cannot race another run's rmtree.  Dirs
    leaked by DEAD runs are garbage-collected on entry by checking
    whether the pid embedded in the name is still alive — never by
    age, which could delete a long-running process's live dir
    mid-read.  This process's OWN dirs: the last _SCRATCH_KEEP
    generations per prefix stay readable (lazy read-back contract);
    older generations retire on entry, the rest at process exit."""
    import atexit
    import glob
    import hashlib
    import os
    import shutil
    import tempfile
    import uuid

    base = tempfile.gettempdir()
    for old in glob.glob(os.path.join(base, f"{prefix}_*_p*")):
        try:
            pid = int(os.path.basename(old).split("_p")[-1].split("_")[0])
            os.kill(pid, 0)  # raises if the owning process is gone
        except (ValueError, ProcessLookupError):
            shutil.rmtree(old, ignore_errors=True)
        except (OSError, PermissionError):
            pass  # pid alive (or unverifiable): leave the dir alone
    tag = (
        hashlib.md5(sf_dir.encode()).hexdigest()[:10]
        + f"_p{os.getpid()}_{uuid.uuid4().hex[:8]}"
    )
    path = os.path.join(base, f"{prefix}_{tag}")
    with _SCRATCH_LOCK:
        if not _SCRATCH_REGISTRY:
            atexit.register(_retire_scratch_dirs)
        gens = _SCRATCH_REGISTRY.setdefault(prefix, [])
        gens.append(path)
        stale = gens[:-_SCRATCH_KEEP]
        del gens[:-_SCRATCH_KEEP]
    for old_dir in stale:
        shutil.rmtree(old_dir, ignore_errors=True)
    return path


def _ts(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Scan + ``rebalance_scan`` — for the CPU-bound map-side pipelines
    (text analysis, shingling, similarity math, media decode).  The test
    tables are single-row-group parquet files, so a plain scan runs as
    ONE task and serializes all per-row compute; at 100 TB the input is
    many splittable files and the rebalance is a no-op (see
    sources/io.py:rebalance_scan).  Not used for queries whose first
    step is a join/groupBy — their own exchange already spreads."""
    from ..sources import rebalance_scan

    return rebalance_scan(_t(spark, sf_dir, table))


# --- parity operators ------------------------------------------------------


def q_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    return apply_operations(df, [
        EqualityOperation(input_column="p_retailprice", output_column="retailprice_copy"),
    ], spark)


def q_concatenation(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    out = apply_operations(df, [
        ConcatenationOperation(
            input_columns=["c_name", "c_mktsegment"], separator="-", output_column="label"
        ),
    ], spark)
    return out.select("c_custkey", "label")


def q_application(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    out = apply_operations(df, [
        ApplicationOperation(
            input_columns=["p_name"],
            function_str="lambda r: str(r['p_name']).upper()",
            return_type="string",
            output_column="name_upper",
        ),
    ], spark)
    return out.select("p_partkey", "name_upper")


def q_switching(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice", "l_quantity"
    )
    out = apply_operations(df, [
        SwitchingOperation(
            switch_column="l_returnflag",
            mapping={"A": "l_extendedprice", "N": "l_quantity"},
            default_value=0.0,
            output_column="switched_value",
        ),
    ], spark)
    return out.select("l_orderkey", "l_linenumber", "switched_value")


def q_assignation(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "region")
    return apply_operations(df, [
        AssignationOperation(value="ACTIVE", output_column="status"),
    ], spark)


def q_casting(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
    out = apply_operations(df, [
        CastingOperation(input_column="l_shipdate", target_type="date", output_column="ship_date"),
        CastingOperation(input_column="l_quantity", target_type="integer", output_column="qty_int"),
    ], spark)
    return out.select("l_orderkey", "l_linenumber", "ship_date", "qty_int")


def q_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax"
    )
    out = apply_operations(df, [
        ArithmeticOperation(
            input_columns=["l_extendedprice", "l_discount"], operator="*", output_column="discount_amount"
        ),
        ArithmeticOperation(
            input_columns=["l_extendedprice", "l_tax"], operator="-", output_column="price_less_tax"
        ),
    ], spark)
    return out.select("l_orderkey", "l_linenumber", "discount_amount", "price_less_tax")


def q_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return apply_operations(df, [
        ComparisonOperation(
            input_column="o_totalprice", operator=">", value=150000.0, output_column="is_large"
        ),
    ], spark)


def q_bind(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    op = BindOperation(
        right_file_path=f"{sf_dir}/customer.parquet",
        left_on="o_custkey",
        right_on="c_custkey",
        how="left",
        columns_to_add=["c_name", "c_mktsegment"],
    )
    out = apply_operations(df, [op], spark)
    return out.select("o_orderkey", "o_custkey", "c_name", "c_mktsegment")


def q_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type")
    return apply_operations(df, [
        FoldOperation(
            id_columns=["p_partkey"],
            value_columns=["p_brand", "p_type"],
            key_column_name="attr",
            value_column_name="val",
        ),
    ], spark)


def q_unfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order totals per customer by order status; "first" made
    deterministic by ordering on the globally-unique o_orderkey (the
    testdata's l_linenumber is NOT unique within an order, so lineitem
    would have ambiguous ties)."""
    df = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus", "o_totalprice", "o_orderkey")
    return apply_operations(df, [
        UnfoldOperation(
            index_columns=["o_custkey"],
            key_column="o_orderstatus",
            value_column="o_totalprice",
            order_column="o_orderkey",
        ),
    ], spark)


# --- extension operators ---------------------------------------------------


def q_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    return apply_operations(df, [
        FilterOperation(input_column="l_quantity", operator=">", value=45.0),
    ], spark)


def q_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary.  Decimal accumulation for exact,
    order-independent sums; final cast to double on both sides."""
    df = (
        _t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
        .withColumn("qty_dec", F.col("l_quantity").cast("decimal(18,2)"))
        .withColumn("price_dec", F.col("l_extendedprice").cast("decimal(18,2)"))
    )
    out = apply_operations(df, [
        AggregationOperation(
            group_by=["l_returnflag", "l_linestatus"],
            aggregations={
                "sum_qty": {"column": "qty_dec", "agg": "sum"},
                "sum_base_price": {"column": "price_dec", "agg": "sum"},
                "count_order": {"column": "*", "agg": "count"},
            },
        ),
    ], spark)
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("sum_base_price").cast("double").alias("sum_base_price"),
        "count_order",
    )


def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return apply_operations(df, [
        SortOperation(columns=["o_totalprice", "o_orderkey"], descending=[True, False]),
        LimitOperation(n=10),
    ], spark)


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "customer").select("c_mktsegment")
    return apply_operations(df, [DistinctOperation()], spark)


def q_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top order per customer via row_number + filter."""
    df = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    out = apply_operations(df, [
        WindowOperation(
            function="row_number",
            partition_by=["o_custkey"],
            order_by=["o_totalprice", "o_orderkey"],
            descending=[True, False],
            output_column="rn",
        ),
        FilterOperation(input_column="rn", operator="==", value=1),
    ], spark)
    return out.select("o_custkey", "o_orderkey", "o_totalprice")


def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    left = _t(spark, sf_dir, "customer").select(F.col("c_name").alias("name"))
    right = _t(spark, sf_dir, "supplier").select(F.col("s_name").alias("name"))
    op = UnionOperation(right_input="supplier")
    return apply_operations(left, [op], spark, {"supplier": right})


# --- flagship --------------------------------------------------------------


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's enriched-orders pipeline re-shaped onto TPC-H
    (SURVEY §7.2 step 2): fact table two-way bind + derived revenue +
    comparison flag, built entirely from engine operators."""
    df = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice", "l_discount"
    )
    df = apply_operations(df, [
        BindOperation(
            right_file_path=f"{sf_dir}/orders.parquet",
            left_on="l_orderkey",
            right_on="o_orderkey",
            how="left",
            columns_to_add=["o_custkey", "o_orderpriority"],
        ),
        BindOperation(
            right_file_path=f"{sf_dir}/part.parquet",
            left_on="l_partkey",
            right_on="p_partkey",
            how="left",
            columns_to_add=["p_brand", "p_retailprice"],
        ),
        AssignationOperation(value=1.0, output_column="_one_"),
        ArithmeticOperation(input_columns=["_one_", "l_discount"], operator="-", output_column="_disc_factor_"),
        ArithmeticOperation(
            input_columns=["l_extendedprice", "_disc_factor_"], operator="*", output_column="revenue"
        ),
        ComparisonOperation(input_column="revenue", operator=">", value=2000.0, output_column="is_high_value"),
    ], spark)
    return df.select(
        "l_orderkey", "l_linenumber", "o_custkey", "o_orderpriority", "p_brand", "revenue", "is_high_value"
    )


def q_bind_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer bind: customers without orders survive with the key
    coalesced into the left column (engine outer-join semantics)."""
    df = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    op = BindOperation(
        right_file_path=f"{sf_dir}/customer.parquet",
        left_on="o_custkey",
        right_on="c_custkey",
        how="outer",
        columns_to_add=["c_name"],
    )
    return apply_operations(df, [op], spark).select("o_orderkey", "o_custkey", "c_name")


def q_bind_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers with no HIGH-VALUE orders (engine extension
    — the reference has no semi/anti, SURVEY §2.2).  The value filter
    keeps the result selective (every customer has SOME order)."""
    df = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big_orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000.0)
    op = BindOperation(
        right_file_path="orders",
        left_on="c_custkey",
        right_on="o_custkey",
        how="anti",
    )
    return apply_operations(df, [op], spark, {"orders": big_orders})


def q_bind_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join: suppliers that appear in lineitem."""
    df = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    op = BindOperation(
        right_file_path=f"{sf_dir}/lineitem.parquet",
        left_on="s_suppkey",
        right_on="l_suppkey",
        how="semi",
    )
    return apply_operations(df, [op], spark)


def q_bind_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "region").select("r_name")
    op = BindOperation(
        right_file_path=f"{sf_dir}/nation.parquet",
        how="cross",
        columns_to_add=["n_name"],
    )
    return apply_operations(df, [op], spark)


def q_fold_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold across string+int+double value columns — the Polars
    supercast-to-string path."""
    df = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size", "p_retailprice")
    return apply_operations(df, [
        FoldOperation(
            id_columns=["p_partkey"],
            value_columns=["p_brand", "p_size", "p_retailprice"],
            key_column_name="attr",
            value_column_name="val",
        ),
    ], spark)


def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation variants: count_distinct, min, max, avg."""
    df = _t(spark, sf_dir, "customer")
    out = apply_operations(df, [
        AggregationOperation(
            group_by=["c_mktsegment"],
            aggregations={
                "n_nations": {"column": "c_nationkey", "agg": "count_distinct"},
                "min_bal": {"column": "c_acctbal", "agg": "min"},
                "max_bal": {"column": "c_acctbal", "agg": "max"},
                "n_customers": {"column": "*", "agg": "count"},
            },
        ),
    ], spark)
    return out


def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(): each order's previous total for the same customer in
    orderkey sequence."""
    df = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    return apply_operations(df, [
        WindowOperation(
            function="lag",
            partition_by=["o_custkey"],
            order_by=["o_orderkey"],
            value_column="o_totalprice",
            offset=1,
            output_column="prev_totalprice",
        ),
    ], spark)


def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value over the full partition (deterministic
    under the (date, orderkey) total order): each order row carries its
    customer's first and latest order totals."""
    df = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    out = apply_operations(df, [
        WindowOperation(
            function="first_value",
            partition_by=["o_custkey"],
            order_by=["o_orderdate", "o_orderkey"],
            value_column="o_totalprice",
            output_column="first_total",
        ),
        WindowOperation(
            function="last_value",
            partition_by=["o_custkey"],
            order_by=["o_orderdate", "o_orderkey"],
            value_column="o_totalprice",
            output_column="last_total",
        ),
    ], spark)
    return out.select("o_orderkey", "o_custkey", "first_total", "last_total")


# --- training-data extensions (north-star surface) -------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import with_char_classes, with_token_counts

    df = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    out = with_char_classes(with_token_counts(df))
    return out.select("doc_id", "token_count", "bpe_token_count", "n_letters", "n_digits", "n_punct")


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import with_quality

    df = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return with_quality(df).select("doc_id", "quality")


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic (functions/profile.py key_skew_report)
    over events.user_id: per-key count distribution + the 10 heaviest
    keys — one count shuffle, 1-row stats broadcast, TakeOrdered
    heavy-key pick."""
    from ..functions.profile import key_skew_report

    ev = _t(spark, sf_dir, "events").select("user_id")
    return key_skew_report(ev, "user_id", top_k=10)


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality-curriculum ordering (functions/curation.py
    curriculum_order): global rank by the engine's quality score
    (highest first, doc_id tie-break), 64-document batches — the
    two-phase prefix rank, never a single-partition window.  Oracle
    composes the text_quality score SQL with a single ROW_NUMBER
    reference."""
    from ..functions.curation import curriculum_order
    from ..functions.text import with_quality

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    scored = with_quality(docs).select("doc_id", "quality")
    out = curriculum_order(scored, "quality", "doc_id", batch_size=64)
    return out.select("doc_id", "quality", "position", "batch_id")


def q_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-mile integer tokenization (functions/text.py tokenize_ids):
    ids against the corpus's own top-1000 vocabulary, OOV → 0, original
    order — token_ids rendered as a space-joined string for the
    scalar-hashing oracle."""
    from ..functions.text import tokenize_ids

    df = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    out = tokenize_ids(df, "doc_id", "text", top_k=1000)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.array_join(
            F.transform(F.col("token_ids"), lambda t: t.cast("string")), " "
        ).alias("token_ids_str"),
    )


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-filter battery (functions/text.py
    gopher_rules): word-count bounds, mean word length, symbol/bullet/
    ellipsis ratios, alphabetic-word ratio, stopword presence — raw
    metrics, per-rule booleans, conjunctive gopher_pass.  Pure per-row
    JVM expressions, one codegen span, no shuffle; oracle generated
    from the same thresholds + shared tokenizer."""
    from ..functions.text import gopher_rules

    df = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_rules(df, "doc_id", "text")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import with_lang_id

    df = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return with_lang_id(df).select("doc_id", "lang_pred")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import with_fingerprint

    df = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return with_fingerprint(df).select("doc_id", "fingerprint")


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition quality filter (functions/text.py
    with_repetition): per-doc duplicate word-2/3-gram fractions — the
    standard repetitious-text screen for pretraining corpora.  Pure
    JVM transform/sequence expressions, shuffle-free; oracle generated
    from the same n list."""
    from ..functions.text import with_repetition

    df = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return with_repetition(df).select("doc_id", "dup_2gram_frac", "dup_3gram_frac")


def q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate vs the corpus's own top-k vocabulary (the
    rare-token quality filter).  top_k=20 because the synthetic corpus
    has a ~31-token vocabulary — the production default (1000) would
    cover it entirely and zero the signal; the tie-break (count desc,
    token asc) keeps the boundary identical in both engines."""
    from ..functions.text import vocab_oov

    df = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return vocab_oov(df, "doc_id", "text", top_k=20)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rational-idf BM25 top-20 for three query terms (one rare, two
    common — the rare term dominates via idf, which is the behavior
    being checked).  No-log variant keeps every operation inside
    correctly-rounded IEEE + - * /, so scores hash-match the oracle
    bit-for-bit (functions/search.py docstring)."""
    from ..functions.search import keyword_search_topk

    df = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return keyword_search_topk(df, ["hash", "join", "dup"], k=20)


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per-term df, corpus tf, and the
    id-ascending posting string; terms over max_df=400 keep stats but
    NULL postings (the anti-join guard that bounds the collect at
    scale — at sf0.1 every common term crosses the cap, at sf0.01 only
    the heaviest do, so both branches are driver-checked)."""
    from ..functions.search import inverted_index

    df = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return inverted_index(df, "doc_id", "text", max_df=400)


_NFC_SUFFIX = " Café Nöel ﬁn"  # combining acute/diaeresis + ﬁ ligature


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 bigram LM transitions (functions/text.py
    bigram_lm_topk): scan-local zip_with bigrams, one count shuffle,
    integer-exact conditional probabilities — the n-gram-LM counting
    stage behind perplexity-style corpus quality filters."""
    from ..functions.text import bigram_lm_topk

    df = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_lm_topk(df, "text", k=50)


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 PMI collocations (functions/text.py collocations_topk):
    bigrams co-occurring far above their marginal frequencies, ranked
    by the log-free PMI ratio n·N/(left·right) — integer marginals
    from the vocabulary²-sized count table, two multiplies and one
    divide in fixed order, engine-exact; min_count floors the hapax
    pathology.  The phrase-mining primitive (multi-word expressions,
    tokenizer merge candidates) beside the bigram LM."""
    from ..functions.text import collocations_topk

    df = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return collocations_topk(df, "text", k=50, min_count=5)


def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules over per-user event baskets
    (functions/mining.py association_rules): support / confidence /
    lift for every ordered event-type pair co-occurring in >= 2 users,
    top-100 by (lift, confidence).  All three metrics are fixed-order
    divisions over exact BIGINT counts (the score is the lift RATIO,
    never log-lift — log is libm and engine-divergent).  Corpus
    collapses to per-user sorted type sets bounded by the vocabulary;
    pairs expand as a JVM array expression, marginals broadcast."""
    from ..functions.mining import association_rules

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    return association_rules(ev, "user_id", "event_type", min_count=2, k=100)


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams (functions/mining.py markov_transitions): lead() over each
    user's (ts, event_id)-ordered sequence, vocabulary²-sized counts,
    ML probability = ONE integer-over-integer IEEE division.  The
    next-event model behind session prediction and funnel-shape
    audits; one sessionize-layout shuffle plus window sums over the
    tiny transition table."""
    from ..functions.mining import markov_transitions

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    return markov_transitions(ev, "user_id", "ts", "event_id", "event_type")


def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type CUSUM changepoint over daily counts
    (functions/timeseries.py changepoint_cusum): the day where the
    integer-scaled cumulative deviation SUM(c_j·n_days − total) peaks
    — argmax |CUSUM| with earliest-day ties, all BIGINT (no division,
    no FP accumulation).  The rate-shift audit for event streams; one
    keys×days count shuffle, then windows over that small table."""
    from ..functions.timeseries import changepoint_cusum

    ev = _t(spark, sf_dir, "events").select("event_type", "ts")
    return changepoint_cusum(ev, "event_type", "ts")


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D document skyline (functions/mining.py skyline2d): the
    Pareto frontier maximizing (n_chars, distinct-token count) — docs
    no other doc dominates on both length and vocabulary richness.
    Sort-based two-window formulation (best-in-x-group AND beats the
    strictly-greater-x running max) replaces the naive quadratic
    NOT-EXISTS self-join; a deterministic hash-bucket local-skyline
    pass prunes losslessly before the single global ordering, so the
    total-order window never sees the corpus.  The oracle runs the
    global definition alone — proof the pruning drops nothing."""
    from ..functions.mining import skyline2d
    from ..functions.text import _tokens

    docs = _ts(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        F.col("n_chars"),
        F.size(F.array_distinct(_tokens(F.col("text")))).cast("long").alias("n_types"),
    )
    return skyline2d(docs, "doc_id", "n_chars", "n_types", prune_buckets=32)


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type EWMA smoothing of the value stream
    (functions/timeseries.py ewma_smooth): α=1/4 (exact binary
    fraction), 64-observation bounded lookback, left-to-right IEEE
    fold seeded with the window's first value — the feature-store
    smoother.  One key co-location shuffle; O(lookback) state per row
    regardless of series length."""
    from ..functions.timeseries import ewma_smooth

    ev = _t(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    return ewma_smooth(ev, "event_type", "ts", "event_id", "value",
                       alpha_num=1, alpha_den=4, lookback=64)


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type rolling lower median over the last 5
    observations (functions/timeseries.py rolling_median): the
    outlier-robust smoother — a sorted-array element pick, NO
    interpolation arithmetic, so exactness is trivial.  Same
    one-shuffle bounded-window shape as ewma."""
    from ..functions.timeseries import rolling_median

    ev = _t(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    return rolling_median(ev, "event_type", "ts", "event_id", "value",
                          window_rows=5)


def q_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping audit for a planned 8-range time clustering
    (functions/profile.py range_layout_audit): per-slice row counts,
    observed min/max epochs, and the pruned flag a 1-day probe window
    would achieve from footer min/max alone — the quantified case for
    the sorted_layout rewrite.  Integer width/DIV/comparison math
    throughout; one 1-row bounds broadcast + one n_ranges-row count
    shuffle (metadata-scale, never a sort)."""
    from ..functions.profile import range_layout_audit

    ev = _t(spark, sf_dir, "events").select("ts")
    return range_layout_audit(
        ev, "ts", n_ranges=8,
        probe_lo="2024-01-10 00:00:00", probe_hi="2024-01-11 00:00:00",
    )


def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context, dist) pair counts over the corpus
    (functions/text.py skipgram_pairs) — the word2vec data-prep
    stage: window-2 symmetric pairs expand scan-locally as shifted
    zip_withs (no position self-join), ONE map-side-combined count
    shuffle bounded by vocab²·window; distance stays an integer group
    key so no FP weighting order exists."""
    from ..functions.text import skipgram_pairs

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return skipgram_pairs(docs, "text", window=2, min_count=2)


def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec negative-sampling unigram table (functions/text.py
    unigram_sampling_table): token probabilities ∝ count^(3/4), the
    fractional power computed as two fixed multiplies + two
    IEEE-exact sqrts (never libm pow), sorted-fold denominator, one
    division, top-200 by (count, token)."""
    from ..functions.text import unigram_sampling_table

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_sampling_table(docs, "text", alpha_num=3,
                                  alpha_log2_den=2, k=200)


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the distance-≤2 domain graph (functions/graph.py
    kcore): 4 fixed synchronous peel rounds drop every node whose
    surviving degree < 2, then report within-core degrees — the
    densest-subgraph cleaning pass before community / centrality
    analysis.  Integer counting throughout; the alive set truncates
    through materialize() every round (double-reference plan rule);
    oracle = the peel recurrence unrolled as MATERIALIZED CTEs."""
    from ..functions.graph import kcore
    from ..functions.web import domain_extract

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_SYNTH_URL_SQL).alias("url")
    )
    dom = domain_extract(docs, "url").select("doc_id", "domain")
    nodes = dom.select(F.col("domain").alias("node")).distinct()
    return kcore(nodes, _domain_edges2(dom), k=2, rounds=4)


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixture weights
    (functions/curation.py temperature_mixture): per-source token
    counts raised to α = 1/2 via ONE IEEE-exact sqrt (never libm pow),
    normalized by a sorted-fold denominator, allocated against a 1M
    token budget — the multilingual low-resource up-weighting recipe.
    One map-side-combined count shuffle; everything else runs on
    |sources| rows."""
    from ..functions.curation import temperature_mixture

    docs = _ts(spark, sf_dir, "documents").select("source", "text")
    return temperature_mixture(
        docs, "source", "text", alpha_log2=1, token_budget=1_000_000
    )


def q_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime counters (streaming/events.py running_totals,
    batch form): the real-time feature-store pattern whose streaming
    path runs on Spark 4's transformWithStateInPandas arbitrary-stateful
    v2 API with TTL value state — batch-parity pinned in
    tests/test_multimodal_streaming.py."""
    from ..streaming import read_event_table, running_totals

    ev = read_event_table(spark, f"{sf_dir}/events.parquet")
    return running_totals(ev)


def q_doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM quality score (functions/text.py
    doc_lm_score): every doc scored against the corpus's own top-500
    bigram LM — mean in-LM transition probability via a position-ordered
    fold (engine-exact double) plus the OOV-transition count.  The
    CCNet-style LM filter stage of a curation pipeline."""
    from ..functions.text import doc_lm_score

    df = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return doc_lm_score(df, "doc_id", "text", k=500)


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language quality bucketing (functions/text.py
    lm_quality_buckets): corpus-LM scores split into head/middle/tail
    by each language's own tercile thresholds — broadcast quantiles,
    no per-language window."""
    from ..functions.text import lm_quality_buckets

    df = _ts(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return lm_quality_buckets(df, "doc_id", "text", "lang", k=500)


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (functions/search.py
    tfidf_topk): rational-idf weights in an identical double operation
    tree on both engines, (weight desc, term asc) tie-break — the
    keyword-extraction primitive for corpus summarization."""
    from ..functions.search import tfidf_topk

    df = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_topk(df, "doc_id", "text", k=3)


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked Levenshtein pair join (functions/fuzzy.py fuzzy_pairs):
    documents whose normalized 40-char prefixes are within 8 edits,
    blocked on (first two tokens, length band 8).  One shuffle on the
    block key, capped buckets, JVM levenshtein verify — the
    record-linkage primitive the reference's equality-only bind lacks.
    Integer distances hash-match the DuckDB oracle exactly."""
    from ..functions.fuzzy import fuzzy_pairs

    df = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return fuzzy_pairs(df, "doc_id", "text", max_dist=8)


def q_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (functions/text.py with_unicode_nfc —
    the Arrow pandas-UDF path).  The ASCII corpus gets a deterministic
    decomposed suffix appended (combining marks compose under NFC, the
    ligature does NOT — NFC is canonical, not compatibility), so the
    driver check exercises real composition: len_nfc < len_raw row by
    row, and the normalized STRING hash-matches DuckDB's
    nfc_normalize."""
    from ..functions.text import with_unicode_nfc

    df = _ts(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.col("text"), F.lit(_NFC_SUFFIX)).alias("raw")
    )
    out = with_unicode_nfc(df, "raw", output_col="nfc_text")
    return out.select(
        "doc_id",
        F.length("raw").alias("len_raw"),
        F.length("nfc_text").alias("len_nfc"),
        "nfc_text",
    )


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (functions/profile.py
    value_histogram): 20 bins over an explicit [0, 500000] range so
    both engines bin from identical bounds; clamp/floor/edge arithmetic
    is a fixed IEEE expression, bit-exact vs the generated oracle."""
    from ..functions.profile import value_histogram

    df = _t(spark, sf_dir, "orders")
    return value_histogram(df, "o_totalprice", bins=20, lo=0.0, hi=500_000.0)


def q_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum z-score outlier screen over order totals, grouped by
    priority (functions/profile.py outlier_flags): quantized power sums
    make every z-score bit-exact vs the generated oracle."""
    from ..functions.profile import outlier_flags

    df = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return outlier_flags(
        df, "o_totalprice", z_threshold=2.0, group_cols=["o_orderpriority"]
    )


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-training inner step: corpus-wide adjacent-char-pair counts,
    top-50 merge candidates (functions/text.py bpe_pair_counts)."""
    from ..functions.text import bpe_pair_counts

    df = _ts(spark, sf_dir, "documents").select("text")
    return bpe_pair_counts(df, "text", k=50)


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of orders (int/string columns —
    engines agree on those casts byte-for-byte): one scan, one Expand
    aggregation, struct explode to long format.  The oracle re-scans
    per column; the Spark plan must not (functions/profile.py)."""
    from ..functions.profile import profile_columns

    df = _t(spark, sf_dir, "orders")
    return profile_columns(
        df, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    )


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pass a real corpus gets before training:
    quality score + repetition fraction + language ID + deterministic
    split assignment, then the quality/repetition admission filter — all
    per-row JVM expressions, so the ENTIRE pipeline fuses into ONE scan
    with no joins and no shuffles (the oracle joins the four independent
    per-signal oracles instead; same rows either way).
    Demonstrates that the engine's curation operators compose without
    materialization barriers between stages."""
    from ..functions.text import (
        with_lang_id,
        with_quality,
        with_repetition,
        with_split_assign,
    )

    df = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    df = with_quality(df)
    df = with_repetition(df, ns=(2,))
    df = with_lang_id(df)
    df = with_split_assign(df, "doc_id")
    return df.filter(
        (F.col("quality") >= 0.5) & (F.col("dup_2gram_frac") <= 0.05)
    ).select("doc_id", "quality", "dup_2gram_frac", "lang_pred", "split")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on (lang, source): keep the lowest doc_id."""
    from ..functions.dedup import exact_dedup

    df = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return exact_dedup(df, ["lang", "source"], "doc_id")


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via MinHash LSH (64 perms, 16 bands) — the
    ``dedup`` op's minhash geometry.  md5-fold shingle codes, the
    numpy-UDF signatures, the Mersenne band folds, the banded candidate
    set AND the exact-Jaccard verify all hash-check against the
    generated oracle (ngram_pairs_oracle_sql with the same band
    geometry), the same code a flow runs."""
    from ..functions.dedup import minhash_lsh_pairs

    df = _ts(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return minhash_lsh_pairs(
        df, "doc_id", "text", threshold=0.3, bands=16, rows_per_band=4, seed=42
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-≤3 pairs (the standard near-dup radius; a loose
    radius like 10 degrades banding to 5-bit buckets and goes
    quadratic).  60-bit md5-prefix token hashes make every stage —
    vote sums, signature bits, pigeonhole bands, Hamming verify —
    engine-exact integer math, so the FULL pipeline hash-checks
    against the generated oracle (simhash_pairs_oracle_sql), the same
    code a flow runs."""
    from ..functions.dedup import simhash_pairs

    df = _ts(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return simhash_pairs(df, "doc_id", "text", max_hamming=3)


def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard pairs via deterministic MinHash banding at
    the miner's default 4 bands × 3 rows — every stage (md5-int
    shingle codes, integer band keys, exact Jaccard) is
    SQL-expressible, so the FULL LSH pipeline is hash-checked against
    the generated DuckDB oracle (ngram_pairs_oracle_sql)."""
    from ..functions.dedup import minhash_lsh_pairs

    df = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_lsh_pairs(df, "doc_id", "text")


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs sharing exact 8-token runs — the suffix-array substring-dup
    signal (partial duplication: boilerplate, quoted passages) as a
    distributed shingle equi-join; every stage integer-exact, so the
    full pipeline hash-checks against the generated oracle
    (dedup.substring_pairs_oracle_sql)."""
    from ..functions.dedup import substring_run_pairs

    df = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return substring_run_pairs(df, "doc_id", "text", run_len=8)


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding cosine near-dup pairs via sign-LSH with ±1.0
    (Rademacher) hyperplanes: every projection is an exact-float
    add/subtract chain, so bucket assignment, candidate pairing, AND
    the fold-order cosine verify all hash-match the generated DuckDB
    oracle (functions/dedup.py embedding_pairs_oracle_sql, same seed).
    ``n_planes`` self-sizes from the corpus
    count through dedup.auto_n_planes (8/11/14 ladder) — the r12 sf10
    sweep proved the fixed default saturates every bucket at 200k
    vectors (candidates ≈ corpus²/2**n_planes); the oracle carries one
    count-gated plane-literal block per rung."""
    from ..functions.dedup import auto_n_planes, embedding_neardup_pairs

    df = _ts(spark, sf_dir, "embeddings")
    n = df.count()  # sizes n_planes AND gates the broadcast verify
    return embedding_neardup_pairs(
        df, "vec_id", "embedding", threshold=0.3,
        n_planes=auto_n_planes(n), corpus_count=n,
    )


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quantized k-means (k=8, 2 Lloyd iterations) over
    the embeddings table — integer centroid sums and fold-order double
    distances make the full iterative algorithm hash-match the unrolled
    CTE oracle (functions/clustering.py module docstring)."""
    from ..functions.clustering import kmeans_assign

    df = _ts(spark, sf_dir, "embeddings")
    return kmeans_assign(df, "vec_id", "embedding", k=8, iters=2)


def q_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity quota: k-means assignment + the
    engine's md5-rank draw, 10 per cluster — coverage of small modes
    that a uniform hash sample would under-represent."""
    from ..functions.clustering import diversity_sample

    df = _ts(spark, sf_dir, "embeddings")
    return diversity_sample(df, "vec_id", "embedding", k=8, iters=2, per_cluster=10)


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k for the first 20 vectors.  DuckDB's
    list_cosine_similarity over double arrays ranks identically to the
    engine's fold-order double cosine (verified bit-for-bit at sf0.01)."""
    from ..functions.similarity import cosine_topk

    emb = _ts(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return cosine_topk(emb, queries, k=10)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH approximate cosine top-k (the scale path: candidates
    share a hyperplane-signature bucket in ≥1 of 8 tables; only bucket
    collisions pay the exact-cosine re-rank).  Approximate relative to
    brute force (recall floors in tests/test_similarity_recall.py) but
    engine-EXACT with its ±1.0 (Rademacher) planes: the generated oracle
    (similarity.lsh_topk_oracle_sql, same seed) reproduces the bucket
    assignment, candidate set, cosine, and rank bit-for-bit."""
    from ..functions.similarity import lsh_topk

    emb = _ts(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return lsh_topk(emb, queries, k=10)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate cosine top-k: centroids fit on the hash-smallest
    2048 vectors (deterministic integer Lloyd's),
    corpus partitioned into inverted lists, queries probe only the 4
    nearest lists.  Approximate relative to brute force (recall floors
    in tests/test_similarity_recall.py) but engine-exact: the unrolled
    CTE oracle (similarity.ivf_topk_oracle_sql) reproduces the fit,
    assignment, probe, and re-rank bit-for-bit."""
    from ..functions.similarity import ivf_topk

    emb = _ts(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf_topk(emb, queries, k=10, sample_size=2048, iters=2)


def q_ann_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted ANN INDEX STORE (functions/similarity.py
    build_ann_store / ann_from_store — FAISS's train/add/search
    lifecycle as a lakehouse layout): the IVF index built ONCE to
    parquet (centroid table + inverted lists PARTITIONED BY cid),
    then the query batch served FROM the store — only the probed list
    directories are read (the probed-cid literal filter reaches the
    scan as a PartitionFilter; plan-pinned), the raw corpus never.
    Serving math is bit-identical to ivf_topk, so
    this hash-matches the SAME unrolled-CTE oracle as ann_ivf_topk —
    equality IS the proof the index round trip is lossless."""
    from ..functions.similarity import ann_from_store, build_ann_store

    emb = _ts(spark, sf_dir, "embeddings")
    store = _scratch_dir("ela_ann_store", sf_dir)
    build_ann_store(emb, store, "vec_id", "embedding",
                    n_centroids=16, iters=2, sample_size=2048)
    queries = emb.filter(F.col("vec_id") < 20)
    return ann_from_store(spark, store, queries, k=10, nprobe=4)


def q_ann_store_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN ingest (functions/similarity.py
    append_to_ann_store — FAISS's add() for the lakehouse layout): the
    coarse quantizer is fit ONCE on the full corpus, the store is
    built holding only the EVEN half of the vectors, and the ODD half
    arrives later as an appended batch assigned to the FIXED existing
    centroids.  Serving the composed store hash-matches the SAME
    unrolled-CTE oracle as ann_ivf_topk / ann_store over the whole
    corpus — equality IS the proof that
    ``build(A, centroids=C) + append(B) == build(A ∪ B, centroids=C)``
    (per-vector assignment against pinned centroids cannot depend on
    arrival batch).  Append cost is one narrow write of the batch; the
    store's existing lists are never read or rewritten."""
    from ..functions.similarity import (
        ann_from_store,
        append_to_ann_store,
        build_ann_store,
        fit_ivf_centroids,
    )

    emb = _ts(spark, sf_dir, "embeddings")
    store = _scratch_dir("ela_ann_append", sf_dir)
    cents = fit_ivf_centroids(
        emb, "vec_id", "embedding", n_centroids=16, iters=2, sample_size=2048
    )
    build_ann_store(
        emb.filter(F.col("vec_id") % 2 == 0), store, "vec_id", "embedding",
        n_centroids=16, centroids=cents,
    )
    append_to_ann_store(
        emb.filter(F.col("vec_id") % 2 == 1), store, "vec_id", "embedding"
    )
    queries = emb.filter(F.col("vec_id") < 20)
    return ann_from_store(spark, store, queries, k=10, nprobe=4)


def q_dataset_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift audit between two corpus slices
    (functions/profile.py dataset_drift): the documents table's
    n_chars profile compared across two sources, per-bin integer
    counts plus the chi-square-style drift term (integer cross
    products, one squaring, one division — log-free, engine-exact).
    The corpus reduces to ≤ 2·n_bins counter rows before anything
    joins — the pre-refresh drift gate at any SF."""
    from ..functions.profile import dataset_drift

    docs = _t(spark, sf_dir, "documents")
    return dataset_drift(
        docs, "source", "n_chars", "src0", "src1", bin_width=256.0, n_bins=20
    )


def q_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote labeling served from the persisted ANN index
    (functions/similarity.py knn_label): the training-free classifier —
    each query's 10 store-served neighbors vote with their labels,
    majority wins (votes DESC, label ASC ties).  Self-matches are
    excluded by the serve, so corpus-as-queries is leave-one-out
    evaluation.  Votes are integer counts (order-independent); the
    oracle composes the SAME unrolled IVF oracle the ann_store row
    proves with the vote/tie-break layer on top — stage composition,
    the image_neardup pattern."""
    from ..functions.similarity import build_ann_store, knn_label

    emb = _ts(spark, sf_dir, "embeddings")
    store = _scratch_dir("ela_knn_store", sf_dir)
    build_ann_store(emb, store, "vec_id", "embedding",
                    n_centroids=16, iters=2, sample_size=2048)
    queries = emb.filter(F.col("vec_id") < 20)
    labels = emb.select("vec_id", "label")
    return knn_label(spark, store, queries, labels, k=10, nprobe=4)


def _domain_edges2(dom: DataFrame) -> DataFrame:
    """The distance-≤2 domain co-citation edge set (from a (doc_id,
    domain) frame) shared by q_triangle_count and q_label_propagation
    — ONE Spark-side definition mirroring the single
    _DOMAIN_EDGES2_SQL oracle fragment (independent copies are the
    drift vector — the _toks_sql rule).  UNION of two EQUI-joins,
    never an OR condition: Catalyst cannot hash-join a disjunction of
    equalities and would fall back to a nested-loop scan — quadratic
    in |docs| (measured 18× at 10× rows before this form; linear
    after)."""
    a, b = dom.alias("a"), dom.alias("b")

    def _link(offset: int):
        return (
            a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + offset)
            .select(F.col("a.domain").alias("src"), F.col("b.domain").alias("dst"))
        )

    return (
        _link(1).unionAll(_link(2))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (functions/graph.py triangle_count —
    the degree-ordered compact-forward join) over the synthetic domain
    co-citation graph widened to distance ≤ 2 (consecutive docs AND
    next-but-one, so the deterministic stand-in actually closes
    triangles: domains of docs i, i+1, i+2 form one whenever all three
    differ).  The orientation bounds wedge fan-out by O(sqrt(|E|)) on
    celebrity nodes; the oracle's simple id-ordered formulation counts
    the SAME orientation-independent triangle set."""
    from ..functions.graph import triangle_count
    from ..functions.web import domain_extract

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_SYNTH_URL_SQL).alias("url")
    )
    dom = domain_extract(docs, "url").select("doc_id", "domain")
    return triangle_count(_domain_edges2(dom))


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via deterministic synchronous label
    propagation (functions/graph.py label_propagation) over the same
    distance-≤2 domain co-citation graph triangle_count uses: 4 fixed
    mode-adoption rounds ((count DESC, label ASC) ties), isolated
    nodes keep their own label.  Distinct from connected components —
    mode adoption finds dense cores, not reachability.  The oracle is
    the identical recurrence unrolled as MATERIALIZED CTEs."""
    from ..functions.graph import label_propagation
    from ..functions.web import domain_extract

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_SYNTH_URL_SQL).alias("url")
    )
    dom = domain_extract(docs, "url").select("doc_id", "domain")
    nodes = dom.select(F.col("domain").alias("node")).distinct()
    return label_propagation(nodes, _domain_edges2(dom), iters=4)


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key OHLC candlestick bars over hourly buckets
    (functions/timeseries.py ohlc_bars — the hypertable
    time_bucket+first/last downsampling aggregate): one (key, bucket)
    shuffle with map-side partials; open/close are min_by/max_by over
    the (epoch_micros, value) struct order, so same-second ties are
    deterministic in both engines."""
    from ..functions.timeseries import ohlc_bars

    ev = _t(spark, sf_dir, "events")
    return ohlc_bars(ev, "event_type", "ts", "value", bucket_seconds=3600)


def q_pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook fit (functions/pq.py
    fit_pq_codebooks): each of 8 subspaces of the 64-dim embeddings
    gets a 16-entry codebook from the SAME deterministic hash-sample +
    integer-grid Lloyd's as the IVF coarse quantizer (hash-smallest
    sample, strict-< lower-code ties, empty codes keep their previous
    word).  Output is every codeword coordinate as a row — the oracle
    UNROLLS the whole per-subspace fit in SQL, so this row proves the
    training half of IVF-PQ with no embedded constants."""
    from ..functions.pq import fit_pq_codebooks

    emb = _ts(spark, sf_dir, "embeddings")
    books, _rats = fit_pq_codebooks(
        emb, m=8, k_codes=16, iters=2, sample_size=2048
    )
    rows = [
        (s, c, j, books[s][c][j])
        for s in range(8)
        for c in range(16)
        for j in range(8)
    ]
    from ..session import local_df

    return local_df(spark, rows, "sub int, code int, dim_pos int, coord double")


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving end-to-end (functions/pq.py — FAISS's IVFPQ as a
    lakehouse layout): coarse quantizer + per-subspace codebooks fit,
    the corpus persisted as cid-partitioned lists of 8 CODES per
    vector (not 64 doubles — the 100 TB memory-budget trade), serving
    probes 4 lists, ADC-scores the codes against the raw query
    (m-major/coordinate-minor fold), keeps the top 40 per query, and
    exactly re-ranks those against the full-precision refine layer.
    The oracle unrolls ALL of it — IVF fit (byte-shared with the
    ann_store oracle parts), 8 codebook fits, code selection, the ADC
    fold, the cut, the re-rank — so the hash-match proves the complete
    composed pipeline, with the emitted cosine EXACT for every
    returned neighbor (approximation only affects which candidates
    reach the re-rank)."""
    from ..functions.pq import ann_pq_from_store, build_pq_store

    emb = _ts(spark, sf_dir, "embeddings")
    store = _scratch_dir("ela_pq_store", sf_dir)
    build_pq_store(emb, store, "vec_id", "embedding",
                   n_centroids=16, iters=2, sample_size=2048,
                   m=8, k_codes=16)
    queries = emb.filter(F.col("vec_id") < 20)
    return ann_pq_from_store(
        spark, store, queries, k=10, nprobe=4, refine_factor=4
    )


def q_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRENDING per-window top-k: the 3 most frequent event types in
    each 1-hour tumbling window (count desc, type asc tie-break) — the
    leaderboard shape every monitoring/feed pipeline runs.  One window
    aggregate shuffle + a rank window PARTITIONED BY window start (the
    post-aggregate frame is |windows|×|types| — bounded, never the
    fact table)."""
    from ..streaming import read_event_table, windowed_event_counts

    df = read_event_table(spark, f"{sf_dir}/events.parquet")
    counts = windowed_event_counts(df, window_duration="1 hour")
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("window_start").cast("double").alias("window_start_epoch"),
            "event_type",
            "n_events",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate over the event table (the batch
    side of the streaming operator — identical plan under readStream)."""
    from ..streaming import read_event_table, windowed_event_counts

    df = read_event_table(spark, f"{sf_dir}/events.parquet")
    out = windowed_event_counts(df, window_duration="1 hour")
    # Timestamps leave the harness as epoch seconds: PySpark's collect()
    # renders timestamps in the HOST timezone (independent of the
    # session tz), while DuckDB returns naive UTC — epoch doubles are
    # identical in both engines on any host.
    return out.select(
        F.col("window_start").cast("double").alias("window_start_epoch"),
        F.col("window_end").cast("double").alias("window_end_epoch"),
        "event_type",
        "n_events",
        "sum_value",
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-dedup via the streaming operator's batch-degenerate path
    (dropDuplicatesWithinWatermark on a stream, dropDuplicates here —
    tests/test_multimodal_streaming.py asserts the two agree).  The
    output projects to per-type distinct-key counts so the result is
    deterministic regardless of which duplicate row survives."""
    from ..streaming import dedup_events, read_event_table

    df = read_event_table(spark, f"{sf_dir}/events.parquet")
    deduped = dedup_events(df, keys=["user_id", "event_type"])
    return deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_active_users"))


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-bucket sample (SampleOperation.key_column):
    engine-exact row selection — the sample a training pipeline can
    reproduce on any engine or cluster layout — hash-checked against
    the generated DuckDB predicate."""
    from ..model import SampleOperation

    df = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return apply_operations(df, [
        SampleOperation(fraction=0.25, seed=42, key_column="o_orderkey"),
    ], spark)


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the event props column through the
    json_extract flow operator (a scalar-function capability the
    reference lacks entirely — SURVEY §2.2 'no array/map/json
    functions')."""
    from ..model import JsonExtractOperation
    from ..streaming import read_event_table

    df = read_event_table(spark, f"{sf_dir}/events.parquet")
    out = apply_operations(df, [
        JsonExtractOperation(
            input_column="props", json_path="$.k", target_type="integer", output_column="prop_k"
        ),
    ], spark)
    return out.select("event_id", "prop_k")


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks the most recent order (by orderdate
    ≤ event time) of the same customer.  Right side deduped to one order
    per (custkey, orderdate) — smallest orderkey — so the match is
    well-defined; mirrors DuckDB's native ASOF JOIN in the oracle."""
    from ..functions.asof import asof_join
    from ..functions.dedup import exact_dedup
    from ..streaming import read_event_table

    events = read_event_table(spark, f"{sf_dir}/events.parquet").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    orders_1 = exact_dedup(orders, ["o_custkey", "o_orderdate"], "o_orderkey")
    out = asof_join(
        events,
        orders_1,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        value_columns=["o_totalprice"],
    )
    return out.select("event_id", "user_id", "o_orderdate_asof", "o_totalprice_asof")


def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH a staleness bound: each purchase picks the same
    user's latest prior view, but a view older than 30 minutes reverts
    to no-match (NULLs) — pandas merge_asof tolerance semantics, the
    attribution-window variant of q_asof_join.  Same single
    union+window plan; the bound is a post-window projection.  Oracle:
    DuckDB native ASOF JOIN wrapped in the same CASE."""
    from ..functions.asof import asof_join
    from ..functions.dedup import exact_dedup
    from ..streaming import read_event_table

    ev = read_event_table(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "ts", "event_type"
    )
    views = exact_dedup(
        ev.filter(F.col("event_type") == "view").select(
            "user_id", "ts", F.col("event_id").alias("view_id")
        ),
        ["user_id", "ts"],
        "view_id",
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        purchases,
        views,
        left_on="user_id",
        right_on="user_id",
        left_time="ts",
        right_time="ts",
        value_columns=["view_id"],
        tolerance=1800.0,
    )
    return out.select("event_id", "user_id", "ts_asof", "view_id_asof")


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range self-join: pairs of events by the same user within 60s —
    bucketed expansion (one equi-shuffle), never a cross join.  The
    oracle states the same semantics as a plain inequality join."""
    from ..functions.range_join import within_tolerance_pairs
    from ..streaming import read_event_table

    events = read_event_table(spark, f"{sf_dir}/events.parquet")
    return within_tolerance_pairs(
        events, key="user_id", time_col="ts", id_col="event_id", tolerance=60.0
    )


def _grouped_qty(spark: SparkSession, sf_dir: str, grouping: str) -> DataFrame:
    """Shared body for the rollup/cube queries (reference gap: 'no
    grouping sets, cube, rollup' — SURVEY §2.2): same Expand-pass
    aggregation, only the grouping-set lattice differs."""
    df = _t(spark, sf_dir, "lineitem").withColumn(
        "qty_dec", F.col("l_quantity").cast("decimal(18,2)")
    )
    out = apply_operations(df, [
        AggregationOperation(
            group_by=["l_returnflag", "l_linestatus"],
            grouping=grouping,
            aggregations={
                "sum_qty": {"column": "qty_dec", "agg": "sum"},
                "n": {"column": "*", "agg": "count"},
            },
        ),
    ], spark)
    return out.select(
        "l_returnflag", "l_linestatus", F.col("sum_qty").cast("double").alias("sum_qty"), "n"
    )


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 2^d grouping combinations via cube."""
    return _grouped_qty(spark, sf_dir, "cube")


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via rollup."""
    return _grouped_qty(spark, sf_dir, "rollup")


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min), batch path of the stateful
    streaming operator; lag/cumsum formulation mirrors the SQL oracle."""
    from ..streaming import read_event_table, sessionize

    df = read_event_table(spark, f"{sf_dir}/events.parquet")
    out = sessionize(df, gap_seconds=1800)
    # Epoch output for host-tz independence (see q_events_window).
    return out.select(
        "user_id",
        F.col("session_start").cast("double").alias("session_start_epoch"),
        F.col("session_end").cast("double").alias("session_end_epoch"),
        "n_events",
        "sum_value",
    )


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (streaming/events.py session_window_agg):
    Spark's built-in ``session_window`` merges gap-based sessions inside
    the aggregation operator — no per-key Python state, identical plan
    on batch and stream.  Boundary semantics differ from the custom
    ``sessionize``: a new session opens at gap >= 30 min and the window
    end carries the trailing gap; the oracle mirrors both."""
    from ..streaming import read_event_table, session_window_agg

    df = read_event_table(spark, f"{sf_dir}/events.parquet")
    out = session_window_agg(df, gap="30 minutes")
    return out.select(
        "user_id",
        F.col("session_start").cast("double").alias("session_start_epoch"),
        F.col("session_end").cast("double").alias("session_end_epoch"),
        "n_events",
        "sum_value",
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: documents → PNG media table
    (synthesize_media_bmp(codec='png'): each doc's utf-8 bytes become an
    8-bit grayscale raster) → extract_image_features (Arrow-batched
    mapInPandas, built-in PNG decode).  Per row: the typed metadata,
    n_bytes (the stored-block PNG's closed-form size) and the sum of
    the 16 bins (1 for any decoded payload, 0 for empty text)."""
    from ..functions.multimodal import extract_image_features, synthesize_media_bmp

    media = synthesize_media_bmp(_ts(spark, sf_dir, "documents"), codec="png")
    feats = extract_image_features(media, dim=16)
    return feats.select(
        "media_id",
        "mime",
        "n_bytes",
        F.round(
            F.aggregate("feature", F.lit(0.0), lambda a, x: a + x.cast("double")), 4
        ).alias("f_sum"),
    )


def q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end, no imaging library: documents →
    MIXED-FORMAT media (synthesize_media_bmp(codec='alternate') — each
    doc's utf-8 bytes become a real raster, even ids as 24-bit BMP,
    odd ids as zlib-compressed 8-bit PNG) →
    extract_image_features, which decodes the pixels
    back through the built-in pure-Python BMP/PNG codecs (stdlib zlib
    inflate for PNG) and histograms the decoded
    intensities.  The output
    re-integerizes the per-bin mass (round(f_b · n_pixels) — exact for
    float32 at these magnitudes) so the driver hash checks the actual
    pixel counts: n_bytes is the ENCODED size (54-byte header +
    4-byte-aligned rows), n_pixels the DECODED raster size, and hist
    the per-bin pixel counts including the final row's zero padding —
    none of which a histogram of the compressed bytes could produce."""
    from ..functions.multimodal import extract_image_features, synthesize_media_bmp

    media = synthesize_media_bmp(
        _ts(spark, sf_dir, "documents"), codec="alternate"
    )
    feats = extract_image_features(media, dim=16)
    return feats.select(
        "media_id",
        "mime",
        "n_bytes",
        "n_pixels",
        F.expr(
            "array_join(transform(feature, "
            "x -> CAST(round(CAST(x AS DOUBLE) * CAST(n_pixels AS DOUBLE)) AS BIGINT)"
            "), ',')"
        ).alias("hist"),
    )


def q_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode end-to-end, no imaging library
    (functions/multimodal.py synthesize_media_jpeg + _decode_jpeg):
    documents → flat-block grayscale JFIF (each doc's utf-8 bytes
    become constant 8×8 pixel blocks — DC-only coefficients, all-ones
    quant table, Annex-K huffman tables) → extract_image_features
    runs the GENERAL baseline decoder (huffman entropy
    decode, dequantize, inverse zigzag, float64 iDCT, level shift) and
    histograms the decoded intensities.  Flat blocks make the lossy
    format's round-trip exact, so the hist is byte-derivable: every
    text byte is 64 pixels of its own value.  n_bytes is intentionally
    NOT selected — huffman scan length has no SQL closed form.  Same
    shape as image_decode: one mapInPandas synth + one mapInPandas
    decode, zero shuffles, embarrassingly parallel at any corpus
    size."""
    from ..functions.multimodal import extract_image_features, synthesize_media_jpeg

    media = synthesize_media_jpeg(_ts(spark, sf_dir, "documents"))
    feats = extract_image_features(media, dim=16)
    return feats.select(
        "media_id",
        "mime",
        "n_pixels",
        F.expr(
            "array_join(transform(feature, "
            "x -> CAST(round(CAST(x AS DOUBLE) * CAST(n_pixels AS DOUBLE)) AS BIGINT)"
            "), ',')"
        ).alias("hist"),
    )


def q_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL progressive-JPEG decode end-to-end, no imaging library
    (functions/multimodal.py synthesize_media_jpeg(codec='progressive')
    + _decode_jpeg_progressive): the same flat-block pixels as
    jpeg_decode but emitted as a ten-scan SOF2 successive-approximation
    stream — DC first at Al=2, two DC refinement scans, per-band AC
    first + refinement scans (all EOBn run lengths, since flat blocks
    have zero AC), restart intervals inside every scan — the dominant
    real-web JPEG variant the r11 builtin codec rejected.  Decoded
    pixels are bit-identical to the baseline stream by construction,
    so the SAME byte-derivable oracle hash-checks this query; the
    random-coefficient progressive↔baseline equivalences live in
    tests/test_jpeg_progressive.py.  Same scale shape as jpeg_decode:
    two mapInPandas stages, zero shuffles, embarrassingly parallel."""
    from ..functions.multimodal import extract_image_features, synthesize_media_jpeg

    media = synthesize_media_jpeg(
        _ts(spark, sf_dir, "documents"), codec="progressive"
    )
    feats = extract_image_features(media, dim=16)
    return feats.select(
        "media_id",
        "mime",
        "n_pixels",
        F.expr(
            "array_join(transform(feature, "
            "x -> CAST(round(CAST(x AS DOUBLE) * CAST(n_pixels AS DOUBLE)) AS BIGINT)"
            "), ',')"
        ).alias("hist"),
    )


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling end-to-end, no media library
    (functions/multimodal.py sample_frames + synthesize_media_y4m):
    documents → Y4M clips (each doc's utf-8 bytes become consecutive
    4×16 luma frames of a real YUV4MPEG2 container — the format
    ``ffmpeg -f yuv4mpegpipe`` emits) → sample_frames
    parses the container built-in, picks k = min(4, t) evenly-spaced
    source frames (⌊j·t/k⌋ — deterministic integer math), and emits
    each as a standalone grayscale PNG → extract_image_features
    decodes those PNGs back and histograms the
    intensities.  Video → frames → image features: the full
    multimodal composition over two mapInPandas stages, zero shuffles.  The frame_uid pack/unpack (media_id·16 +
    source index) threads the frame identity through the fixed
    image-feature schema."""
    from ..functions.multimodal import (
        extract_image_features,
        sample_frames,
        synthesize_media_y4m,
    )

    docs = _ts(spark, sf_dir, "documents")
    media = synthesize_media_y4m(docs, width=16, height=4)
    frames = sample_frames(media, n_frames=4)
    fr = frames.select(
        # pack multiplier 16 (frame_index < n_frames=4), NOT 2^32: the
        # sf10 key-shifted ids reach ~1e10 and media_id*2^32 overflows
        # bigint under ANSI mode (caught by the r12 sf10 sweep)
        (F.col("media_id") * F.lit(16) + F.col("frame_index")).alias(
            "frame_uid"
        ),
        F.col("frame_payload").alias("payload"),
        F.lit("image/png").alias("mime"),
    )
    feats = extract_image_features(fr, id_col="frame_uid", dim=16)
    return feats.select(
        F.expr("media_id DIV 16").alias("media_id"),
        F.expr("CAST(media_id % 16 AS INT)").alias("frame_index"),
        "n_bytes",
        "n_pixels",
        F.expr(
            "array_join(transform(feature, "
            "x -> CAST(round(CAST(x AS DOUBLE) * CAST(n_pixels AS DOUBLE)) AS BIGINT)"
            "), ',')"
        ).alias("hist"),
    )


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end, no audio library
    (functions/multimodal.py synthesize_media_wav +
    extract_audio_features): documents → mono 8-bit-PCM WAV clips
    (each doc's utf-8 bytes become the unsigned amplitude samples of a
    canonical RIFF/WAVE container) → the built-in RIFF parser decodes
    the waveform back and histograms the amplitudes.  Completes the
    image/video/audio modality triple, all with real standard
    containers and pure-Python decoders.  n_bytes is the canonical
    44-byte-header closed form, n_samples the decoded frame count,
    duration_ms the integer n_samples·1000 // rate, and hist the
    re-integerized per-bin amplitude counts — every column
    text-derivable, so the oracle needs no audio model."""
    from ..functions.multimodal import extract_audio_features, synthesize_media_wav

    media = synthesize_media_wav(_ts(spark, sf_dir, "documents"))
    feats = extract_audio_features(media, dim=16)
    return feats.select(
        "media_id",
        "mime",
        "n_bytes",
        "n_samples",
        "duration_ms",
        F.expr(
            "array_join(transform(feature, "
            "x -> CAST(round(CAST(x AS DOUBLE) * CAST(n_samples AS DOUBLE)) AS BIGINT)"
            "), ',')"
        ).alias("hist"),
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval overlap join (functions/range_join.py
    interval_overlap_join — the missing sibling of the point-in-range
    shape): each user's view windows [ts, ts+10min] overlapped against
    the same user's purchase windows, with the exact overlap length in
    integer microseconds.  Bucketed expansion + ONE equi-shuffle on
    (user, bucket); each true pair survives exactly once via the
    canonical-bucket condition (the bucket holding the later start lies
    inside both intervals), so there is no dedup pass to pay for.  The
    oracle states the same semantics as a plain inequality join —
    feasible at sf, which is the point of checking the blocked plan
    against it."""
    from ..functions.range_join import interval_overlap_join
    from ..streaming import read_event_table

    events = read_event_table(spark, f"{sf_dir}/events.parquet")
    win = F.expr("ts + INTERVAL 10 MINUTES")
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), "ts", win.alias("te")
    )
    buys = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts", win.alias("te")
    )
    return interval_overlap_join(
        views,
        buys,
        key="user_id",
        left_id="view_id",
        right_id="purchase_id",
        left_start="ts",
        left_end="te",
        right_start="ts",
        right_end="te",
        bucket_width_seconds=600.0,
    )


def q_fuzzy_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTITY RESOLUTION end-to-end — the record-linkage composition:
    blocked bounded-Levenshtein pairs (same params as fuzzy_join) fed
    through distributed connected components, then the keep-best
    survivor policy over the documents table (longest n_chars wins,
    min doc_id ties).  The edit-distance sibling of semantic_dedup:
    where that one clusters by embedding similarity, this clusters the
    near-identical STRINGS a crawl's URL/title/boilerplate variants
    produce.  All three stages are existing exact-oracle operators
    (fuzzy_join, dedup_clusters, dedup_keep_best); the oracle chains
    the same generated pair SQL through the recursive-closure CTE and
    the identical rank policy — stage composition, so none can drift.

    Scale shape: pair mining is block-bucketed (never all-pairs, the
    fuzzy_block_stats-audited candidate volume), components hold only
    clustered nodes, and the corpus is touched by one score join and
    one anti join."""
    from ..functions.fuzzy import fuzzy_pairs
    from ..functions.graph import dedup_keep_best

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    meta = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    pairs = fuzzy_pairs(docs, "doc_id", "text", max_dist=8)
    return dedup_keep_best(
        meta, pairs, "doc_id", "n_chars", edges_deduped=True
    ).select("doc_id", "source", "n_chars")


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-version diff (functions/profile.py snapshot_diff): two
    deterministic snapshots of orders — old drops keys ≡ 3 (mod 11),
    new drops keys ≡ 5 (mod 13) and bumps o_totalprice on keys ≡ 0
    (mod 9) — diffed into added/removed/changed/unchanged labels via
    ONE co-partitioned full-outer join (sort-merge at scale, both
    sides corpus-sized), then counted by status.  NULL-safe column
    comparison.  The refresh-validation audit every incremental
    pipeline runs."""
    from ..functions.profile import snapshot_diff

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders.filter(F.col("o_orderkey") % 11 != 3)
    new = orders.filter(F.col("o_orderkey") % 13 != 5).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 9 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    diff = snapshot_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )
    return diff.groupBy("diff_status").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def q_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join explosion audit (functions/profile.py
    join_explosion_audit): before joining view events against click
    events on user_id, compute the EXACT per-key output cardinality
    (n_views · n_clicks), its share of the total, and rank the top 10
    contributors — the skew pre-flight that tells you which keys to
    salt BEFORE the shuffle straggles.  Each fact side collapses to a
    per-key count first (map-side partials); the audit join is
    count-table × count-table, never the facts; the total broadcasts
    as one row.  share is ONE IEEE division — engine-exact."""
    from ..functions.profile import join_explosion_audit
    from ..streaming import read_event_table

    events = read_event_table(spark, f"{sf_dir}/events.parquet")
    views = events.filter(F.col("event_type") == "view")
    clicks = events.filter(F.col("event_type") == "click")
    return join_explosion_audit(views, clicks, "user_id", top_k=10)


def q_ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 scalar-quantized ANN (functions/similarity.py sq8_topk —
    the SQ8 mode vector stores ship as the rung between full precision
    and IVF-PQ): per-dimension [min, max] grids from a 1-row broadcast
    corpus aggregate, one byte per coordinate (8× smaller scans),
    asymmetric scoring of the raw query against dequantized codes, the
    top k·refine_factor cut, then the EXACT full-precision cosine
    re-rank — emitted scores always exact, approximation only selects
    candidates.  The oracle mirrors every stage: data-derived stats
    CTE (no double literals cross the parser), identical clamp/floor
    quantize-dequantize trees, identical left-assoc folds, the shared
    _sql_cosine re-rank."""
    from ..functions.similarity import sq8_topk

    emb = _ts(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return sq8_topk(emb, queries, k=10, refine_factor=4)


def q_dataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card manifest (functions/profile.py dataset_manifest):
    the release summary a training-data consumer checks first — corpus
    size, NULL/empty text, char + whitespace-token totals, length
    extremes, distinct sources — as appendable long-format
    (metric, BIGINT value) rows from ONE map-side-combined aggregation.
    The token rule mirrors with_token_counts exactly, so the manifest
    agrees with every other token accounting in the repo."""
    from ..functions.profile import dataset_manifest

    return dataset_manifest(
        _t(spark, sf_dir, "documents"), text_col="text", source_col="source"
    )


def q_scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension read (functions/incremental.py
    scd2_snapshot — the consumer half of scd2_history): the per-user
    event_type dimension exactly as it stood at 2024-01-02 00:00 UTC,
    read from the SCD2 history with half-open interval semantics
    (valid_from <= t < valid_to, open intervals unbounded).  Write +
    read together close the slowly-changing-dimension loop; the oracle
    composes the scd2 oracle with the same literal filter."""
    from ..functions.incremental import scd2_history, scd2_snapshot
    from ..streaming import read_event_table

    ev = read_event_table(spark, f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_id", "event_type"
    )
    hist = scd2_history(ev, ["user_id"], "ts", ["event_type"], order_col="event_id")
    snap = scd2_snapshot(hist, "2024-01-02 00:00:00")
    return snap.select(
        "user_id",
        "event_type",
        F.col("valid_from").cast("double").alias("valid_from_epoch"),
    )


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join, batch form (identical lazy plan to
    what each micro-batch executes — streaming/events.enrich_stream):
    events enriched with customer attributes over a broadcast-able
    dimension side.  Oracle: plain LEFT JOIN."""
    from ..streaming import enrich_stream, read_event_table

    events = read_event_table(spark, f"{sf_dir}/events.parquet")
    dim = _t(spark, sf_dir, "customer")
    out = enrich_stream(
        events, dim, right_on="c_custkey", columns_to_add=["c_name", "c_mktsegment"]
    )
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("double").alias("ts_epoch"),
        "value",
        "c_name",
        "c_mktsegment",
    )


def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, batch form (identical lazy plan):
    every view paired with the same user's purchases within the next
    hour — the watermark-bounded two-stream join shape.  Oracle: plain
    range self-join."""
    from ..streaming import join_event_streams, read_event_table

    events = read_event_table(spark, f"{sf_dir}/events.parquet")
    views = events.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    out = join_event_streams(views, purchases, key="user_id", within="1 hour")
    return out.select(
        F.col("event_id").alias("view_id"),
        F.col("event_id_r").alias("purchase_id"),
        "user_id",
        (F.col("ts_r").cast("double") - F.col("ts").cast("double")).alias("dt_seconds"),
        F.col("value_r").alias("purchase_value"),
    )


def q_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once sink end-to-end: events parquet → file-source stream
    (availableNow trigger) → foreachBatch idempotent sink (overwritten
    ``path/batch_id=N`` dirs) → read the landed layout back and
    aggregate.  Hash-matching a plain SQL aggregate over the SOURCE
    proves no loss or duplication through the stream+sink round trip."""
    import os
    import shutil

    from ..streaming import read_event_stream, write_stream_idempotent

    # Per-invocation scratch dir (also the checkpoint root — a fresh
    # dir each run means the stream can never resume a stale
    # checkpoint against changed data); dead runs' dirs GC'd by the
    # helper's live-pid check.
    tmp = _scratch_dir("ela_stream_sink", sf_dir)
    # Spark's file stream source requires a DIRECTORY (the landing-zone
    # shape); stage the single test file into one.
    src_dir = f"{tmp}/landing"
    os.makedirs(src_dir)
    shutil.copy(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    out_dir = f"{tmp}/out"
    stream = read_event_stream(spark, src_dir, nanos=True)
    q = write_stream_idempotent(
        stream.select("event_id", "event_type", "value"),
        out_dir,
        checkpoint=f"{tmp}/ckpt",
    )
    q.awaitTermination()
    landed = spark.read.parquet(out_dir)
    return landed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


def q_sorted_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered layout end-to-end (sources/io.py write_sorted):
    events rewritten with repartitionByRange(ts) + sortWithinPartitions
    so each file owns a disjoint time range, then a 1-day window
    (3 % of the 30-day span) is scanned off the sorted copy and
    aggregated.  At 100 TB this layout is what turns a time-window
    query into a touch of the few files covering the window — the
    footer-level pruning evidence is in tests/test_sorted_layout.py.
    Hash-matching a plain aggregate over the SOURCE proves the
    sort+rewrite is lossless and the pruned read returns exactly the
    window's rows."""
    from ..sources import write_sorted
    from ..streaming import read_event_table

    tmp = _scratch_dir("ela_sorted_layout", sf_dir)
    ev = read_event_table(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    write_sorted(ev, tmp, ["ts"], num_files=8)
    back = spark.read.parquet(tmp).filter(
        (F.col("ts") >= F.lit("2024-01-15 00:00:00"))
        & (F.col("ts") < F.lit("2024-01-16 00:00:00"))
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


def q_compacted_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-target compaction end-to-end (sources/io.py
    write_sized; sibling of the AQE-advisory write_compacted): events
    rewritten into measured ~1 MB files, then aggregated off the
    compacted copy.  Hash-matching a plain aggregate over the SOURCE
    proves the probe-sized rewrite is lossless; file sizing itself is
    pinned in tests/test_sorted_layout.py."""
    from ..sources import write_sized
    from ..streaming import read_event_table

    tmp = _scratch_dir("ela_compacted_layout", sf_dir)
    ev = read_event_table(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    write_sized(ev, tmp, target_mb=1)
    back = spark.read.parquet(tmp)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering end-to-end (sources/io.py write_zorder):
    events rewritten on a (user_id, value) Morton code, then a 2-D box
    predicate is scanned off the clustered copy and aggregated per
    user.  Each z-ordered file bounds BOTH dimensions, so at 100 TB
    the box predicate touches a handful of files where a single-column
    sort could only prune one dimension (footer evidence:
    tests/test_sorted_layout.py).  Hash-matching a plain aggregate
    over the SOURCE proves the quantile-bucket rewrite is lossless and
    the clustered read returns exactly the box's rows."""
    from ..sources import write_zorder
    from ..streaming import read_event_table

    tmp = _scratch_dir("ela_zorder_layout", sf_dir)
    ev = read_event_table(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    )
    write_zorder(ev, tmp, ["user_id", "value"], num_files=8)
    back = spark.read.parquet(tmp).filter(
        (F.col("user_id") <= 7)
        & (F.col("value") >= 100.0)
        & (F.col("value") <= 150.0)
    )
    return back.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination sweep: documents with doc_id % 20 == 0
    act as the held-out eval set; every other document is scored for
    word-3-gram overlap against it (functions/curation.py).  The
    benchmark's distinct shingle set broadcasts into a left-semi join —
    the corpus never shuffles at text width.  Exact oracle generated
    from the same md5-fold shingle formulas as dedup_ngram."""
    from ..functions.curation import contamination_check

    from ..sources import rebalance_scan

    docs = rebalance_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return contamination_check(corpus, bench)


def q_neardup_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted band-store admission gate end-to-end
    (functions/incremental.py build_neardup_store +
    neardup_gate_from_store): the corpus's MinHash band keys are
    WRITTEN to a parquet store partitioned by band, then the batch is
    gated by a semi-join against the store — the production layout
    that replaces per-batch corpus re-shingling.  The oracle
    re-derives both band tables inline from the same shared band-key
    SQL the pair oracle uses, so writing through parquet is proven
    lossless for the gate verdicts."""
    from ..functions.incremental import build_neardup_store, neardup_gate_from_store

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    batch = docs.filter(F.col("doc_id") % 20 == 0)
    store = _scratch_dir("ela_neardup_store", sf_dir)
    build_neardup_store(corpus, store)
    return neardup_gate_from_store(batch, spark, store).select(
        "doc_id", "is_known_near", "is_batch_dup"
    )


def q_dedup_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted fingerprint-store admission gate (functions/
    incremental.py build_fingerprint_store + dedup_gate_from_store):
    corpus fingerprints written once to parquet, batch gated by one
    semi-join — the exact-dedup sibling of neardup_store, with
    incremental_dedup's verdict semantics."""
    from ..functions.incremental import build_fingerprint_store, dedup_gate_from_store

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    store = _scratch_dir("ela_dedup_store", sf_dir)
    build_fingerprint_store(corpus, store)
    return dedup_gate_from_store(batch, spark, store).select(
        "doc_id", "is_known", "is_batch_dup"
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate line removal (functions/curation.py
    line_dedup): lines shared by >1 documents stripped corpus-wide,
    text rebuilt in position order — one line-key count shuffle, one
    anti-join, one regroup."""
    from ..functions.curation import line_dedup

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return line_dedup(docs, "doc_id", "text", max_docs=1)


# multi-line synthetic texts for the per-language line-dedup variant
# (the test corpus is single-line): a per-language footer (boilerplate
# WITHIN each language), a rare promo line shared by doc_id%50 docs
# (under the min_df floor inside every language — must SURVIVE), and a
# unique body-tail line.  One string valid in both SQL dialects.
_SYNTH_LINES_SQL = (
    "text || chr(10) || 'Footer ' || lang || chr(10) || "
    "CASE WHEN doc_id % 50 = 0 THEN 'rare promo line' "
    "ELSE 'body tail ' || CAST(doc_id AS VARCHAR(32)) END"
)


def q_line_dedup_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-LANGUAGE line dedup with a min_df floor (functions/
    curation.py line_dedup group_col/min_df): CCNet's per-language
    shard rule — document frequency counted within each language, and
    the C4-style absolute floor keeps rare legitimate repeats.  Here
    the per-language footers (df = |lang| docs) strip while the
    10-document 'rare promo line' (per-language df ≤ 5 < min_df=8)
    survives — the exact behavior the floor exists for."""
    from ..functions.curation import line_dedup

    docs = _ts(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.expr(_SYNTH_LINES_SQL).alias("text")
    )
    return line_dedup(
        docs, "doc_id", "text", max_docs=1, group_col="lang", min_df=8
    )


# deterministic messy HTML around each document's text — scripts,
# styles, comments, block structure, entities (doc_id%7 docs get their
# spaces rewritten to ' &amp; ' to exercise decode), all in one
# dialect-shared SQL string
_SYNTH_HTML_SQL = (
    "'<html><head><STYLE>b{color:red}</STYLE>"
    "<script src=\"x.js\">var a=1;</script></head><body>"
    "<h1>Doc ' || CAST(doc_id AS VARCHAR(32)) || '</h1><p>' || "
    "CASE WHEN doc_id % 7 = 0 THEN replace(text, ' ', ' &amp; ') ELSE text END "
    "|| '</p><!-- tracker --><div>site footer</div></body></html>'"
)


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction (functions/curation.py html_to_text):
    the stage every web pipeline runs FIRST — strip script/style
    blocks and comments, block closers to newlines, drop tags, decode
    entities, collapse whitespace.  Pure JVM regex chain, zero
    shuffle; the oracle is generated from the same pattern tables."""
    from ..functions.curation import html_to_text

    docs = _ts(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_SYNTH_HTML_SQL).alias("html")
    )
    out = docs.select(
        "doc_id", html_to_text(F.col("html")).alias("text_clean")
    )
    return out.select(
        "doc_id", "text_clean",
        F.length("text_clean").cast("bigint").alias("n_chars_clean"),
    )


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (functions/similarity.py
    quantize_embeddings): per-vector max-abs scale, clamped rounding,
    and the max reconstruction error — the 4-8× vector-store
    compression every production ANN deployment applies.  The int
    array is rendered as a joined string for the driver hash (array
    cells are outside its coverage)."""
    from ..functions.similarity import quantize_embeddings

    emb = _ts(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    out = quantize_embeddings(emb, "vec_id", "embedding", bits=8)
    return out.select(
        "vec_id", "scale",
        F.array_join(F.col("q"), ",").alias("q_str"),
        "max_err",
    )


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TOKEN-budget sampling (functions/curation.py
    token_budget_sample): training mixes are specified in tokens, so
    row-count quotas over/under-shoot sources with different document
    lengths; this keeps an unbiased hash-ordered prefix of each source
    capped at 300 tokens.  Driverless two-phase per-group prefix scan
    — no single-partition window at any group size."""
    from ..functions.curation import token_budget_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        .cast("long").alias("n_tokens"),
    )
    return token_budget_sample(
        docs, "source", "n_tokens", budget=300, id_col="doc_id"
    ).select("doc_id", "source", "n_tokens", "cum_tokens")


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly gap-fill + forward fill over the event table (functions/
    timeseries.py gap_fill_hourly): dense per-type hour grid between
    each type's first and last observation, gap hours carry the last
    observed hourly sum forward — the resample-and-ffill stage of every
    metrics / feature-store pipeline.  Raw events reduce to (type,
    hour) partial aggregates in the FIRST shuffle; the grid explode and
    fill window only ever touch |types| x |hours| rows."""
    from ..functions.timeseries import gap_fill_hourly

    ev = _t(spark, sf_dir, "events")
    return gap_fill_hourly(ev, key="event_type", ts_col="ts", value_col="value")


# sql_transform round-trip: ONE statement template instantiated for
# both engines (view name vs table name), so the op's SQL and the
# oracle cannot drift — integer/extremum aggregates only (no FP sums,
# which would need the engine-specific decimal routing)
_SQLT_TEMPLATE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       MIN(value) AS min_v,
       MAX(value) AS max_v
FROM {table}
WHERE value IS NOT NULL AND event_type IS NOT NULL
GROUP BY event_type
"""


def q_sql_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ad-hoc SQL escape hatch (operators/advanced.py
    apply_sql_transform): the current frame registers as a temp view,
    a single SELECT replaces it, and Catalyst composes
    pushdown/pruning/codegen across the boundary like any native op.
    The oracle is the SAME statement template instantiated against
    DuckDB's table name — shared-dialect aggregates only, so the two
    sides are one string."""
    from ..model import parse_operation

    ev = _t(spark, sf_dir, "events")
    op = parse_operation({
        "operation_type": "sql_transform",
        "statement": _SQLT_TEMPLATE.format(table="frame"),
    })
    return apply_operations(ev, [op], spark)


SQL_TRANSFORM_SQL = _SQLT_TEMPLATE.format(table="events")


# sql_transform with a views side-input: the statement joins the
# current frame against a second registered pipeline input — again ONE
# template instantiated per engine, so op SQL == oracle SQL
_SQLJ_TEMPLATE = """
SELECT c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
       MIN(o.o_totalprice) AS min_price,
       MAX(o.o_totalprice) AS max_price
FROM {orders} o
JOIN {customer} c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


def q_sql_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-input SQL escape hatch: ``views: {name: input_key}``
    registers additional declared pipeline inputs as temp views for
    the statement's lifetime (operators/advanced.py
    apply_sql_transform), so an ad-hoc JOIN across inputs runs inside
    the same guarded op — parsed-plan DML walk, no-clobber view
    registration, all views dropped after analysis.  The oracle is the
    SAME statement template instantiated against DuckDB's table names;
    integer/extremum aggregates keep it one shared-dialect string."""
    from ..model import (
        ColumnDefinition,
        FileDefinition,
        FileSchema,
        parse_operation,
    )

    orders = _t(spark, sf_dir, "orders")
    cust_def = FileDefinition(
        path=f"{sf_dir}/customer.parquet",
        format="parquet",
        file_schema=FileSchema(
            name="customer",
            columns={
                "c_custkey": ColumnDefinition(type="integer"),
                "c_mktsegment": ColumnDefinition(type="string"),
            },
        ),
    )
    op = parse_operation({
        "operation_type": "sql_transform",
        "views": {"cust": "customer"},
        "statement": _SQLJ_TEMPLATE.format(orders="frame", customer="cust"),
    })
    return apply_operations(orders, [op], spark, {"customer": cust_def})


SQL_JOIN_SQL = _SQLJ_TEMPLATE.format(orders="orders", customer="customer")


# row-expectations rule battery over orders: every check shape once —
# shared between the query and its generated oracle so they cannot
# drift (the 400k max threshold genuinely fires: ~20% of orders)
_EXPECT_RULES = [
    {"column": "o_custkey", "check": "not_null"},
    {"column": "o_totalprice", "check": "min", "value": 0.0},
    {"column": "o_totalprice", "check": "max", "value": 400000.0},
    {"column": "o_orderstatus", "check": "in_set", "values": ["O", "F", "P"]},
    {"column": "o_orderpriority", "check": "regex", "pattern": "^[1-5]-"},
    {"column": "o_orderkey", "check": "unique"},
    # cross-column expr rule (shared Spark/DuckDB subset) at warn
    # severity: counted and reported, but never quarantines/enforces
    {
        "check": "expr",
        "name": "custkey_below_orderkey",
        "expr": "o_custkey < o_orderkey",
        "severity": "warn",
    },
]


def q_row_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level data-quality audit (functions/expectations.py — the
    Great-Expectations-shaped battery the schema validator stops short
    of): per declared rule, the violation count and rate over orders.
    One scan, ONE 1-row exchange regardless of rule count — map-side
    partial aggregation reduces the corpus to a counter row per
    partition, and the per-rule output rows explode out of the single
    global row (no per-rule scans, no joins).  Integer conditional
    sums; the rate is one guarded IEEE division."""
    from ..functions.expectations import expectations_summary

    orders = _t(spark, sf_dir, "orders")
    return expectations_summary(orders, _EXPECT_RULES)


def _row_expectations_oracle() -> str:
    from ..functions.expectations import expectations_oracle_sql

    return expectations_oracle_sql(table="orders", rules=_EXPECT_RULES)


# this process's live bucketed-table catalog entries (external tables
# over scratch data) — previous generations are dropped on the next
# q_bucketed_join entry so catalog metadata cannot accumulate
_BJOIN_TABLES: list[str] = []


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located bucketed join (sources/io.py write_bucketed): both
    sides rewritten hash-bucketed on the join key with the SAME bucket
    count, so Catalyst sees compatible output partitionings and joins
    WITHOUT a shuffle on either side — the pre-partitioned lakehouse
    path that turns the biggest join at 100 TB into a map-side zip
    (plan-pinned: the only exchange is the 5-row final regroup).
    Hash-matching a plain join+aggregate oracle over the SOURCE tables
    proves the bucketed rewrite is lossless.  Lifecycle: the DATA
    lives as EXTERNAL tables under a _scratch_dir (the shared
    garbage-collected lifecycle every write-then-read-back query uses
    — dead-pid cleanup plus bounded own-process generations), never in
    the shared warehouse; table NAMES are per-invocation (pid+uuid,
    the in-memory catalog is per-session) and this process's previous
    catalog entries are dropped on entry (metadata only — external
    data stays readable for lazily-held prior frames until scratch
    GC retires it)."""
    import os
    import uuid

    from ..sources import write_bucketed

    while _BJOIN_TABLES:
        spark.sql(f"DROP TABLE IF EXISTS {_BJOIN_TABLES.pop()}")
    scratch = _scratch_dir("ela_bjoin", sf_dir)
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    tag = f"{os.getpid()}_{uuid.uuid4().hex[:8]}"
    tc, to = f"ela_bjoin_cust_{tag}", f"ela_bjoin_ord_{tag}"
    write_bucketed(cust, tc, ["c_custkey"], num_buckets=8, path=f"{scratch}/cust")
    write_bucketed(orders, to, ["o_custkey"], num_buckets=8, path=f"{scratch}/ord")
    _BJOIN_TABLES.extend([tc, to])
    # hint("merge"): at test SF Catalyst would broadcast the small side
    # (hiding the mechanism under test); at 100 TB neither side
    # broadcasts, and THIS is the plan that matters — a sort-merge join
    # with ZERO exchanges on either input because the bucketed layouts
    # already satisfy the required distribution (and sortBy satisfies
    # the ordering).  Plan-pinned in tests/test_plan_shapes.py.
    joined = spark.table(tc).hint("merge").join(
        spark.table(to), F.col("c_custkey") == F.col("o_custkey")
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


BUCKETED_JOIN_SQL = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment
"""


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average over the irregular event series
    (functions/timeseries.py time_weighted_avg — the hypertable
    ``time_weight('locf')`` analogue): each value is held until the
    key's next observation, so the mean weights by DURATION, not
    sample count — the correction a plain AVG needs whenever sampling
    density correlates with level.  Integer discipline throughout
    (epoch-ms BIGINTs, 2^16-quantized values, order-free Σ q·dt) with
    a deterministic (ts, id) total order for lead under duplicate
    timestamps.  ONE hash shuffle: the lead window and the final
    aggregate share the event_type partitioning."""
    from ..functions.timeseries import time_weighted_avg

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    return time_weighted_avg(
        ev, key="event_type", ts_col="ts", value_col="value", id_col="event_id"
    )


def q_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast Bloom-filter decontamination gate (functions/bloom.py):
    the benchmark slice (doc_id % 97 = 0) packs into an m-bit bitmap
    ONCE (driver-side, bounded by m, not data); the corpus is then
    flagged by a pure md5-probe PROJECTION — zero joins, zero shuffles,
    the 100 TB corpus never moves.  Deterministic md5 hash positions
    make the bitmap — false positives included — engine-exact, so the
    gate hash-matches the generated positions-set oracle."""
    from ..functions.bloom import build_bloom_bitmap, with_bloom_flag

    docs = _t(spark, sf_dir, "documents")
    eval_side = docs.where(F.col("doc_id") % 97 == 0).select("text")
    bitmap = build_bloom_bitmap(eval_side, "text", m=_BLOOM_M, k=_BLOOM_K)
    corpus = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return with_bloom_flag(corpus, "text", bitmap, m=_BLOOM_M, k=_BLOOM_K).select(
        "doc_id", "bloom_hit"
    )


# Small filter for the 0.01-sf eval slice (6 docs x 3 hashes): 4096
# bits keep the plan literal at 64 words; production defaults live in
# functions/bloom.py.
_BLOOM_M = 4096
_BLOOM_K = 3


def q_web_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern WEB-CURATION HEAD end-to-end — the round-6 capstone
    composition, mirroring how curation_pipeline proves the classic
    text path and semantic_dedup the embedding path:

        raw HTML + URL → html_to_text → domain_extract →
        per-domain quota (8 best by cleaned length) →
        classifier gate (hashed linear margin ≥ 0) →
        exact dedup (keep-min per normalized cleaned text)

    Every stage is an existing exact-oracle operator; the oracle chains
    their generated SQL (pattern-table HTML chain, domain expression,
    quota window, weight-list classifier, fingerprint keep-min), so no
    stage can drift from its standalone query.  Scale shape: stages 1-3
    are pure projections; the quota window is the first shuffle; the
    classifier is a weight-literal projection; the dedup is one
    fingerprint groupBy — the corpus is never shuffled at HTML width
    after extraction."""
    from pyspark.sql import Window as W

    from ..functions.classifier import classifier_score
    from ..functions.curation import html_to_text
    from ..functions.web import domain_extract, domain_quota

    docs = _ts(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_SYNTH_HTML_SQL).alias("html"),
        F.expr(_SYNTH_URL_SQL).alias("url"),
    )
    ext = docs.select(
        "doc_id", html_to_text(F.col("html")).alias("text_clean"), "url"
    )
    ext = domain_extract(ext, "url").drop("url", "apex_domain")
    ext = ext.withColumn(
        "n_chars_clean", F.length("text_clean").cast("bigint")
    )
    quota = domain_quota(ext, "domain", "n_chars_clean", 8, "doc_id")
    clf = classifier_score(
        quota, "doc_id", "text_clean", threshold=0.0, keep_all=True
    ).filter(F.col("clf_pass"))
    fp = F.md5(F.trim(F.lower(F.col("text_clean"))))
    w = W.partitionBy(fp).orderBy(F.col("doc_id").asc())
    return (
        clf.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select("doc_id", "domain", "n_chars_clean", "score")
    )


def q_domain_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank over the domain link graph (functions/graph.py
    pagerank): domains from the synthetic URLs, edges between the
    domains of consecutive doc_ids (a deterministic co-citation
    stand-in), 3 power iterations on the 2^40 grid with 17/20 damping.
    The web-curation authority signal — CommonCrawl-scale pipelines
    weight domains by link centrality before per-document heuristics.
    Bit-exact vs the unrolled CTE oracle (kmeans/BPE-class iterative
    determinism)."""
    from ..functions.graph import pagerank
    from ..functions.web import domain_extract

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_SYNTH_URL_SQL).alias("url")
    )
    dom = domain_extract(docs, "url").select("doc_id", "domain")
    a, b = dom.alias("a"), dom.alias("b")
    edges = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .select(F.col("a.domain").alias("src"), F.col("b.domain").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = dom.select(F.col("domain").alias("node")).distinct()
    return pagerank(nodes, edges, iters=3)


def q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality classifier (functions/classifier.py): the
    fastText-shaped model gate (DCLM / FineWeb-Edu stage) — md5 hashing
    trick into a 1024-bucket weight table, mean-bucket-weight margin,
    threshold keep flag.  Stub weights, production plumbing: one scan,
    one codegen stage, broadcast literal, no UDF, no shuffle."""
    from ..functions.classifier import classifier_score

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return classifier_score(docs, "doc_id", "text")


# the "trained" weight table for the artifact-loading variant: a
# DIFFERENT seed than the stub default (so a silently ignored artifact
# cannot pass) plus a nonzero bias/threshold, all on the 2^-20 grid
_CLF_FILE_SEED, _CLF_FILE_BIAS, _CLF_FILE_THRESHOLD = 7, 0.03125, 0.05


def _clf_file_weights() -> list[float]:
    from ..functions.classifier import hashed_classifier_weights

    return hashed_classifier_weights(1024, _CLF_FILE_SEED)


def q_classifier_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """classifier_score with FILE-LOADED weights (functions/
    classifier.py save_classifier_weights + load_classifier_weights):
    the weight table round-trips through a parquet artifact — the
    trained-model deployment path — then embeds into the plan as the
    same exact literals, so the scorer hash-matches an oracle built
    from the ORIGINAL Python list (proving the artifact round trip is
    lossless).  Uses a different seed + nonzero bias/threshold than
    classifier_score so an ignored artifact cannot accidentally pass.
    Scale shape unchanged: bounded driver-side artifact read
    (kilobytes), one codegen scan, no UDF, no shuffle."""
    from ..functions.classifier import (
        classifier_score,
        load_classifier_weights,
        save_classifier_weights,
    )

    artifact = _scratch_dir("ela_clf_weights", sf_dir)
    save_classifier_weights(_clf_file_weights(), artifact, spark=spark)
    w = load_classifier_weights(artifact, spark=spark, dim=1024)
    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return classifier_score(
        docs, "doc_id", "text",
        bias=_CLF_FILE_BIAS, threshold=_CLF_FILE_THRESHOLD, weights=w,
    )


_CLF_TRAIN_DIM, _CLF_TRAIN_ITERS, _CLF_TRAIN_LR_BITS = 256, 8, 10
# Planted linear label for the trainer demo: y = +1 iff
# count('spark')+count('join') >= count('table')+count('row') — a
# genuine function of the hashed-count feature space, so the batch
# perceptron actually LEARNS it (mistakes 500 → 39 over the 8 halving
# rounds on this corpus) rather than parking on the majority class.
_CLF_TRAIN_WORDS = ("spark", "join", "table", "row")


def _clf_train_labeled(spark: SparkSession, sf_dir: str):
    """(docs, labeled) for the trainer queries — the ONE Spark-side
    encoding of the planted label (its SQL mirror is
    _clf_train_label_sql; both derive from _CLF_TRAIN_WORDS so the
    two trainer queries and the oracle cannot drift apart)."""
    from ..functions.dedup import _token_col

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    toks = _token_col(F.col("text"))

    def cnt(word: str):
        return F.size(F.filter(toks, lambda t: t == F.lit(word)))

    s, j, tb, rw = (cnt(w) for w in _CLF_TRAIN_WORDS)
    labeled = docs.where(F.col("text").isNotNull()).withColumn(
        "label", F.when(s + j >= tb + rw, 1).otherwise(-1)
    )
    return docs, labeled


def q_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end classifier TRAINING loop (functions/classifier.py
    classifier_train): deterministic full-batch perceptron — per
    round, one codegen scan computes margins against the current
    plan-literal weights, the INTEGER per-bucket gradient map-side-
    combines to <= dim rows in a single explode->groupBy shuffle, and
    the halving-step update keeps every weight an exact binary
    fraction — then save_classifier_weights -> load_classifier_weights
    round-trips the trained table through a parquet artifact and
    classifier_score serves it.  The oracle re-derives ALL 8 training
    rounds as unrolled CTEs from the same constants and scores with
    the resulting weight list, so a hash match proves the whole
    train->save->load->score loop engine-exact.  Scale: iters is a
    fixed constant; each round costs one corpus scan plus a dim-row
    shuffle/collect (kilobytes) — no gradient ever grows with corpus
    size."""
    from ..functions.classifier import (
        classifier_score,
        classifier_train,
        load_classifier_weights,
        save_classifier_weights,
    )

    docs, labeled = _clf_train_labeled(spark, sf_dir)
    w = classifier_train(
        labeled, "text", "label",
        dim=_CLF_TRAIN_DIM, iters=_CLF_TRAIN_ITERS, lr_bits=_CLF_TRAIN_LR_BITS,
    )
    artifact = _scratch_dir("ela_clf_train", sf_dir)
    save_classifier_weights(w, artifact, spark=spark)
    w2 = load_classifier_weights(artifact, spark=spark, dim=_CLF_TRAIN_DIM)
    return classifier_score(docs, "doc_id", "text", dim=_CLF_TRAIN_DIM, weights=w2)


def q_classifier_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARM-START / incremental training (functions/classifier.py
    classifier_train initial_weights + start_round): 4 rounds on the
    even-doc_id half of the corpus, weights through a JSON artifact
    (the other save format — classifier_file exercises parquet), then
    4 MORE rounds on the full corpus resuming the halving schedule at
    round 4, then score.  The oracle derives all 8 rounds in one CTE
    chain with the half-corpus predicate on rounds 1-4, so a hash
    match proves resumed training is arithmetically identical to
    never having stopped — the property that makes per-batch model
    refreshes trustworthy in a store-and-continue ingestion loop (the
    classifier sibling of the sketch stores' append-merge
    losslessness)."""
    from ..functions.classifier import (
        classifier_score,
        classifier_train,
        load_classifier_weights,
        save_classifier_weights,
    )

    docs, labeled = _clf_train_labeled(spark, sf_dir)
    half = labeled.where(F.col("doc_id") % 2 == 0)
    w1 = classifier_train(
        half, "text", "label",
        dim=_CLF_TRAIN_DIM, iters=4, lr_bits=_CLF_TRAIN_LR_BITS,
    )
    import os

    scratch = _scratch_dir("ela_clf_warm", sf_dir)
    os.makedirs(scratch, exist_ok=True)
    artifact = scratch + "/weights.json"
    save_classifier_weights(w1, artifact)
    w1b = load_classifier_weights(artifact, dim=_CLF_TRAIN_DIM)
    w2 = classifier_train(
        labeled, "text", "label",
        dim=_CLF_TRAIN_DIM, iters=4, lr_bits=_CLF_TRAIN_LR_BITS,
        initial_weights=w1b, start_round=4,
    )
    return classifier_score(docs, "doc_id", "text", dim=_CLF_TRAIN_DIM, weights=w2)


# Distillation thresholds: chosen to split the synthetic corpus ~55/45
# (min_mean_word_len=4.4 over the 3.7-5.3 observed range; the default
# min_stop_hits=2 fails every synthetic doc, so 1 here)
_DISTILL_GOPHER_KW = dict(min_mean_word_len=4.4, min_stop_hits=1)


def q_distill_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEURISTIC→MODEL DISTILLATION capstone — the DCLM/FineWeb-Edu
    bootstrap pattern: run the Gopher rule battery as a WEAK
    SUPERVISOR, train the hashed linear classifier on its pass/fail
    verdicts (8 deterministic perceptron rounds), and serve the
    learned gate.  Production value: the rule battery is expensive to
    evolve and brittle across domains; the distilled model generalizes
    its signal into one codegen scoring scan and can then be
    THRESHOLD-TUNED continuously without re-deriving rules (measured
    here: 75% verdict agreement with the rule battery vs the 55%
    majority baseline — dim=256 hashed BoW recovering a mean-word-
    length rule).  The
    oracle chains the generated Gopher SQL (as the labeled-table
    subquery) into the unrolled 8-round training derivation — the
    composed-oracle discipline: neither stage can drift from its Spark
    twin.  Scale: gopher labeling is a pure projection, each training
    round one scan + a dim-row shuffle, the served gate a single scan."""
    from ..functions.classifier import classifier_score, classifier_train
    from ..functions.text import gopher_rules

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    g = gopher_rules(docs, "doc_id", "text", keep_all=True, **_DISTILL_GOPHER_KW)
    labeled = g.where(F.col("text").isNotNull()).withColumn(
        "label", F.when(F.col("gopher_pass"), 1).otherwise(-1)
    )
    w = classifier_train(
        labeled, "text", "label",
        dim=_CLF_TRAIN_DIM, iters=_CLF_TRAIN_ITERS, lr_bits=_CLF_TRAIN_LR_BITS,
    )
    return classifier_score(docs, "doc_id", "text", dim=_CLF_TRAIN_DIM, weights=w)


# classifier_eval threshold sweep: 2^-5-grid candidates spanning the
# stub gate's measured score distribution (p10 ~ -0.03, p90 ~ 0.2)
_EVAL_THRESHOLDS = [-0.03125, 0.0, 0.03125, 0.0625, 0.125, 0.1875, 0.25]


def q_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sweep evaluation of the classifier gate against the
    Gopher rule battery as reference labels (functions/classifier.py
    classifier_eval) — the third leg of the model loop (train → EVAL →
    gate): per candidate cutoff, confusion counts and
    accuracy/precision/recall/F1, so the serving threshold is picked
    from measured operating points.  Integer confusion sums, one IEEE
    division per metric, NULL-guarded zero denominators.  The
    threshold fan-out is map-side (explode of a 7-literal array before
    the partial aggregate): the one exchange carries 7 rows regardless
    of corpus size."""
    from ..functions.classifier import classifier_eval, classifier_score
    from ..functions.text import gopher_rules

    # labels and scores CHAIN as pure projections over one scan — a
    # join-back of two documents scans would be a corpus self-join at
    # 100 TB for no reason (the oracle still spells it as a join; an
    # inner join on the unique doc_id equals the chained projection)
    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    labeled = gopher_rules(
        docs, "doc_id", "text", keep_all=True, **_DISTILL_GOPHER_KW
    ).select("doc_id", "text", "gopher_pass")
    scored = classifier_score(labeled, "doc_id", "text", keep_all=True)
    return classifier_eval(
        scored, "gopher_pass", "score", thresholds=_EVAL_THRESHOLDS
    )


def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty (functions/curation.py doc_novelty): the
    fraction of each document's distinct word-3-gram shingles found
    nowhere else in the corpus — one code-count shuffle, checkpointed
    shingle frame, integer-exact verdicts."""
    from ..functions.curation import doc_novelty

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return doc_novelty(docs, "doc_id", "text")


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content overlap (functions/curation.py
    source_overlap): Jaccard between every source pair's distinct
    shingle sets — collect_list buckets bounded by the SOURCE count,
    pair expansion as a JVM array expression, set sizes broadcast."""
    from ..functions.curation import source_overlap

    docs = _ts(spark, sf_dir, "documents").select("source", "text")
    return source_overlap(docs, "source", "text")


# deterministic messy URLs for the web-curation family (the test
# corpus has no URL column): three shapes per doc_id mod 3, exercising
# scheme/host case, default ports on both schemes, www., subdomains,
# leading/middle/trailing tracking params, fragments, and bare paths.
# One SQL string valid in BOTH dialects (F.expr here, spliced verbatim
# into the DuckDB oracle) — the synthetic input cannot drift.
_SYNTH_URL_SQL = (
    "CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.' || source || "
    "'.Example.COM:443/Docs/' || CAST(doc_id AS VARCHAR(32)) || "
    "'/?utm_source=feed&page=' || CAST(doc_id % 7 AS VARCHAR(32)) || "
    "'&utm_medium=rss#sec' "
    "WHEN doc_id % 3 = 1 THEN 'http://' || source || '.example.com:80/A/' || "
    "CAST(doc_id AS VARCHAR(32)) || '?id=' || CAST(doc_id AS VARCHAR(32)) || "
    "'&utm_campaign=x&ref=tw&q=Spark' "
    "ELSE 'https://Blog.' || upper(source) || '.org/post#frag' END"
)


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL normalization + domain extraction (functions/web.py): the
    gate CCNet/C4/RefinedWeb run before any text heuristic.  Lowercase
    scheme/host, strip fragment/default-port/tracking-params, derive
    domain (no www., no port) and apex (last two labels).  All JVM
    string expressions — pure projection, no shuffle."""
    from ..functions.web import domain_extract, url_normalize

    docs = _ts(spark, sf_dir, "documents")
    with_url = docs.select("doc_id", F.expr(_SYNTH_URL_SQL).alias("url"))
    out = domain_extract(url_normalize(with_url, "url"), "url")
    return out.select("doc_id", "url_norm", "domain", "apex_domain")


def q_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (functions/web.py domain_quota): keep
    the 5 highest-quality (longest) docs per domain, ties to the lower
    doc_id — the RefinedWeb pattern that stops crawl-heavy domains from
    dominating a training mix.  One hash shuffle on domain; the rank
    window keeps a bounded top-5 per partition."""
    from ..functions.web import domain_extract, domain_quota

    docs = _ts(spark, sf_dir, "documents")
    with_url = docs.select(
        "doc_id", "n_chars", F.expr(_SYNTH_URL_SQL).alias("url")
    )
    dom = domain_extract(with_url, "url")
    return domain_quota(dom, "domain", "n_chars", 5, "doc_id").select(
        "doc_id", "domain", "n_chars"
    )


def q_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction (functions/curation.py scrub_text): emails,
    URLs, IPs, then digit runs → placeholder tokens, as a pure JVM
    regexp_replace chain.  The input synthesizes all four pattern kinds
    deterministically from event columns (the word-soup corpus has no
    natural PII), and the oracle applies the SAME generated rule chain
    with DuckDB's 'g' flag — Java and RE2 agree on this regex subset."""
    from ..functions.curation import scrub_text
    from ..streaming import read_event_table

    ev = read_event_table(spark, f"{sf_dir}/events.parquet")
    raw = F.concat(
        F.lit("contact user"),
        F.col("user_id").cast("string"),
        F.lit("@mail.example.com or http://ex.com/"),
        F.col("event_type"),
        F.lit(" ip 10.1."),
        (F.col("user_id") % 200).cast("string"),
        F.lit(".9 code "),
        F.col("event_id").cast("string"),
    )
    return ev.select("event_id", scrub_text(raw).alias("scrubbed"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end duplicate CLUSTERING: the exact-oracle ngram LSH
    pairs (same params as dedup_ngram) fed through distributed
    connected components (functions/graph.py) — every document in a
    near-dup cluster labeled with the cluster's minimum doc_id.  The
    oracle runs the SAME generated pair SQL through a recursive
    transitive-closure CTE, so pair mining AND clustering are checked
    together."""
    from ..functions.dedup import minhash_lsh_pairs
    from ..functions.graph import connected_components

    df = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = minhash_lsh_pairs(df, "doc_id", "text")
    return connected_components(pairs, edges_deduped=True).select(
        F.col("node").alias("doc_id"), "component"
    )


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full iterative BPE tokenizer training (functions/text.py
    bpe_train): 6 merge rounds over the corpus word-frequency vocab —
    each round a weighted pair aggregate, a 1-row argmax, and a greedy
    JVM merge fold.  The corpus is scanned once (vocab build); every
    round runs on the bounded vocab.  Oracle is the 6-stage unrolled
    CTE generated from the same parameters."""
    from ..functions.text import bpe_train

    docs = _ts(spark, sf_dir, "documents").select("text")
    return bpe_train(docs, "text", n_merges=6)


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING (hopping) window aggregate — the overlapping-window
    shape tumbling events_window cannot express (each event lands in
    duration/slide = 4 windows): 1-hour windows advancing every 15
    minutes, per event type.  Same operator as the streaming leg
    (windowed_event_counts with slide; watermark bounds state on a
    stream).  The oracle replays Spark's window math in integer epoch
    arithmetic: start = floor-aligned epoch minus j·slide for j in
    0..3."""
    from ..streaming import read_event_table, windowed_event_counts

    df = read_event_table(spark, f"{sf_dir}/events.parquet")
    out = windowed_event_counts(df, window_duration="1 hour", slide="15 minutes")
    return out.select(
        F.col("window_start").cast("double").alias("window_start_epoch"),
        F.col("window_end").cast("double").alias("window_end_epoch"),
        "event_type",
        "n_events",
        "sum_value",
    )


# Fixed merge table for the encode harness query — a "shipped
# tokenizer" applied to the corpus.  The Spark query and the generated
# oracle consume the SAME literal list, so the chained folds cannot
# drift.  (The train→encode integration — applying bpe_train's learned
# output — is covered in tests/test_text_functions.py.)
_BPE_ENCODE_MERGES = [("e", "r"), ("o", "r"), ("i", "n"), ("t", "h")]


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE step (functions/text.py bpe_encode): apply a fixed
    4-merge table to every document with the same greedy fold the
    trainer uses, returning per-doc symbol counts before/after — the
    sequence-length accounting packing needs.  Shuffle-free scan; the
    merge table is driver-side literals (the broadcast-a-model shape)."""
    from ..functions.text import bpe_encode

    docs = _ts(spark, sf_dir, "documents")
    return bpe_encode(docs, _BPE_ENCODE_MERGES, "doc_id", "text")


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding vectors (functions/similarity.py
    embedding_centroids), exploded to (label, dim_pos, centroid,
    n_vecs) scalar rows: one narrow posexplode + one (label, pos)
    shuffle with decimal accumulation.  The class-prototype / coarse-
    quantizer primitive."""
    from ..functions.similarity import embedding_centroids

    emb = _ts(spark, sf_dir, "embeddings")
    return embedding_centroids(emb, "label", "embedding")


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup admission gate (functions/incremental.py
    incremental_neardup): a 10 % slice of documents plays the incoming
    batch against the remaining corpus — each batch row flagged if it
    near-duplicates the corpus (is_known_near) or a lower-id batch row
    (is_batch_dup).  Engine-exact end to end; the oracle composes the
    cross-side and batch-only generated pair SQL with EXISTS verdicts."""
    from ..functions.incremental import incremental_neardup

    docs = _ts(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    batch = docs.filter(F.col("doc_id") % 10 == 3).select("doc_id", "text", "source")
    corpus = docs.filter(F.col("doc_id") % 10 != 3).select("doc_id", "text")
    return incremental_neardup(batch, corpus, "doc_id", "text", threshold=0.3).select(
        "doc_id", "source", "is_known_near", "is_batch_dup"
    )


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware KEEP-BEST dedup (functions/graph.py
    dedup_keep_best): the exact-oracle ngram LSH pairs fed through
    connected components, keeping each cluster's LONGEST document
    (n_chars, min doc_id on ties) instead of the arbitrary minimum id —
    the production curation policy.  Oracle composes the same generated
    pair SQL, the recursive-closure component CTE, and the identical
    rank policy, so all three stages are checked together."""
    from ..functions.dedup import minhash_lsh_pairs
    from ..functions.graph import dedup_keep_best

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text", "source", "n_chars")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text")
    return dedup_keep_best(
        docs, pairs, "doc_id", "n_chars", edges_deduped=True
    ).select("doc_id", "source", "n_chars")


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup end-to-end — the north-star composition: embedding
    near-dup pairs (sign-LSH over the embeddings table, exact-oracle
    Rademacher planes), distributed connected components, then the
    keep-best policy over the id-aligned documents table (longest
    n_chars wins, min doc_id on ties).  All three stages are existing
    exact-oracle operators (dedup_embedding, dedup_clusters,
    dedup_keep_best); this query proves they compose — the oracle
    chains the same generated pair SQL through the recursive-closure
    CTE and the identical rank policy.

    Scale shape: pair mining is banded-bucket (no all-pairs), the
    component table holds only clustered nodes (a small fraction of
    the corpus), and the corpus is touched by exactly one score join
    and one anti join — never shuffled at embedding width.
    ``n_planes`` self-sizes via the same auto_n_planes ladder as
    dedup_embedding (and the oracle is tiered identically), so the
    composition stays exact AND bucket-sane at every measured sf."""
    from ..functions.dedup import auto_n_planes, embedding_neardup_pairs
    from ..functions.graph import dedup_keep_best

    emb = _ts(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    n = emb.count()  # sizes n_planes AND gates the broadcast verify
    pairs = embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.3,
        n_planes=auto_n_planes(n), corpus_count=n,
    )
    return dedup_keep_best(
        docs, pairs, "doc_id", "n_chars", edges_deduped=True
    ).select("doc_id", "source", "n_chars")


def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-dup end-to-end — the multimodal mirror of
    semantic_dedup: BMP media payloads (synthesize_media_bmp: each
    doc's bytes as a real 24-bit raster) → Arrow-batched REAL pixel
    decode through the built-in pure-Python BMP codec
    (extract_image_features: grayscale intensity
    histograms over decoded pixels) → corpus-mean centering
    (center_embeddings — intensity-histogram clouds are tightly
    clustered, so sign-LSH NEEDS the centering to spread buckets) →
    Rademacher sign-LSH near-dup pairs → connected components →
    keep-best (largest payload wins, min media_id ties).

    Every stage is exact: decode(encode(text)) is a bit-true codec
    round-trip (pixel stream = text bytes + pad zeros — the oracle
    derives the same histogram from character codes), the mean is
    quantized-integer, the planes are ±1.0 — so the full five-stage
    composition hash-checks against chained generated SQL
    (image_features_bmp_oracle_sql → centered_oracle_sql →
    embedding_pairs_oracle_sql → keep_best_oracle_sql).

    Runs on the doc_id%5 subset: the synthetic word-soup histograms
    are the LSH worst case (intrinsic dimension ~2), so candidate
    pairs grow ~quadratically in corpus size — real image embeddings
    spread far better; max_bucket caps the degenerate case either
    way.  ``n_planes`` self-sizes from a cheap corpus count through
    the engine's documented ladder (dedup.auto_n_planes: 8/11/14 at
    ≤4 096 / ≤32 768 / beyond), so the benchmark measures LSH rather
    than bucket saturation; the oracle embeds one gated plane-literal
    tier per rung and stays exact at every sf."""
    from ..functions.dedup import auto_n_planes, embedding_neardup_pairs
    from ..functions.graph import dedup_keep_best
    from ..functions.multimodal import extract_image_features, synthesize_media_bmp
    from ..functions.similarity import center_embeddings

    docs = _ts(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    # one narrow parquet count sizes the LSH; the oracle's tier gates
    # run the IDENTICAL count, so query and oracle pick the same rung
    n = docs.count()
    n_planes = auto_n_planes(n)
    media = synthesize_media_bmp(docs)
    feats = extract_image_features(media, dim=16).transform(
        materialize
    )  # one mapInPandas pass feeds the mean agg, pair mining, and keep-best
    centered = center_embeddings(feats, "feature", "centered", dim=16)
    pairs = embedding_neardup_pairs(
        centered, "media_id", "centered",
        threshold=0.995, n_planes=n_planes, n_tables=2,
        dim=16, corpus_count=n,
    )
    return dedup_keep_best(
        feats, pairs, "media_id", "n_bytes", edges_deduped=True
    ).select("media_id", "mime", "n_bytes")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing layout over the documents table: global
    token offsets via the two-phase distributed prefix scan, 512-token
    context windows (functions/curation.py).  Oracle is the single-
    window SUM() OVER (ORDER BY) reference — integer-exact."""
    from ..functions.curation import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_sequences(docs, ctx=512)


# weights shared by the Spark query and the generated oracle — they
# cannot drift (en downsampled, zh repeated 2.5×, fr dropped, rest kept)
_MIXTURE_WEIGHTS = {"en": 0.5, "zh": 2.5, "fr": 0.0}


def q_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain re-weighting over the documents table
    (functions/curation.py weighted_mixture): English halved, Chinese
    repeated 2.5× (every row twice, a hash-chosen half a third time),
    French dropped, other languages kept verbatim; ``copy`` numbers the
    replicas.  One narrow projection + explode — no shuffle, no UDF —
    and the md5 bucket choice makes the surviving/replicated key set
    identical in any engine, so the oracle is exact."""
    from ..functions.curation import weighted_mixture

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "source"
    )
    return weighted_mixture(docs, "lang", _MIXTURE_WEIGHTS, key_col="doc_id", seed=42)


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-batch admission gate (functions/incremental.py
    incremental_dedup): docs with id ≡ 0 (mod 10) play the incoming
    batch, the rest the existing corpus; annotate mode flags
    known-fingerprint and within-batch duplicates.  The synthetic
    corpus's near-dup structure guarantees both flags fire."""
    from ..functions.incremental import incremental_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return incremental_dedup(batch, corpus, "doc_id", "text", mode="annotate")


def q_merge_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge (functions/incremental.py merge_changes): a synthetic
    change feed over orders — keys ≡ 0 (mod 7) get TWO competing
    updates (the higher sequence wins), keys ≡ 1 (mod 7) are deletes —
    applied to the base snapshot.  Latest-pick, delete, anti-join and
    union are all plain SQL, so the merged snapshot hash-checks row for
    row (per-row double arithmetic, no accumulation — bit-exact)."""
    from ..functions.incremental import merge_changes

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    feed = base.filter(F.col("o_orderkey") % 7 < 2).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 7 == 1, "D").otherwise("U").alias("op"),
        (F.col("o_orderkey") % 3).alias("seq"),
    )
    feed = feed.unionByName(
        feed.withColumn("o_totalprice", F.col("o_totalprice") * 1.05).withColumn(
            "seq", F.col("seq") + 1
        )
    )
    return merge_changes(base, feed, ["o_orderkey"], op_col="op", seq_col="seq")


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history (functions/incremental.py scd2_history):
    the event log collapsed into per-user validity intervals of
    event_type — a new version opens only when the type actually
    changes; `is_current` marks the open interval.  One window pass;
    timestamps leave as epoch doubles (engine-independent)."""
    from ..functions.incremental import scd2_history
    from ..streaming import read_event_table

    ev = read_event_table(spark, f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_id", "event_type"
    )
    out = scd2_history(ev, ["user_id"], "ts", ["event_type"], order_col="event_id")
    return out.select(
        "user_id",
        "event_type",
        F.col("valid_from").cast("double").alias("valid_from_epoch"),
        F.col("valid_to").cast("double").alias("valid_to_epoch"),
        "is_current",
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified sampling (functions/curation.py
    stratified_sample): 30 documents per language, ranked by
    md5(doc_id ∥ seed) — deterministic, partition-independent, and
    engine-exact (Spark and DuckDB md5 agree bit for bit), unlike
    fraction-based sampleBy which only hits quotas in expectation."""
    from ..functions.curation import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return stratified_sample(docs, ["lang"], "doc_id", k=30, rank_column="rank").select(
        "doc_id", "lang", "rank"
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED sampling (functions/curation.py
    weighted_sample — sequential Poisson / PPS): 25 documents per
    language with inclusion probability ≈ proportional to n_chars,
    rank = 52-bit-md5(doc_id ∥ seed) / weight, k smallest per group.
    ONE IEEE division per row on an exactly-representable integer
    hash, so the sampled set hash-matches DuckDB bit for bit — the
    quality/size-weighted training-mix primitive uniform hash
    sampling cannot express.  One group-key shuffle, top-k window
    state."""
    from ..functions.curation import weighted_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample(
        docs, ["lang"], "doc_id", "n_chars", k=25, rank_column="rank"
    ).select("doc_id", "lang", "n_chars", "rank")


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window chunking (functions/curation.py chunk_text):
    64-token windows advancing 48 tokens (16-token overlap) — the
    RAG/embedding chunk layout.  Token split binds once per row; chunk
    starts, slices and joins are JVM array expressions, shuffle-free."""
    from ..functions.curation import chunk_text

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_text(docs, "doc_id", "text", chunk_size=64, overlap=16)


def q_near_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate decontamination (functions/curation.py
    near_contamination): MinHash-banded cross-side pairs between a
    held-out benchmark slice (doc_id % 20 == 0) and the remaining
    corpus — the paraphrase-level companion to the exact
    `contamination` check.  Every stage is engine-exact, so the full
    pipeline hash-checks against the generated oracle (same band
    geometry as dedup_minhash)."""
    from ..functions.curation import near_contamination

    docs = _ts(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    return near_contamination(corpus, bench, "doc_id", "text", threshold=0.3)


def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set EXPORT round trip: the deterministic global
    shuffle order written as position-clustered shards (sources/io.py
    write_sorted — each file owns a disjoint position range, i.e. a
    training shard a loader consumes sequentially), read back and
    returned row-for-row.  Hash-matching the global_shuffle oracle
    proves the shard layout is lossless and order-complete; the
    position-range pruning evidence class is tests/test_sorted_layout.
    At 100 TB this is the final write of a curation pipeline: shards
    feed data loaders in shuffle order with no further shuffling."""
    from ..functions.curation import global_shuffle
    from ..sources import write_sorted

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    ordered = global_shuffle(docs, "doc_id", seed=7).select(
        "doc_id", "shuffle_key", "position"
    )
    tmp = _scratch_dir("ela_training_shards", sf_dir)
    write_sorted(ordered, tmp, ["position"], num_files=8)
    return spark.read.parquet(tmp)


def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle (functions/
    curation.py global_shuffle, via the flow dispatcher): every
    document gets md5(doc_id ∥ seed) and its exact 1-based global rank.
    The rank is a two-phase distributed prefix scan (range partition →
    bounded per-partition counts → parallel local windows), never a
    single-partition global window; the permutation is reproducible
    from (key, seed) alone."""
    from ..model import GlobalShuffleOperation

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return apply_operations(docs, [GlobalShuffleOperation(key_column="doc_id", seed=7)], spark)


def q_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile quality gate (functions/curation.py
    quantile_filter, via the flow dispatcher): keep each source's top
    quartile by document length, then aggregate the survivors.  The
    grouped PERCENTILE_CONT threshold table is source-cardinality
    sized and BROADCASTS back onto the corpus — the corpus never
    shuffles; integer count/sum aggregates keep the check exact."""
    from ..model import QuantileFilterOperation

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    kept = apply_operations(docs, [
        QuantileFilterOperation(
            group_columns=["source"], value_column="n_chars", q=0.75,
            threshold_column="threshold",
        ),
    ], spark)
    return kept.groupBy("source").agg(
        F.min("threshold").alias("threshold"),
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
    )


def q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed exact Gram (second-moment) matrix of the embedding
    corpus (functions/linalg.py embedding_gram) — the one corpus pass
    behind PCA/whitening at 100 TB: per Arrow batch a numpy int64
    Q.T@Q over FLOOR(v·2^20)-quantized components (the documented
    BLAS exception to built-ins-first; overflow guarded before the
    matmul), emitting dim·(dim+1)/2 partial rows per batch so the
    final shuffle carries |partitions|·dim² integers regardless of
    corpus size.  Integer products and sums are order-free — the
    merged triangle hash-matches the DuckDB unnest-grid oracle
    bit-for-bit.  The spectral steps consume the collected dim² state
    driver-side (top_eigenvector, pca_project; unit-tested against
    numpy eigh)."""
    from ..functions.linalg import embedding_gram

    emb = _ts(spark, sf_dir, "embeddings")
    return embedding_gram(emb, "embedding", 64)


def _embedding_gram_oracle() -> str:
    from ..functions.linalg import embedding_gram_oracle_sql

    return embedding_gram_oracle_sql(table="embeddings", vec_col="embedding", dim=64)


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding health stats — the sanity pass before any
    ANN/clustering stage (degenerate or wrongly-scaled vectors show up
    as norm outliers).  Per-row squared L2 norms are left-to-right
    double folds (bit-identical across engines, cf. similarity.py);
    the cross-row SUM accumulates in DECIMAL so the result is
    partition-order independent; MIN/MAX need no accumulation.  One
    narrow shuffle on the label key."""
    emb = _ts(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    norm2 = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    per = emb.select(
        "label", norm2.alias("norm2"), F.size("embedding").cast("long").alias("dim")
    )
    return per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("dim").alias("dim"),
        F.sum(F.col("norm2").cast("decimal(28,10)")).cast("double").alias("sum_norm2"),
        F.min("norm2").alias("min_norm2"),
        F.max("norm2").alias("max_norm2"),
    )


def q_partitioned_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned sink end-to-end (sources/io.py save_data
    partition_by): documents rewritten partitioned by ``lang``, then
    one language is scanned off the partitioned copy and aggregated.
    At 100 TB the lang= directory pruning means the scan never opens
    the other partitions' files at all (PartitionFilters evidence:
    tests/test_plan_shapes.py).  Hash-matching a plain filtered
    aggregate over the SOURCE proves the partitioned rewrite is
    lossless and the pruned read returns exactly the partition's
    rows."""
    from ..model import ColumnDefinition, FileDefinition, FileSchema
    from ..sources import save_data

    tmp = _scratch_dir("ela_partitioned_layout", sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars", "lang")
    fd = FileDefinition(
        path=tmp,
        format="parquet",
        file_schema=FileSchema(
            name="documents_by_lang",
            columns={
                "doc_id": ColumnDefinition(type="integer"),
                "source": ColumnDefinition(type="string"),
                "n_chars": ColumnDefinition(type="integer"),
                "lang": ColumnDefinition(type="string"),
            },
        ),
    )
    save_data(docs, fd, partition_by=["lang"])
    back = spark.read.parquet(tmp).filter(F.col("lang") == "en")
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


def q_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity release gate (functions/integrity.py
    fk_orphans): audit all five star-schema foreign keys in one frame
    — child rows, NULL keys, orphan rows, distinct orphan keys per
    relationship.  Each check reduces the child to a key histogram
    before the anti-join, so the exchanges carry |distinct keys|, not
    |rows|; AQE broadcasts the small dimension keysets.  No reference
    analog (validate.py is single-table types/presence only)."""
    from ..functions.integrity import fk_orphans

    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    return fk_orphans(
        [
            {"name": "lineitem.l_orderkey->orders", "child": li,
             "child_key": "l_orderkey", "parent": od, "parent_key": "o_orderkey"},
            {"name": "lineitem.l_partkey->part", "child": li,
             "child_key": "l_partkey", "parent": _t(spark, sf_dir, "part"),
             "parent_key": "p_partkey"},
            {"name": "lineitem.l_suppkey->supplier", "child": li,
             "child_key": "l_suppkey", "parent": _t(spark, sf_dir, "supplier"),
             "parent_key": "s_suppkey"},
            {"name": "orders.o_custkey->customer", "child": od,
             "child_key": "o_custkey", "parent": _t(spark, sf_dir, "customer"),
             "parent_key": "c_custkey"},
            {"name": "customer.c_nationkey->nation",
             "child": _t(spark, sf_dir, "customer"), "child_key": "c_nationkey",
             "parent": _t(spark, sf_dir, "nation"), "parent_key": "n_nationkey"},
        ]
    )


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity screen (functions/integrity.py k_anonymity): the
    quasi-identifier combinations (nation × market segment) whose
    group is smaller than k=10 — the cells a privacy release must
    suppress or generalize.  One group-by over the quasi tuple; the
    violating-cell output is bounded by the quasi domain product
    regardless of corpus size."""
    from ..functions.integrity import k_anonymity

    return k_anonymity(
        _t(spark, sf_dir, "customer"), ["c_nationkey", "c_mktsegment"], 10
    )


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit conformance audit (functions/integrity.py
    benford_audit) over extended price in exact cents: per digit 1..9
    the observed count/fraction, Benford's expected fraction
    (Python-computed log10 literal — no query-time transcendental),
    and the χ² term.  cents = CAST(round(price·100) AS BIGINT): both
    engines round half away from zero, and the digit comes from the
    integer's decimal string — no float formatting anywhere."""
    from ..functions.integrity import benford_audit

    cents = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("bigint")
            .alias("cents")
        )
    )
    return benford_audit(cents, "cents")


def q_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal profile (functions/timeseries.py
    seasonal_baseline): per (event_type, dow) count, exact decimal
    mean, and lift vs the type's overall mean.  Integer dow arithmetic
    (no locale DAYOFWEEK); key totals are window sums over the
    (types × 7)-row aggregate — one corpus scan, one shuffle."""
    from ..functions.timeseries import seasonal_baseline

    return seasonal_baseline(
        _t(spark, sf_dir, "events"), "event_type", ts_col="ts", value_col="value"
    )


def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag 1..7 autocorrelation of the daily event-count series
    (functions/timeseries.py autocorr_lags): corpus → |days|-row
    aggregate, lag pairing by self-join of that aggregate, Pearson r
    from exact decimal power sums — the periodicity detector."""
    from ..functions.timeseries import autocorr_lags

    return autocorr_lags(_t(spark, sf_dir, "events"), ts_col="ts", max_lag=7)


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction (functions/graph.py
    link_prediction) over the order–part co-purchase graph: top-100
    part pairs by Jaccard of their order sets — "bought together"
    recommendations.  Pair volume is bounded by order size (linear in
    orders); the cut is TakeOrdered with (jaccard, part_a, part_b)
    total order."""
    from ..functions.graph import link_prediction

    return link_prediction(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey", k=100
    )


def q_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item–item cosine similarity (functions/mining.py
    item_similarity) over user × event-type incidence — the
    collaborative-filtering kernel; popularity-normalized companion of
    cooccurrence_pairs."""
    from ..functions.mining import item_similarity

    return item_similarity(_t(spark, sf_dir, "events"), "user_id", "event_type")


def q_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-hop reachability (functions/graph.py bfs_hops): exact BFS
    levels 0..3 from the lexicographically smallest domain over the
    same distance-≤2 co-citation graph triangle_count / kcore / LPA
    use — the blast-radius primitive.  Fixed 3-round unrolling, one
    keyed exchange per round."""
    from ..functions.graph import bfs_hops
    from ..functions.web import domain_extract

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_SYNTH_URL_SQL).alias("url")
    )
    dom = domain_extract(docs, "url").select("doc_id", "domain")
    nodes = dom.select(F.col("domain").alias("node")).distinct()
    return bfs_hops(nodes, _domain_edges2(dom), max_hops=3)


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease readability per document
    (functions/text.py text_readability): sentence / word / syllable
    counts from cross-engine-safe regex counting (sentence = [.!?]+
    runs, syllable = [aeiouy]+ runs — the deterministic approximation
    every readability library uses), score as one fixed double tree
    over integer counts.  Pure projection — zero shuffles; the
    quality-signal companion of text_quality for curation gates."""
    from ..functions.text import text_readability

    return text_readability(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id", "text"
    )


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust median/MAD outlier screen over order totals per priority
    (functions/profile.py mad_outliers) — the heavy-tail companion of
    the z-score screen `outlier_flags`: exact PERCENTILE_CONT medians
    broadcast back, 1.4826 consistency constant as a shared literal."""
    from ..functions.profile import mad_outliers

    df = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return mad_outliers(
        df, "o_totalprice", ["o_orderpriority"], k=2.0
    ).select("o_orderkey", "o_orderpriority", "robust_z", "is_outlier")


def q_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between purchase and click daily
    volumes, lags -3..3 (functions/timeseries.py crosscorr_lags) —
    the leading-indicator detector; aggregate-level lag join, decimal
    power sums."""
    from ..functions.timeseries import crosscorr_lags

    return crosscorr_lags(
        _t(spark, sf_dir, "events"), "event_type", "purchase", "click",
        ts_col="ts", max_lag=3,
    )


def q_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands engagement streaks per user
    (functions/timeseries.py user_streaks): longest consecutive-day
    run, total active days, streak count — both windows partition on
    user_id (corpus-cardinality), integer day arithmetic."""
    from ..functions.timeseries import user_streaks

    return user_streaks(_t(spark, sf_dir, "events"), "user_id", ts_col="ts")


def q_dwell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival dwell statistics per event type
    (functions/timeseries.py interarrival_stats): seconds between a
    user's consecutive events, aggregated on the LATER event's type —
    exact decimal mean, exact interpolated median, max.  One
    user-keyed window + one group aggregate."""
    from ..functions.timeseries import interarrival_stats

    return interarrival_stats(
        _t(spark, sf_dir, "events"), "user_id", "event_type",
        ts_col="ts", id_col="event_id",
    )


def q_reconcile_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-header vs line-sum reconciliation in exact cents
    (functions/integrity.py reconcile_totals): declared o_totalprice
    against the sum of raw line extended prices — the finance-closing
    audit shape (on this synthetic schema the header price includes
    tax/discount so the summary quantifies the systematic gap; the
    audit machinery — integer-cents match, child pre-aggregation,
    NULL-header rule — is what this query pins)."""
    from ..functions.integrity import reconcile_totals

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("declared_cents"),
    )
    lines = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("line_cents"),
    )
    return reconcile_totals(
        orders, "o_orderkey", "declared_cents", lines, "l_orderkey", "line_cents"
    )


# --- registry --------------------------------------------------------------

HARNESS_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "equality": q_equality,
    "concatenation": q_concatenation,
    "application": q_application,
    "switching": q_switching,
    "assignation": q_assignation,
    "casting": q_casting,
    "arithmetic": q_arithmetic,
    "comparison": q_comparison,
    "bind": q_bind,
    "fold": q_fold,
    "unfold": q_unfold,
    "filter": q_filter,
    "aggregation": q_aggregation,
    "sort_limit": q_sort_limit,
    "distinct": q_distinct,
    "window": q_window,
    "union": q_union,
    "flagship": flagship,
    "bind_outer": q_bind_outer,
    "bind_cross": q_bind_cross,
    "bind_semi": q_bind_semi,
    "bind_anti": q_bind_anti,
    "fold_mixed": q_fold_mixed,
    "agg_stats": q_agg_stats,
    "window_lag": q_window_lag,
    "window_first_last": q_window_first_last,
    "text_stats": q_text_stats,
    "text_quality": q_text_quality,
    "gopher_rules": q_gopher_rules,
    "tokenize_ids": q_tokenize_ids,
    "curriculum_order": q_curriculum_order,
    "skew_report": q_skew_report,
    "lang_id": q_lang_id,
    "fingerprint": q_fingerprint,
    "doc_repetition": q_doc_repetition,
    "vocab_oov": q_vocab_oov,
    "bm25_topk": q_bm25_topk,
    "inverted_index": q_inverted_index,
    "fuzzy_join": q_fuzzy_join,
    "tfidf_topk": q_tfidf_topk,
    "bigram_lm": q_bigram_lm,
    "doc_lm_score": q_doc_lm_score,
    "ccnet_buckets": q_ccnet_buckets,
    "running_totals": q_running_totals,
    "curation_pipeline": q_curation_pipeline,
    "profile_table": q_profile_table,
    "value_histogram": q_value_histogram,
    "unicode_nfc": q_unicode_nfc,
    "outlier_flags": q_outlier_flags,
    "bpe_pairs": q_bpe_pairs,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash": q_dedup_minhash,
    "dedup_simhash": q_dedup_simhash,
    "dedup_ngram": q_dedup_ngram,
    "dedup_substring": q_dedup_substring,
    "dedup_embedding": q_dedup_embedding,
    "kmeans_clusters": q_kmeans_clusters,
    "diversity_sample": q_diversity_sample,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_store": q_ann_store,
    "ann_store_append": q_ann_store_append,
    "pq_codebooks": q_pq_codebooks,
    "ohlc_bars": q_ohlc_bars,
    "triangle_count": q_triangle_count,
    "knn_label": q_knn_label,
    "dataset_drift": q_dataset_drift,
    "collocations": q_collocations,
    "association_rules": q_association_rules,
    "markov_transitions": q_markov_transitions,
    "changepoint": q_changepoint,
    "skyline": q_skyline,
    "ewma": q_ewma,
    "rolling_median": q_rolling_median,
    "label_propagation": q_label_propagation,
    "temperature_mixture": q_temperature_mixture,
    "kcore": q_kcore,
    "skipgram_pairs": q_skipgram_pairs,
    "negative_sampling": q_negative_sampling,
    "layout_audit": q_layout_audit,
    "ann_pq": q_ann_pq,
    "events_window": q_events_window,
    "trending_topk": q_trending_topk,
    "stream_dedup": q_stream_dedup,
    "stream_enrich": q_stream_enrich,
    "stream_join": q_stream_join,
    "stream_sink": q_stream_sink,
    "sorted_layout": q_sorted_layout,
    "compacted_layout": q_compacted_layout,
    "zorder_layout": q_zorder_layout,
    "multimodal_features": q_multimodal_features,
    "image_decode": q_image_decode,
    "jpeg_decode": q_jpeg_decode,
    "jpeg_progressive": q_jpeg_progressive,
    "video_frames": q_video_frames,
    "audio_features": q_audio_features,
    "interval_join": q_interval_join,
    "fuzzy_dedup": q_fuzzy_dedup,
    "snapshot_diff": q_snapshot_diff,
    "join_cardinality": q_join_cardinality,
    "ann_sq8": q_ann_sq8,
    "dataset_manifest": q_dataset_manifest,
    "fk_orphans": q_fk_orphans,
    "k_anonymity": q_k_anonymity,
    "benford_audit": q_benford_audit,
    "mad_outliers": q_mad_outliers,
    "reconcile_totals": q_reconcile_totals,
    "crosscorr": q_crosscorr,
    "user_streaks": q_user_streaks,
    "dwell_stats": q_dwell_stats,
    "seasonal_baseline": q_seasonal_baseline,
    "autocorr": q_autocorr,
    "link_prediction": q_link_prediction,
    "item_similarity": q_item_similarity,
    "bfs_reach": q_bfs_reach,
    "text_readability": q_text_readability,
    "scd2_snapshot": q_scd2_snapshot,
    "json_extract": q_json_extract,
    "sample_hash": q_sample_hash,
    "sessionize": q_sessionize,
    "session_window": q_session_window,
    "asof_join": q_asof_join,
    "asof_tolerance": q_asof_tolerance,
    "range_join": q_range_join,
    "rollup": q_rollup,
    "cube": q_cube,
    "contamination": q_contamination,
    "pack_sequences": q_pack_sequences,
    "dataset_mixture": q_dataset_mixture,
    "dedup_clusters": q_dedup_clusters,
    "dedup_keep_best": q_dedup_keep_best,
    "semantic_dedup": q_semantic_dedup,
    "incremental_neardup": q_incremental_neardup,
    "bpe_train": q_bpe_train,
    "bpe_encode": q_bpe_encode,
    "events_sliding": q_events_sliding,
    "embedding_centroids": q_embedding_centroids,
    "text_scrub": q_text_scrub,
    "line_dedup": q_line_dedup,
    "neardup_store": q_neardup_store,
    "dedup_store": q_dedup_store,
    "doc_novelty": q_doc_novelty,
    "source_overlap": q_source_overlap,
    "url_normalize": q_url_normalize,
    "domain_quota": q_domain_quota,
    "image_neardup": q_image_neardup,
    "line_dedup_lang": q_line_dedup_lang,
    "classifier_score": q_classifier_score,
    "classifier_file": q_classifier_file,
    "classifier_train": q_classifier_train,
    "classifier_warm": q_classifier_warm,
    "distill_gate": q_distill_gate,
    "classifier_eval": q_classifier_eval,
    "domain_rank": q_domain_rank,
    "html_extract": q_html_extract,
    "web_pipeline": q_web_pipeline,
    "token_budget": q_token_budget,
    "embedding_quantize": q_embedding_quantize,
    "gap_fill": q_gap_fill,
    "time_weighted_avg": q_time_weighted_avg,
    "bucketed_join": q_bucketed_join,
    "row_expectations": q_row_expectations,
    "sql_transform": q_sql_transform,
    "sql_join": q_sql_join,
    "bloom_gate": q_bloom_gate,
    "incremental_dedup": q_incremental_dedup,
    "merge_changes": q_merge_changes,
    "scd2_history": q_scd2_history,
    "stratified_sample": q_stratified_sample,
    "weighted_sample": q_weighted_sample,
    "chunk_docs": q_chunk_docs,
    "near_contamination": q_near_contamination,
    "global_shuffle": q_global_shuffle,
    "training_shards": q_training_shards,
    "quantile_filter": q_quantile_filter,
    "embedding_stats": q_embedding_stats,
    "embedding_gram": q_embedding_gram,
    "partitioned_layout": q_partitioned_layout,
}

# SQL fragments shared by several text oracles (mirror text.py exactly).
from ..functions.text import _toks_sql as __toks_sql  # noqa: E402

_SQL_TOKENS = __toks_sql("text")
_SQL_N_LETTERS = r"(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))"
_SQL_EN_HITS = (
    "len(list_filter(" + _SQL_TOKENS + ", t -> list_contains("
    "['the','a','and','of','to','in','is','that','it','for'], t)))"
)

HARNESS_ORACLES: dict[str, str] = {
    "equality": (
        "SELECT p_partkey, p_retailprice, p_retailprice AS retailprice_copy FROM part"
    ),
    "concatenation": (
        "SELECT c_custkey, c_name || '-' || c_mktsegment AS label FROM customer"
    ),
    "application": "SELECT p_partkey, UPPER(p_name) AS name_upper FROM part",
    "switching": (
        "SELECT l_orderkey, l_linenumber, "
        "CASE WHEN l_returnflag = 'A' THEN l_extendedprice "
        "WHEN l_returnflag = 'N' THEN l_quantity ELSE 0.0 END AS switched_value "
        "FROM lineitem"
    ),
    "assignation": "SELECT r_regionkey, r_name, 'ACTIVE' AS status FROM region",
    "casting": (
        "SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date, "
        "CAST(l_quantity AS BIGINT) AS qty_int FROM lineitem"
    ),
    "arithmetic": (
        "SELECT l_orderkey, l_linenumber, "
        "l_extendedprice * l_discount AS discount_amount, "
        "l_extendedprice - l_tax AS price_less_tax FROM lineitem"
    ),
    "comparison": (
        "SELECT o_orderkey, o_totalprice, o_totalprice > 150000.0 AS is_large FROM orders"
    ),
    "bind": (
        "SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_mktsegment "
        "FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey"
    ),
    "fold": (
        "SELECT p_partkey, 'p_brand' AS attr, p_brand AS val FROM part "
        "UNION ALL SELECT p_partkey, 'p_type' AS attr, p_type AS val FROM part"
    ),
    "unfold": (
        "SELECT o_custkey, "
        "arg_min(o_totalprice, o_orderkey) FILTER (WHERE o_orderstatus = 'F') AS \"F\", "
        "arg_min(o_totalprice, o_orderkey) FILTER (WHERE o_orderstatus = 'O') AS \"O\", "
        "arg_min(o_totalprice, o_orderkey) FILTER (WHERE o_orderstatus = 'P') AS \"P\" "
        "FROM orders GROUP BY o_custkey"
    ),
    "filter": (
        "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > 45.0"
    ),
    "aggregation": (
        "SELECT l_returnflag, l_linestatus, "
        "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty, "
        "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price, "
        "COUNT(*) AS count_order "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus"
    ),
    "sort_limit": (
        "SELECT o_orderkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"
    ),
    "distinct": "SELECT DISTINCT c_mktsegment FROM customer",
    "window": (
        "SELECT o_custkey, o_orderkey, o_totalprice FROM ("
        "SELECT o_custkey, o_orderkey, o_totalprice, "
        "ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
        "FROM orders) t WHERE rn = 1"
    ),
    "union": (
        "SELECT c_name AS name FROM customer UNION ALL SELECT s_name AS name FROM supplier"
    ),
    "flagship": (
        "SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, o.o_orderpriority, p.p_brand, "
        "l.l_extendedprice * (1.0 - l.l_discount) AS revenue, "
        "(l.l_extendedprice * (1.0 - l.l_discount)) > 2000.0 AS is_high_value "
        "FROM lineitem l "
        "LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "LEFT JOIN part p ON l.l_partkey = p.p_partkey"
    ),
    "bind_outer": (
        "SELECT o.o_orderkey, COALESCE(o.o_custkey, c.c_custkey) AS o_custkey, c.c_name "
        "FROM orders o FULL OUTER JOIN customer c ON o.o_custkey = c.c_custkey"
    ),
    "bind_cross": "SELECT r_name, n_name FROM region CROSS JOIN nation",
    "bind_semi": (
        "SELECT s_suppkey, s_name FROM supplier s "
        "WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey)"
    ),
    "bind_anti": (
        "SELECT c_custkey, c_name FROM customer c "
        "WHERE NOT EXISTS (SELECT 1 FROM orders o "
        "WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)"
    ),
    "fold_mixed": (
        "SELECT p_partkey, 'p_brand' AS attr, p_brand AS val FROM part "
        "UNION ALL SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS VARCHAR) AS val FROM part "
        "UNION ALL SELECT p_partkey, 'p_retailprice' AS attr, CAST(p_retailprice AS VARCHAR) AS val FROM part"
    ),
    "agg_stats": (
        "SELECT c_mktsegment, COUNT(DISTINCT c_nationkey) AS n_nations, "
        "MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal, COUNT(*) AS n_customers "
        "FROM customer GROUP BY c_mktsegment"
    ),
    "window_lag": (
        "SELECT o_orderkey, o_custkey, o_totalprice, "
        "LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_totalprice "
        "FROM orders"
    ),
    "window_first_last": (
        "SELECT o_orderkey, o_custkey, "
        "FIRST_VALUE(o_totalprice) OVER w AS first_total, "
        "LAST_VALUE(o_totalprice) OVER w AS last_total "
        "FROM orders WINDOW w AS (PARTITION BY o_custkey "
        "ORDER BY o_orderdate, o_orderkey "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    ),
    "text_stats": (
        "SELECT doc_id, "
        "CASE WHEN trim(text) = '' THEN 0 ELSE len(" + _SQL_TOKENS + ") END AS token_count, "
        r"len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_token_count, "
        + _SQL_N_LETTERS + " AS n_letters, "
        r"(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) AS n_digits, "
        "(length(text) - " + _SQL_N_LETTERS + " - "
        r"(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) - "
        r"(length(text) - length(regexp_replace(text, '\s', '', 'g')))) AS n_punct "
        "FROM documents"
    ),
    "text_quality": (
        "SELECT doc_id, "
        "0.4 * least(length(text)::DOUBLE / 500.0, 1.0) "
        "+ 0.3 * (CASE WHEN length(text) > 0 THEN " + _SQL_N_LETTERS + "::DOUBLE / length(text)::DOUBLE ELSE 0.0 END) "
        "+ 0.3 * (CASE WHEN len(" + _SQL_TOKENS + ") > 0 THEN "
        "least(" + _SQL_EN_HITS + "::DOUBLE / len(" + _SQL_TOKENS + ")::DOUBLE * 5.0, 1.0) ELSE 0.0 END) "
        "AS quality FROM documents"
    ),
    # lang_id oracle is generated from the same stopword tables as the
    # Spark implementation (functions.text.lang_id_oracle_sql) and
    # spliced in below — the two can never drift apart.
    "fingerprint": (
        r"SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint "
        "FROM documents"
    ),
    "dedup_exact": (
        "SELECT doc_id, lang, source FROM documents "
        "WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY lang, source)"
    ),
    # dedup_ngram oracle is GENERATED from the same band parameters as
    # the Spark plan (functions.dedup.ngram_pairs_oracle_sql) and
    # spliced in below — the two can never drift.
    "ann_cosine_topk": (
        "SELECT query_id, neighbor_id, rank FROM ("
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
        "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY "
        "list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.vec_id) AS rank "
        "FROM embeddings q, embeddings c "
        "WHERE q.vec_id < 20 AND q.vec_id != c.vec_id) t WHERE rank <= 10"
    ),
    "events_window": (
        "SELECT epoch(date_trunc('hour', ts)) AS window_start_epoch, "
        "epoch(date_trunc('hour', ts) + INTERVAL 1 HOUR) AS window_end_epoch, "
        "event_type, COUNT(*) AS n_events, "
        "CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value "
        "FROM events GROUP BY 1, 2, 3"
    ),
    "trending_topk": (
        "SELECT window_start_epoch, event_type, n_events, CAST(rank AS BIGINT) AS rank "
        "FROM (SELECT window_start_epoch, event_type, n_events, "
        "row_number() OVER (PARTITION BY window_start_epoch "
        "ORDER BY n_events DESC, event_type) AS rank "
        "FROM (SELECT epoch(date_trunc('hour', ts)) AS window_start_epoch, "
        "event_type, COUNT(*) AS n_events FROM events GROUP BY 1, 2)) "
        "WHERE rank <= 3"
    ),
    "stream_dedup": (
        "SELECT event_type, COUNT(*) AS n_active_users "
        "FROM (SELECT DISTINCT user_id, event_type FROM events) GROUP BY event_type"
    ),
    "stream_enrich": (
        "SELECT e.event_id, e.user_id, e.event_type, epoch(e.ts) AS ts_epoch, e.value, "
        "c.c_name, c.c_mktsegment "
        "FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey"
    ),
    "stream_join": (
        "SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id, "
        "epoch(p.ts) - epoch(v.ts) AS dt_seconds, p.value AS purchase_value "
        "FROM events v JOIN events p ON v.user_id = p.user_id "
        "AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR "
        "WHERE v.event_type = 'view' AND p.event_type = 'purchase'"
    ),
    "stream_sink": (
        "SELECT event_type, COUNT(*) AS n_events, "
        "CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value "
        "FROM events GROUP BY event_type"
    ),
    "sorted_layout": (
        "SELECT event_type, COUNT(*) AS n_events, "
        "CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value "
        "FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' "
        "AND ts < TIMESTAMP '2024-01-16 00:00:00' GROUP BY event_type"
    ),
    "compacted_layout": (
        "SELECT event_type, COUNT(*) AS n_events, "
        "CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value "
        "FROM events GROUP BY event_type"
    ),
    "zorder_layout": (
        "SELECT user_id, COUNT(*) AS n_events, "
        "CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value "
        "FROM events WHERE user_id <= 7 AND value >= 100.0 AND value <= 150.0 "
        "GROUP BY user_id"
    ),
    "json_extract": (
        "SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS prop_k FROM events"
    ),
    # image_decode oracle is generated below from the same constants as
    # the library codec (image_features_bmp_oracle_sql)

    "asof_join": (
        "WITH orders_1 AS ("
        "  SELECT * FROM orders QUALIFY ROW_NUMBER() OVER "
        "  (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey) = 1) "
        "SELECT e.event_id, e.user_id, "
        "epoch(o.o_orderdate) AS o_orderdate_asof, o.o_totalprice AS o_totalprice_asof "
        "FROM events e ASOF LEFT JOIN orders_1 o "
        "ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate"
    ),
    "range_join": (
        "SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b, "
        "abs(epoch(a.ts) - epoch(b.ts)) AS dt_seconds "
        "FROM events a JOIN events b "
        "ON a.user_id = b.user_id AND a.event_id < b.event_id "
        "AND abs(epoch(a.ts) - epoch(b.ts)) <= 60.0"
    ),
    # rollup/cube share one oracle shape; only the lattice keyword
    # differs (spliced below, mirroring _grouped_qty)
    "sessionize": (
        "WITH marked AS ("
        "  SELECT user_id, ts, value, "
        "  CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800 "
        "       OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1 ELSE 0 END AS new_session "
        "  FROM events), "
        "sess AS ("
        "  SELECT user_id, ts, value, "
        "  SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id "
        "  FROM marked) "
        "SELECT user_id, epoch(MIN(ts)) AS session_start_epoch, epoch(MAX(ts)) AS session_end_epoch, "
        "COUNT(*) AS n_events, CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value "
        "FROM sess GROUP BY user_id, session_id"
    ),
    "session_window": (
        # Strict session_window contract: new session at gap >= 1800 s,
        # window end = last event + gap.
        "WITH marked AS ("
        "  SELECT user_id, ts, value, "
        "  CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800 "
        "       OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1 ELSE 0 END AS new_session "
        "  FROM events), "
        "sess AS ("
        "  SELECT user_id, ts, value, "
        "  SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id "
        "  FROM marked) "
        "SELECT user_id, epoch(MIN(ts)) AS session_start_epoch, "
        "epoch(MAX(ts)) + 1800 AS session_end_epoch, "
        "COUNT(*) AS n_events, CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value "
        "FROM sess GROUP BY user_id, session_id"
    ),
}

from ..functions.dedup import ngram_pairs_oracle_sql as _ngram_pairs_oracle_sql  # noqa: E402
from ..functions.text import lang_id_oracle_sql as _lang_id_oracle_sql  # noqa: E402
from ..functions.text import repetition_oracle_sql as _repetition_oracle_sql  # noqa: E402

HARNESS_ORACLES["lang_id"] = _lang_id_oracle_sql()
HARNESS_ORACLES["dedup_ngram"] = _ngram_pairs_oracle_sql()
HARNESS_ORACLES["doc_repetition"] = _repetition_oracle_sql()

from ..functions.profile import profile_oracle_sql as _profile_oracle_sql  # noqa: E402
from ..functions.text import split_assign_oracle_sql as _split_assign_oracle_sql  # noqa: E402

HARNESS_ORACLES["profile_table"] = _profile_oracle_sql(
    "orders", ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
)

from ..functions.text import bpe_pair_counts_oracle_sql as _bpe_oracle_sql  # noqa: E402

HARNESS_ORACLES["bpe_pairs"] = _bpe_oracle_sql(k=50)

from ..functions.profile import histogram_oracle_sql as _histogram_oracle_sql  # noqa: E402

HARNESS_ORACLES["value_histogram"] = _histogram_oracle_sql(
    "orders", "o_totalprice", bins=20, lo=0.0, hi=500_000.0
)

from ..functions.profile import outlier_oracle_sql as _outlier_oracle_sql  # noqa: E402

HARNESS_ORACLES["outlier_flags"] = _outlier_oracle_sql(
    "orders",
    "o_totalprice",
    "o_orderkey, o_orderpriority, o_totalprice",
    z_threshold=2.0,
    group_cols=["o_orderpriority"],
)

# The decomposed suffix is embedded verbatim (UTF-8 literal) so DuckDB
# normalizes the identical raw string the Spark plan builds.
HARNESS_ORACLES["unicode_nfc"] = (
    "SELECT doc_id, length(raw) AS len_raw, "
    "length(nfc_normalize(raw)) AS len_nfc, nfc_normalize(raw) AS nfc_text "
    f"FROM (SELECT doc_id, text || '{_NFC_SUFFIX}' AS raw FROM documents) s"
)

for _lattice in ("ROLLUP", "CUBE"):
    HARNESS_ORACLES[_lattice.lower()] = (
        "SELECT l_returnflag, l_linestatus, "
        "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty, COUNT(*) AS n "
        f"FROM lineitem GROUP BY {_lattice} (l_returnflag, l_linestatus)"
    )

# The composed pipeline reuses the four per-signal oracles verbatim and
# joins them on doc_id — each is exact, so the composition is exact.
HARNESS_ORACLES["curation_pipeline"] = (
    "WITH q AS (" + HARNESS_ORACLES["text_quality"] + "), "
    "r AS (" + _repetition_oracle_sql(ns=(2,)) + "), "
    "l AS (" + HARNESS_ORACLES["lang_id"] + "), "
    "s AS (SELECT doc_id, " + _split_assign_oracle_sql("doc_id") + " FROM documents) "
    "SELECT q.doc_id, quality, dup_2gram_frac, lang_pred, split "
    "FROM q JOIN r USING (doc_id) JOIN l USING (doc_id) JOIN s USING (doc_id) "
    "WHERE quality >= 0.5 AND dup_2gram_frac <= 0.05"
)

from ..functions.dedup import simhash_pairs_oracle_sql as _simhash_pairs_oracle_sql  # noqa: E402

HARNESS_ORACLES["dedup_simhash"] = _simhash_pairs_oracle_sql()

# minhash and ngram are one miner, so they share the oracle generator —
# same shingle codes, same permutations, same band folds; only the
# geometry differs
HARNESS_ORACLES["dedup_minhash"] = _ngram_pairs_oracle_sql(
    n=3, threshold=0.3, bands=16, rows_per_band=4, seed=42, max_bucket=1000
)

from ..functions.dedup import embedding_pairs_oracle_sql as _embedding_pairs_oracle_sql  # noqa: E402

# dedup_embedding / semantic_dedup self-size n_planes via the
# auto_n_planes ladder, so the oracle carries one pair-mining block per
# rung with that rung's plane literals, gated on the SAME corpus-count
# predicate pushed into the innermost embeddings scan (dead rungs
# process zero rows; exactly one rung — the one the Spark query picked
# from the identical count — emits pairs)
_EMB_SIZING = "(SELECT count(*) FROM embeddings)"
_EMB_TIER_GATES = [
    (8, f"{_EMB_SIZING} <= {16 << 8}"),
    (11, f"{_EMB_SIZING} > {16 << 8} AND {_EMB_SIZING} <= {16 << 11}"),
    (14, f"{_EMB_SIZING} > {16 << 11}"),
]
_EMB_PAIRS_TIERED_SQL = " UNION ALL ".join(
    "SELECT id_a, id_b, cosine FROM ("
    + _embedding_pairs_oracle_sql(
        table=f"embeddings WHERE ({gate})", threshold=0.3, n_planes=p
    )
    + f") ep{p}"
    for p, gate in _EMB_TIER_GATES
)
HARNESS_ORACLES["dedup_embedding"] = _EMB_PAIRS_TIERED_SQL

from ..functions.dedup import substring_pairs_oracle_sql as _substring_pairs_oracle_sql  # noqa: E402

HARNESS_ORACLES["dedup_substring"] = _substring_pairs_oracle_sql(run_len=8)

from ..functions.text import vocab_oov_oracle_sql as _vocab_oov_oracle_sql  # noqa: E402

HARNESS_ORACLES["vocab_oov"] = _vocab_oov_oracle_sql(top_k=20)

from ..functions.search import inverted_index_oracle_sql as _inverted_index_oracle_sql  # noqa: E402
from ..functions.search import keyword_search_oracle_sql as _keyword_search_oracle_sql  # noqa: E402

HARNESS_ORACLES["bm25_topk"] = _keyword_search_oracle_sql(["hash", "join", "dup"], k=20)
HARNESS_ORACLES["inverted_index"] = _inverted_index_oracle_sql(max_df=400)

from ..functions.fuzzy import fuzzy_pairs_oracle_sql as _fuzzy_pairs_oracle_sql  # noqa: E402

HARNESS_ORACLES["fuzzy_join"] = _fuzzy_pairs_oracle_sql(max_dist=8)

from ..functions.search import tfidf_topk_oracle_sql as _tfidf_topk_oracle_sql  # noqa: E402

HARNESS_ORACLES["tfidf_topk"] = _tfidf_topk_oracle_sql(k=3)

from ..functions.text import bigram_lm_oracle_sql as _bigram_lm_oracle_sql  # noqa: E402

HARNESS_ORACLES["bigram_lm"] = _bigram_lm_oracle_sql(k=50)

from ..functions.text import doc_lm_score_oracle_sql as _doc_lm_score_oracle_sql  # noqa: E402

HARNESS_ORACLES["doc_lm_score"] = _doc_lm_score_oracle_sql(k=500)

from ..functions.text import gopher_rules_oracle_sql as _gopher_rules_oracle_sql  # noqa: E402

HARNESS_ORACLES["gopher_rules"] = _gopher_rules_oracle_sql()

from ..functions.text import tokenize_ids_oracle_sql as _tokenize_ids_oracle_sql  # noqa: E402

HARNESS_ORACLES["tokenize_ids"] = _tokenize_ids_oracle_sql(top_k=1000)

from ..functions.curation import (  # noqa: E402
    curriculum_order_oracle_sql as _curriculum_order_oracle_sql,
)

from ..functions.profile import key_skew_oracle_sql as _key_skew_oracle_sql  # noqa: E402

HARNESS_ORACLES["skew_report"] = _key_skew_oracle_sql("events", "user_id", top_k=10)

# curriculum_order composes the SAME quality-score SQL the
# text_quality oracle uses, so score and ordering cannot drift
HARNESS_ORACLES["curriculum_order"] = _curriculum_order_oracle_sql(
    "(" + HARNESS_ORACLES["text_quality"] + ")",
    "quality",
    "doc_id",
    batch_size=64,
    select_cols=["doc_id", "quality"],
)

from ..functions.text import (  # noqa: E402
    lm_quality_buckets_oracle_sql as _lm_quality_buckets_oracle_sql,
)

HARNESS_ORACLES["ccnet_buckets"] = _lm_quality_buckets_oracle_sql(k=500)

from ..functions.curation import line_dedup_oracle_sql as _line_dedup_oracle_sql  # noqa: E402

HARNESS_ORACLES["line_dedup"] = _line_dedup_oracle_sql(max_docs=1)

from ..functions.curation import doc_novelty_oracle_sql as _doc_novelty_oracle_sql  # noqa: E402
from ..functions.curation import source_overlap_oracle_sql as _source_overlap_oracle_sql  # noqa: E402

HARNESS_ORACLES["doc_novelty"] = _doc_novelty_oracle_sql()
HARNESS_ORACLES["source_overlap"] = _source_overlap_oracle_sql()

from ..functions.incremental import (  # noqa: E402
    neardup_store_oracle_sql as _neardup_store_oracle_sql,
)

HARNESS_ORACLES["neardup_store"] = _neardup_store_oracle_sql(
    "SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0",
    "SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0",
)

from ..functions.incremental import (  # noqa: E402
    dedup_store_oracle_sql as _dedup_store_oracle_sql,
)

HARNESS_ORACLES["dedup_store"] = (
    "SELECT doc_id, is_known, is_batch_dup FROM ("
    + _dedup_store_oracle_sql(
        "SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0",
        "SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0",
    )
    + ") s"
)

HARNESS_ORACLES["running_totals"] = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM events
GROUP BY user_id
"""

from ..functions.clustering import diversity_sample_oracle_sql as _diversity_oracle_sql  # noqa: E402
from ..functions.clustering import kmeans_oracle_sql as _kmeans_oracle_sql  # noqa: E402

HARNESS_ORACLES["kmeans_clusters"] = _kmeans_oracle_sql(k=8, iters=2)
HARNESS_ORACLES["diversity_sample"] = _diversity_oracle_sql(k=8, iters=2, per_cluster=10)

from ..functions.incremental import incremental_dedup_oracle_sql as _incr_dedup_oracle_sql  # noqa: E402

HARNESS_ORACLES["incremental_dedup"] = _incr_dedup_oracle_sql(
    batch_sql="SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0",
    corpus_sql="SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0",
)

from ..functions.text import sample_hash_oracle_predicate as _sample_pred  # noqa: E402

HARNESS_ORACLES["sample_hash"] = (
    "SELECT o_orderkey, o_totalprice FROM orders WHERE "
    + _sample_pred("o_orderkey", 0.25, 42)
)

from ..functions.curation import (  # noqa: E402
    contamination_oracle_sql as _contamination_oracle_sql,
    pack_sequences_oracle_sql as _pack_sequences_oracle_sql,
)

HARNESS_ORACLES["contamination"] = _contamination_oracle_sql(
    "(SELECT * FROM documents WHERE doc_id % 20 <> 0)",
    "(SELECT * FROM documents WHERE doc_id % 20 = 0)",
)
HARNESS_ORACLES["pack_sequences"] = _pack_sequences_oracle_sql()

from ..functions.curation import mixture_oracle_sql as _mixture_oracle_sql  # noqa: E402

HARNESS_ORACLES["dataset_mixture"] = _mixture_oracle_sql(
    "documents",
    "lang",
    _MIXTURE_WEIGHTS,
    key_col="doc_id",
    seed=42,
    select_cols=["doc_id", "lang", "source"],
)

from ..functions.graph import components_oracle_sql as _components_oracle_sql  # noqa: E402

# the clustering oracle embeds the SAME generated pair SQL the
# dedup_ngram oracle uses — mining and clustering checked end-to-end
HARNESS_ORACLES["dedup_clusters"] = _components_oracle_sql(
    _ngram_pairs_oracle_sql(), id_alias="doc_id"
)

from ..functions.curation import scrub_oracle_expr as _scrub_oracle_expr  # noqa: E402

_SCRUB_RAW_SQL = (
    "('contact user' || CAST(user_id AS VARCHAR) || '@mail.example.com or "
    "http://ex.com/' || event_type || ' ip 10.1.' || "
    "CAST(user_id % 200 AS VARCHAR) || '.9 code ' || CAST(event_id AS VARCHAR))"
)
HARNESS_ORACLES["text_scrub"] = (
    f"SELECT event_id, {_scrub_oracle_expr(_SCRUB_RAW_SQL)} AS scrubbed FROM events"
)

from ..functions.curation import (  # noqa: E402
    chunk_oracle_sql as _chunk_oracle_sql,
    global_shuffle_oracle_sql as _global_shuffle_oracle_sql,
    quantile_filter_oracle_sql as _quantile_filter_oracle_sql,
    stratified_sample_oracle_sql as _stratified_sample_oracle_sql,
)
from ..functions.incremental import (  # noqa: E402
    merge_oracle_sql as _merge_oracle_sql,
    scd2_oracle_sql as _scd2_oracle_sql,
)

# The feed SQL mirrors q_merge_changes' synthetic change set exactly:
# two competing updates per 0-mod-7 key (seq and seq+1 — highest wins),
# deletes on the 1-mod-7 keys.
_MERGE_FEED_SQL = (
    "SELECT o_orderkey, o_custkey, o_totalprice*1.1 AS o_totalprice, o_orderpriority, "
    "CASE WHEN o_orderkey%7=1 THEN 'D' ELSE 'U' END AS op, o_orderkey%3 AS seq "
    "FROM orders WHERE o_orderkey%7<2 "
    "UNION ALL "
    "SELECT o_orderkey, o_custkey, o_totalprice*1.1*1.05, o_orderpriority, "
    "CASE WHEN o_orderkey%7=1 THEN 'D' ELSE 'U' END, o_orderkey%3+1 "
    "FROM orders WHERE o_orderkey%7<2"
)
HARNESS_ORACLES["merge_changes"] = _merge_oracle_sql(
    "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders",
    _MERGE_FEED_SQL,
    ["o_orderkey"],
    ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"],
    op_col="op",
    seq_col="seq",
)

HARNESS_ORACLES["scd2_history"] = (
    "SELECT user_id, event_type, "
    "CAST(epoch(valid_from) AS DOUBLE) AS valid_from_epoch, "
    "CAST(epoch(valid_to) AS DOUBLE) AS valid_to_epoch, is_current FROM ("
    + _scd2_oracle_sql(
        "SELECT user_id, ts, event_id, event_type FROM events",
        ["user_id"],
        "ts",
        ["event_type"],
        order_col="event_id",
    )
    + ")"
)

# dataset_manifest: the same single-pass aggregates restated as a
# UNION ALL over one agg CTE (DuckDB has no stack); the token rule is
# the proven with_token_counts mirror (trim = spaces only).
HARNESS_ORACLES["dataset_manifest"] = """
WITH a AS (SELECT
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
  CAST(SUM(CASE WHEN text IS NOT NULL AND trim(text) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_text,
  CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) AS total_chars,
  CAST(COALESCE(SUM(CASE WHEN trim(text) = '' THEN 0
       ELSE len(string_split_regex(trim(text), '\\s+')) END), 0) AS BIGINT) AS total_ws_tokens,
  CAST(COALESCE(MAX(length(text)), 0) AS BIGINT) AS max_chars,
  CAST(COALESCE(MIN(length(text)), 0) AS BIGINT) AS min_chars,
  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM documents)
SELECT 'n_docs' AS metric, n_docs AS value FROM a
UNION ALL SELECT 'n_null_text', n_null_text FROM a
UNION ALL SELECT 'n_empty_text', n_empty_text FROM a
UNION ALL SELECT 'total_chars', total_chars FROM a
UNION ALL SELECT 'total_ws_tokens', total_ws_tokens FROM a
UNION ALL SELECT 'max_chars', max_chars FROM a
UNION ALL SELECT 'min_chars', min_chars FROM a
UNION ALL SELECT 'n_sources', n_sources FROM a
"""

# scd2_snapshot: the scd2 oracle composed with the same point-in-time
# filter (half-open: from <= t < to, NULL to = open)
HARNESS_ORACLES["scd2_snapshot"] = (
    "SELECT user_id, event_type, "
    "CAST(epoch(valid_from) AS DOUBLE) AS valid_from_epoch FROM ("
    + _scd2_oracle_sql(
        "SELECT user_id, ts, event_id, event_type FROM events",
        ["user_id"],
        "ts",
        ["event_type"],
        order_col="event_id",
    )
    + ") WHERE valid_from <= TIMESTAMP '2024-01-02 00:00:00' "
    "AND (valid_to IS NULL OR TIMESTAMP '2024-01-02 00:00:00' < valid_to)"
)

HARNESS_ORACLES["stratified_sample"] = _stratified_sample_oracle_sql(
    "SELECT doc_id, lang, source FROM documents",
    ["lang"],
    "doc_id",
    30,
    out_cols=["doc_id", "lang", 'rnk AS "rank"'],
)

from ..functions.curation import (  # noqa: E402
    weighted_sample_oracle_sql as _weighted_sample_oracle_sql,
)

HARNESS_ORACLES["weighted_sample"] = _weighted_sample_oracle_sql(
    "SELECT doc_id, lang, n_chars FROM documents",
    ["lang"],
    "doc_id",
    "n_chars",
    25,
    out_cols=["doc_id", "lang", "n_chars", 'rnk AS "rank"'],
)

HARNESS_ORACLES["chunk_docs"] = _chunk_oracle_sql(
    "documents", "doc_id", "text", chunk_size=64, overlap=16
)

HARNESS_ORACLES["global_shuffle"] = _global_shuffle_oracle_sql(
    "documents", "doc_id", seed=7, select_cols=["doc_id"]
)

# the shard write-and-read-back must return EXACTLY the shuffle order
# table — same oracle as global_shuffle (the parquet layout round trip
# is the thing under test)
HARNESS_ORACLES["training_shards"] = _global_shuffle_oracle_sql(
    "documents", "doc_id", seed=7, select_cols=["doc_id"]
)

HARNESS_ORACLES["quantile_filter"] = (
    "WITH kept AS ("
    + _quantile_filter_oracle_sql(
        "documents", ["source"], "n_chars", q=0.75,
        threshold_column="threshold",
        select_cols=["doc_id", "source", "n_chars"],
    )
    + ") SELECT source, MIN(threshold) AS threshold, COUNT(*) AS n_kept, "
    "CAST(SUM(n_chars) AS BIGINT) AS kept_chars FROM kept GROUP BY source"
)

# Same left-to-right double fold as the Spark plan: list_reduce over
# (0.0 :: squared elements) reproduces aggregate(v, 0.0, acc + x*x)
# term for term, so each per-row norm2 is bit-identical; the cross-row
# SUM goes through DECIMAL on both sides (partition-order independent).
HARNESS_ORACLES["embedding_gram"] = _embedding_gram_oracle()

HARNESS_ORACLES["embedding_stats"] = """
WITH per AS (
  SELECT label,
         list_reduce(list_prepend(0.0, list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)),
                     (a, b) -> a + b) AS norm2,
         CAST(len(embedding) AS BIGINT) AS dim
  FROM embeddings)
SELECT label, COUNT(*) AS n_vecs, MIN(dim) AS dim,
       CAST(CAST(SUM(CAST(norm2 AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sum_norm2,
       MIN(norm2) AS min_norm2, MAX(norm2) AS max_norm2
FROM per GROUP BY label
"""

HARNESS_ORACLES["partitioned_layout"] = (
    "SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars "
    "FROM documents WHERE lang = 'en' GROUP BY source"
)

from ..functions.curation import (  # noqa: E402
    near_contamination_oracle_sql as _near_contamination_oracle_sql,
)

HARNESS_ORACLES["near_contamination"] = _near_contamination_oracle_sql(
    "(SELECT doc_id, text FROM documents WHERE text IS NOT NULL)",
    "{id} % 20 = 0",
    threshold=0.3,
    bands=16,
    rows_per_band=4,
    seed=42,
    max_bucket=1000,
)

from ..functions.graph import keep_best_oracle_sql as _keep_best_oracle_sql  # noqa: E402

HARNESS_ORACLES["dedup_keep_best"] = _keep_best_oracle_sql(
    _ngram_pairs_oracle_sql(),
    "documents",
    "doc_id",
    "n_chars",
    ["doc_id", "source", "n_chars"],
)

# semantic_dedup chains the embedding-pair oracle (vec_id ≡ doc_id in
# the test tables) through the same closure CTE + rank policy — all
# three composed stages share their per-stage generated SQL, so none
# can drift from its standalone query
HARNESS_ORACLES["semantic_dedup"] = _keep_best_oracle_sql(
    "SELECT id_a, id_b FROM (" + _EMB_PAIRS_TIERED_SQL + ") ep",
    "documents",
    "doc_id",
    "n_chars",
    ["doc_id", "source", "n_chars"],
)

# fuzzy_dedup chains the fuzzy-pair oracle through the same closure CTE
# + rank policy — the edit-distance sibling of semantic_dedup; stage
# composition over generated SQL so no stage can drift
HARNESS_ORACLES["fuzzy_dedup"] = _keep_best_oracle_sql(
    "SELECT id_a, id_b FROM (" + _fuzzy_pairs_oracle_sql(max_dist=8) + ") fp",
    "documents",
    "doc_id",
    "n_chars",
    ["doc_id", "source", "n_chars"],
)

from ..functions.incremental import (  # noqa: E402
    incremental_neardup_oracle_sql as _incremental_neardup_oracle_sql,
)

HARNESS_ORACLES["incremental_neardup"] = _incremental_neardup_oracle_sql(
    "(SELECT doc_id, text, source FROM documents WHERE text IS NOT NULL)",
    "{id} % 10 = 3",
    select_cols=["doc_id", "source"],
    threshold=0.3,
)

from ..functions.text import bpe_train_oracle_sql as _bpe_train_oracle_sql  # noqa: E402

HARNESS_ORACLES["bpe_train"] = _bpe_train_oracle_sql("documents", "text", n_merges=6)

from ..functions.text import bpe_encode_oracle_sql as _bpe_encode_oracle_sql  # noqa: E402

HARNESS_ORACLES["bpe_encode"] = _bpe_encode_oracle_sql(
    _BPE_ENCODE_MERGES, "documents", "doc_id", "text"
)

from ..functions.similarity import (  # noqa: E402
    embedding_centroids_oracle_sql as _embedding_centroids_oracle_sql,
)

HARNESS_ORACLES["embedding_centroids"] = _embedding_centroids_oracle_sql(
    "embeddings", "label", "embedding"
)

HARNESS_ORACLES["events_sliding"] = """
WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ep, event_type, value
           FROM events),
w AS (SELECT ep - (ep % 900) - 900 * j AS ws, event_type, value
      FROM e, (SELECT unnest(range(0, 4)) AS j))
SELECT CAST(ws AS DOUBLE) AS window_start_epoch,
       CAST(ws + 3600 AS DOUBLE) AS window_end_epoch,
       event_type, COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM w GROUP BY ws, event_type
"""

HARNESS_ORACLES["asof_tolerance"] = """
WITH v AS (SELECT user_id, ts, event_id AS view_id FROM events
           WHERE event_type = 'view'
           QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id) = 1),
b AS (SELECT p.event_id, p.user_id, epoch(p.ts) AS et, epoch(v.ts) AS vt, v.view_id
      FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts)
SELECT event_id, user_id,
       CASE WHEN et - vt <= 1800.0 THEN vt END AS ts_asof,
       CASE WHEN et - vt <= 1800.0 THEN view_id END AS view_id_asof
FROM b
"""

# ann_lsh_topk / ann_ivf_topk flip from rows-only to EXACT driver rows:
# both oracles are generated from the same plane / centroid-fit
# parameters as the Spark plans (q_ann_lsh_topk uses Rademacher planes,
# q_ann_ivf_topk the deterministic hash-sampled integer Lloyd fit), so
# the bucket/list geometry, candidate sets, cosines, and ranks are
# bit-identical across engines.  approx_distinct is now the ONLY
# rows-only entry (an HLL sketch — genuinely un-oracle-able; its exact
# companion exact_distinct is hash-checked).
from ..functions.similarity import lsh_topk_oracle_sql as _lsh_topk_oracle_sql  # noqa: E402

HARNESS_ORACLES["ann_lsh_topk"] = _lsh_topk_oracle_sql(
    "embeddings", "vec_id", "embedding", k=10, n_planes=4, n_tables=8,
    seed=42, dim=64, query_pred="vid < 20",
)

from ..functions.similarity import ivf_topk_oracle_sql as _ivf_topk_oracle_sql  # noqa: E402

HARNESS_ORACLES["ann_ivf_topk"] = _ivf_topk_oracle_sql(
    "embeddings", "vec_id", "embedding", k=10, n_centroids=16, nprobe=4,
    sample_size=2048, iters=2, scale_bits=20, dim=64, query_pred="b.vid < 20",
)
# ann_store serves the SAME computation from the persisted index —
# sharing the oracle is the losslessness proof (the kmv_store pattern)
HARNESS_ORACLES["ann_store"] = HARNESS_ORACLES["ann_ivf_topk"]
# ann_store_append composes build(evens, fixed centroids) + append(odds)
# and serves — same full-corpus computation, same oracle
HARNESS_ORACLES["ann_store_append"] = HARNESS_ORACLES["ann_ivf_topk"]

# knn_label: the vote/tie-break layer composed OVER the same unrolled
# IVF oracle (neighbor equality already proven by the ann rows)
from ..functions.similarity import (  # noqa: E402
    knn_label_oracle_sql as _knn_label_oracle_sql,
)

HARNESS_ORACLES["knn_label"] = _knn_label_oracle_sql(
    HARNESS_ORACLES["ann_ivf_topk"]
)

# IVF-PQ family: fully unrolled independent oracles (functions/pq.py)
from ..functions.pq import (  # noqa: E402
    ann_pq_oracle_sql as _ann_pq_oracle_sql,
    pq_codebooks_oracle_sql as _pq_codebooks_oracle_sql,
)

HARNESS_ORACLES["pq_codebooks"] = _pq_codebooks_oracle_sql(
    m=8, k_codes=16, iters=2, sample_size=2048
)

from ..functions.timeseries import (  # noqa: E402
    ohlc_bars_oracle_sql as _ohlc_bars_oracle_sql,
)

HARNESS_ORACLES["ohlc_bars"] = _ohlc_bars_oracle_sql(
    "events", "event_type", "ts", "value", bucket_seconds=3600
)
HARNESS_ORACLES["ann_pq"] = _ann_pq_oracle_sql(
    k=10, n_centroids=16, nprobe=4, refine_factor=4,
    sample_size=2048, iters=2, m=8, k_codes=16,
)

# web-curation family: oracles generated from functions/web.py's
# mirrors, with the SAME _SYNTH_URL_SQL string spliced as the input
from ..functions.web import (  # noqa: E402
    domain_extract_oracle_sql as _domain_extract_oracle_sql,
    domain_quota_oracle_sql as _domain_quota_oracle_sql,
    url_normalize_oracle_sql as _url_normalize_oracle_sql,
)

_dom_expr, _apex_expr = _domain_extract_oracle_sql("url")
HARNESS_ORACLES["url_normalize"] = (
    f"SELECT doc_id, {_url_normalize_oracle_sql('url')} AS url_norm, "
    f"{_dom_expr} AS domain, {_apex_expr} AS apex_domain "
    f"FROM (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents)"
)
HARNESS_ORACLES["domain_quota"] = _domain_quota_oracle_sql(
    f"SELECT doc_id, n_chars, {_dom_expr} AS domain "
    f"FROM (SELECT doc_id, n_chars, {_SYNTH_URL_SQL} AS url FROM documents)",
    "domain", "n_chars", 5, "doc_id", ["doc_id", "domain", "n_chars"],
)

# image_neardup: the full five-stage multimodal dedup chained from
# per-stage generated SQL (features → centering → LSH pairs →
# closure → keep-best) — no stage can drift from its standalone oracle
from ..functions.multimodal import (  # noqa: E402
    image_features_bmp_oracle_sql as _image_features_bmp_oracle_sql,
)
from ..functions.similarity import (  # noqa: E402
    centered_oracle_sql as _centered_oracle_sql,
)

_IMG_FEATS_SQL = _image_features_bmp_oracle_sql("doc_id % 5 = 0", dim=16)

# image_decode: the standalone real-decode row over the FULL documents
# table — per-bin pixel counts re-integerized from the float32 feature
# (round(f_b·n_pixels) recovers the exact count: counts < 2^24 so the
# float32 quantization error stays far below 0.5)
_IMG_DECODE_HIST = " || ',' || ".join(
    "CAST(CAST(ROUND(CAST(feature[{j}] AS DOUBLE) * n_pixels) AS BIGINT) AS VARCHAR)".format(
        j=j + 1
    )
    for j in range(16)
)
# multimodal_features: the PNG corpus's metadata, closed-form size and
# bin-mass sum, from the same generated per-row features
HARNESS_ORACLES["multimodal_features"] = (
    "SELECT media_id, mime, n_bytes, "
    "ROUND(list_sum(list_transform(feature, x -> CAST(x AS DOUBLE))), 4) AS f_sum "
    f"FROM {_image_features_bmp_oracle_sql('TRUE', dim=16, codec='png')} sq"
)
HARNESS_ORACLES["image_decode"] = (
    f"SELECT media_id, mime, n_bytes, n_pixels, {_IMG_DECODE_HIST} AS hist "
    f"FROM {_image_features_bmp_oracle_sql('TRUE', dim=16, codec='alternate')} sq"
)
# jpeg_decode: flat-block baseline JFIF → the GENERAL baseline decoder
# (huffman + iDCT) → per-bin pixel counts.  Decoded pixels are exactly
# text bytes × 64 (each byte one flat 8×8 block, pad blocks → bin 0),
# so the hist re-integerization recovers exact counts; n_bytes is not
# emitted (huffman scan length has no SQL closed form).
from ..functions.multimodal import (  # noqa: E402
    image_features_jpeg_oracle_sql as _image_features_jpeg_oracle_sql,
)

HARNESS_ORACLES["jpeg_decode"] = (
    f"SELECT media_id, mime, n_pixels, {_IMG_DECODE_HIST} AS hist "
    f"FROM {_image_features_jpeg_oracle_sql('TRUE', dim=16)} sq"
)
# jpeg_progressive: the SOF2 successive-approximation stream decodes to
# bit-identical pixels (flat-block DC-only content), so the SAME
# byte-derivable oracle applies verbatim.
HARNESS_ORACLES["jpeg_progressive"] = HARNESS_ORACLES["jpeg_decode"]
# video_frames: Y4M synth → real frame sampling → per-frame PNG decode.
# Frame i's raster IS text bytes [i·64, (i+1)·64) (+ pad zeros on the
# last frame), the sampled set is the same ⌊j·t/k⌋ integer math, and
# every sampled frame is a full 64-pixel raster — n_bytes is the PNG
# stored-block closed form for a 4×16 gray image (63 + 5 + 4·17 = 136).
_VF_BINS = ", ".join(
    f"SUM(CASE WHEN bin = {b} THEN 1 ELSE 0 END) AS c{b}" for b in range(16)
)
_VF_HIST = " || ',' || ".join(
    "CAST((COALESCE(c.c{b}, 0){pad}) AS VARCHAR)".format(
        b=b,
        pad=(
            " + (CASE WHEN sf.fidx = sf.t - 1 THEN sf.t * 64 - sf.len ELSE 0 END)"
            if b == 0
            else ""
        ),
    )
    for b in range(16)
)
HARNESS_ORACLES["video_frames"] = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id,
         COALESCE(length(text),0) AS len, text,
         CAST(CEIL(COALESCE(length(text),0) / 64.0) AS BIGINT) AS t
  FROM documents),
v AS (SELECT media_id, len, text, t, LEAST(4, t) AS k FROM d WHERE len > 0),
s AS (SELECT media_id, len, t, k, unnest(generate_series(0, k-1)) AS j FROM v),
sf AS (SELECT media_id, len, t, CAST((j * t) // k AS BIGINT) AS fidx FROM s),
ch AS (
  SELECT media_id, cs, unnest(generate_series(1, len)) AS pos
  FROM (SELECT media_id, string_split_regex(text,'') AS cs, len FROM v) b),
chars AS (
  SELECT media_id, (pos-1) // 64 AS fidx,
         ascii(list_extract(cs, pos)) // 16 AS bin FROM ch),
cnt AS (SELECT media_id, fidx, {_VF_BINS} FROM chars GROUP BY media_id, fidx)
SELECT sf.media_id, CAST(sf.fidx AS INTEGER) AS frame_index,
       CAST(136 AS BIGINT) AS n_bytes, CAST(64 AS BIGINT) AS n_pixels,
       {_VF_HIST} AS hist
FROM sf LEFT JOIN cnt c ON sf.media_id = c.media_id AND sf.fidx = c.fidx
"""

# audio_features: WAV synth → real RIFF/PCM decode.  Sample i IS text
# byte i (no padding anywhere), so every column is text-derivable:
# n_bytes = 44 + len (canonical header), n_samples = len,
# duration_ms = len·1000 // 8000 = len // 8 — with len = utf-8 OCTET
# length (what the Spark side encodes), not the char count.  The bins
# remain per-CHAR ascii() counts: valid for ASCII corpora (the driver
# test tables are — the same documented contract as every image
# oracle), where bytes == chars.
_AF_BINS = ", ".join(
    f"SUM(CASE WHEN ascii(ch) // 16 = {b} THEN 1 ELSE 0 END) AS c{b}"
    for b in range(16)
)
_AF_HIST = " || ',' || ".join(
    f"CAST(COALESCE(c.c{b}, 0) AS VARCHAR)" for b in range(16)
)
HARNESS_ORACLES["audio_features"] = f"""
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
                  COALESCE(octet_length(encode(text)), 0) AS len, text
           FROM documents),
chars AS (SELECT media_id, unnest(string_split_regex(text,'')) AS ch
          FROM d WHERE len > 0),
cnt AS (SELECT media_id, {_AF_BINS} FROM chars GROUP BY media_id)
SELECT d.media_id, 'audio/wav' AS mime,
       CAST(CASE WHEN d.len > 0 THEN 44 + d.len ELSE 0 END AS BIGINT) AS n_bytes,
       CAST(d.len AS BIGINT) AS n_samples,
       CAST(d.len // 8 AS BIGINT) AS duration_ms,
       {_AF_HIST} AS hist
FROM d LEFT JOIN cnt c USING (media_id)
"""

# interval_join: the oracle is the PLAIN inequality join over the same
# integer-microsecond axis (epoch_us == Spark unix_micros) — feasible
# at test SF, which is what certifies the bucket-blocked plan.
HARNESS_ORACLES["interval_join"] = """
WITH v AS (SELECT user_id, event_id AS view_id, epoch_us(ts) AS s,
                  epoch_us(ts) + 600000000 AS e
           FROM events
           WHERE event_type = 'view' AND user_id IS NOT NULL AND ts IS NOT NULL),
p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS s,
             epoch_us(ts) + 600000000 AS e
      FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL AND ts IS NOT NULL)
SELECT v.user_id, v.view_id, p.purchase_id,
       CAST(LEAST(v.e, p.e) - GREATEST(v.s, p.s) AS BIGINT) AS overlap_us
FROM v JOIN p ON v.user_id = p.user_id AND v.s <= p.e AND p.s <= v.e
"""

# snapshot_diff: plain FULL OUTER JOIN restatement of the same two
# deterministic snapshots; o_totalprice+1.0 is exact in both engines
# (DOUBLE + 1 at these magnitudes), so 'changed' sets agree bit-wise.
HARNESS_ORACLES["snapshot_diff"] = """
WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
           WHERE o_orderkey % 11 <> 3),
n AS (SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 9 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 13 <> 5),
d AS (SELECT CASE
        WHEN o.o_orderkey IS NULL THEN 'added'
        WHEN n.o_orderkey IS NULL THEN 'removed'
        WHEN (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus)
         AND (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
        THEN 'unchanged' ELSE 'changed' END AS diff_status
      FROM o FULL OUTER JOIN n USING (o_orderkey))
SELECT diff_status, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY diff_status
"""

# join_cardinality: count-table x count-table restated in plain SQL;
# the share is one IEEE division of exact BIGINTs.
HARNESS_ORACLES["join_cardinality"] = """
WITH l AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_left FROM events
           WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY user_id),
r AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_right FROM events
      WHERE event_type = 'click' AND user_id IS NOT NULL GROUP BY user_id),
p AS (SELECT l.user_id, n_left, n_right,
             CAST(n_left * n_right AS BIGINT) AS out_rows
      FROM l JOIN r ON l.user_id = r.user_id),
t AS (SELECT CAST(SUM(out_rows) AS BIGINT) AS total FROM p)
SELECT p.user_id, p.n_left, p.n_right, p.out_rows,
       CAST(p.out_rows AS DOUBLE) / CAST(t.total AS DOUBLE) AS share
FROM p, t
ORDER BY p.out_rows DESC, p.user_id ASC
LIMIT 10
"""

from ..functions.similarity import sq8_topk_oracle_sql as _sq8_topk_oracle_sql  # noqa: E402

HARNESS_ORACLES["ann_sq8"] = _sq8_topk_oracle_sql(k=10, refine_factor=4, dim=64)

_IMG_CENTERED_SQL = _centered_oracle_sql(_IMG_FEATS_SQL, dim=16)

# n_planes self-sizes via dedup.auto_n_planes' tier ladder, so the
# oracle carries one pair-mining block PER RUNG, each with that rung's
# plane literals and the corpus-count gate pushed into the innermost
# documents predicate — the dead rungs' feature derivation and pair
# mining therefore run over ZERO rows, and exactly one rung (the one
# the Spark query picked from the identical count) emits pairs.
_IMG_SIZING = "(SELECT count(*) FROM documents WHERE doc_id % 5 = 0)"
_IMG_TIER_GATES = [
    (8, f"{_IMG_SIZING} <= {16 << 8}"),
    (11, f"{_IMG_SIZING} > {16 << 8} AND {_IMG_SIZING} <= {16 << 11}"),
    (14, f"{_IMG_SIZING} > {16 << 11}"),
]
_IMG_PAIRS_SQL = " UNION ALL ".join(
    "SELECT id_a, id_b FROM ("
    + _embedding_pairs_oracle_sql(
        table=_centered_oracle_sql(
            _image_features_bmp_oracle_sql(
                f"doc_id % 5 = 0 AND ({gate})", dim=16
            ),
            dim=16,
        ),
        id_col="media_id",
        vec_col="centered",
        threshold=0.995,
        n_planes=p,
        n_tables=2,
        seed=42,
        max_bucket=2000,
        dim=16,
    )
    + f") ep{p}"
    for p, gate in _IMG_TIER_GATES
)
HARNESS_ORACLES["image_neardup"] = _keep_best_oracle_sql(
    _IMG_PAIRS_SQL,
    _IMG_FEATS_SQL,
    "media_id",
    "n_bytes",
    ["media_id", "mime", "n_bytes"],
)

# per-language line dedup with the min_df floor, over the SAME
# synthetic multi-line construction (_SYNTH_LINES_SQL in both engines)
HARNESS_ORACLES["line_dedup_lang"] = _line_dedup_oracle_sql(
    f"(SELECT doc_id, lang, {_SYNTH_LINES_SQL} AS text FROM documents)",
    max_docs=1, group_col="lang", min_df=8,
)

# classifier_score: generated from the same stub weight list as the
# Spark literal (functions/classifier.py)
from ..functions.classifier import (  # noqa: E402
    classifier_score_oracle_sql as _classifier_score_oracle_sql,
)

HARNESS_ORACLES["classifier_score"] = _classifier_score_oracle_sql()

# classifier_file: oracle built from the ORIGINAL Python weight list —
# the Spark side reads the list back through the parquet artifact, so a
# hash match proves the save/load round trip lossless
HARNESS_ORACLES["classifier_file"] = _classifier_score_oracle_sql(
    weights=_clf_file_weights(),
    bias=_CLF_FILE_BIAS,
    threshold=_CLF_FILE_THRESHOLD,
)

# classifier_train: the oracle re-runs all training rounds as unrolled
# CTEs (w_i = w_{i-1} + g_i/2^(lr_bits+i-1)) from the same constants,
# then scores with the CTE-derived weight list — a hash match proves
# the distributed trainer, the artifact round trip, AND the scorer
# agree bit-for-bit with a from-scratch SQL re-derivation
from ..functions.classifier import (  # noqa: E402
    classifier_train_oracle_sql as _classifier_train_oracle_sql,
)
from ..functions.text import _toks_sql as _clf_toks_sql  # noqa: E402


def _clf_train_label_sql() -> str:
    t = _clf_toks_sql("text")
    c = {w: f"len(list_filter({t}, x -> x = '{w}'))" for w in _CLF_TRAIN_WORDS}
    return (
        f"CASE WHEN {c['spark']} + {c['join']} >= {c['table']} + {c['row']} "
        "THEN 1 ELSE -1 END"
    )


HARNESS_ORACLES["classifier_train"] = _classifier_train_oracle_sql(
    label_sql=_clf_train_label_sql(),
    dim=_CLF_TRAIN_DIM,
    iters=_CLF_TRAIN_ITERS,
    lr_bits=_CLF_TRAIN_LR_BITS,
)

# classifier_warm: one 8-round CTE derivation with the even-doc_id
# predicate on rounds 1-4 — hash-matching it proves the Spark side's
# stop/persist/resume (JSON artifact + start_round=4) changed nothing
# distill_gate: the Gopher stage's generated SQL becomes the labeled
# TABLE of the training derivation (composed oracles — chained
# generated per-stage SQL so stages cannot drift)
from ..functions.text import (  # noqa: E402
    gopher_rules_oracle_sql as _gopher_rules_oracle_sql,
)


def _distill_gate_oracle() -> str:
    gopher = _gopher_rules_oracle_sql(**_DISTILL_GOPHER_KW)
    table = (
        "(SELECT d.doc_id, d.text, g.gopher_pass "
        f"FROM documents d JOIN ({gopher}) g ON d.doc_id = g.doc_id)"
    )
    return _classifier_train_oracle_sql(
        table=table,
        label_sql="CASE WHEN gopher_pass THEN 1 ELSE -1 END",
        dim=_CLF_TRAIN_DIM,
        iters=_CLF_TRAIN_ITERS,
        lr_bits=_CLF_TRAIN_LR_BITS,
    )


HARNESS_ORACLES["distill_gate"] = _distill_gate_oracle()


# classifier_eval: the generated scoring SQL joined to the generated
# Gopher labeling SQL becomes the scored table of the generated
# threshold-sweep SQL — three chained per-stage generators, none
# hand-copied
def _classifier_eval_oracle() -> str:
    from ..functions.classifier import (
        classifier_eval_oracle_sql,
        classifier_score_oracle_sql,
    )

    score = classifier_score_oracle_sql()
    gopher = _gopher_rules_oracle_sql(**_DISTILL_GOPHER_KW)
    scored = (
        "SELECT s.score AS score, g.gopher_pass AS label "
        f"FROM ({score}) s JOIN ({gopher}) g ON s.doc_id = g.doc_id"
    )
    return classifier_eval_oracle_sql(
        scored_sql=scored, label_sql="label", thresholds=_EVAL_THRESHOLDS,
        score_sql="score",
    )


HARNESS_ORACLES["classifier_eval"] = _classifier_eval_oracle()

HARNESS_ORACLES["classifier_warm"] = _classifier_train_oracle_sql(
    label_sql=_clf_train_label_sql(),
    dim=_CLF_TRAIN_DIM,
    iters=8,
    lr_bits=_CLF_TRAIN_LR_BITS,
    round_filters=["d.did % 2 = 0"] * 4 + [None] * 4,
)

# domain_rank: unrolled integer-PageRank CTEs over the SAME synthetic
# domain graph (URL domain extraction + consecutive-doc co-citation)
from ..functions.graph import pagerank_oracle_sql as _pagerank_oracle_sql  # noqa: E402

_DOMAIN_NODES_SQL = (
    f"(SELECT DISTINCT {_dom_expr} AS node "
    f"FROM (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents))"
)
_DOMAIN_EDGES_SQL = (
    f"(SELECT DISTINCT a.domain AS src, b.domain AS dst "
    f"FROM (SELECT doc_id, {_dom_expr} AS domain "
    f"FROM (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents)) a "
    f"JOIN (SELECT doc_id, {_dom_expr} AS domain "
    f"FROM (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents)) b "
    f"ON b.doc_id = a.doc_id + 1 WHERE a.domain <> b.domain)"
)
HARNESS_ORACLES["domain_rank"] = _pagerank_oracle_sql(
    _DOMAIN_NODES_SQL, _DOMAIN_EDGES_SQL, iters=3
)

# triangle_count: the same synthetic domain graph widened to
# distance <= 2 links so triangles exist; id-ordered oracle counts the
# orientation-independent triangle set the degree-oriented plan emits
from ..functions.graph import (  # noqa: E402
    triangle_count_oracle_sql as _triangle_count_oracle_sql,
)

_DOMAIN_EDGES2_SQL = (
    f"(SELECT DISTINCT a.domain AS src, b.domain AS dst "
    f"FROM (SELECT doc_id, {_dom_expr} AS domain "
    f"FROM (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents)) a "
    f"JOIN (SELECT doc_id, {_dom_expr} AS domain "
    f"FROM (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents)) b "
    f"ON b.doc_id IN (a.doc_id + 1, a.doc_id + 2) "
    f"WHERE a.domain <> b.domain)"
)
HARNESS_ORACLES["triangle_count"] = _triangle_count_oracle_sql(_DOMAIN_EDGES2_SQL)

# label_propagation: same distance<=2 domain graph; unrolled
# MATERIALIZED mode-adoption CTE rounds
from ..functions.graph import (  # noqa: E402
    label_propagation_oracle_sql as _label_propagation_oracle_sql,
)

HARNESS_ORACLES["label_propagation"] = _label_propagation_oracle_sql(
    _DOMAIN_NODES_SQL, _DOMAIN_EDGES2_SQL, iters=4
)

from ..functions.graph import kcore_oracle_sql as _kcore_oracle_sql  # noqa: E402

HARNESS_ORACLES["kcore"] = _kcore_oracle_sql(
    _DOMAIN_NODES_SQL, _DOMAIN_EDGES2_SQL, k=2, rounds=4
)

from ..functions.text import (  # noqa: E402
    skipgram_pairs_oracle_sql as _skipgram_oracle_sql,
    unigram_sampling_oracle_sql as _unigram_sampling_oracle_sql,
)

HARNESS_ORACLES["skipgram_pairs"] = _skipgram_oracle_sql(
    "documents", "text", window=2, min_count=2
)
HARNESS_ORACLES["negative_sampling"] = _unigram_sampling_oracle_sql(
    "documents", "text", alpha_num=3, alpha_log2_den=2, k=200
)

from ..functions.profile import (  # noqa: E402
    range_layout_audit_oracle_sql as _layout_audit_oracle_sql,
)

HARNESS_ORACLES["layout_audit"] = _layout_audit_oracle_sql(
    "events", "ts", n_ranges=8,
    probe_lo="2024-01-10 00:00:00", probe_hi="2024-01-11 00:00:00",
)

from ..functions.profile import (  # noqa: E402
    dataset_drift_oracle_sql as _dataset_drift_oracle_sql,
)

HARNESS_ORACLES["dataset_drift"] = _dataset_drift_oracle_sql(
    "documents", "source", "n_chars", "src0", "src1",
    bin_width=256.0, n_bins=20,
)

from ..functions.text import (  # noqa: E402
    collocations_oracle_sql as _collocations_oracle_sql,
)

HARNESS_ORACLES["collocations"] = _collocations_oracle_sql(
    "documents", "text", k=50, min_count=5
)

# mining family: every oracle generated from the same module as the
# Spark expression so the two cannot drift
from ..functions.mining import (  # noqa: E402
    association_rules_oracle_sql as _assoc_oracle_sql,
    markov_transitions_oracle_sql as _markov_oracle_sql,
    skyline2d_oracle_sql as _skyline_oracle_sql,
)
from ..functions.timeseries import (  # noqa: E402
    changepoint_cusum_oracle_sql as _changepoint_oracle_sql,
)

HARNESS_ORACLES["association_rules"] = _assoc_oracle_sql(
    "events", "user_id", "event_type", min_count=2, k=100
)
HARNESS_ORACLES["markov_transitions"] = _markov_oracle_sql(
    "events", "user_id", "ts", "event_id", "event_type"
)
HARNESS_ORACLES["changepoint"] = _changepoint_oracle_sql(
    "events", "event_type", "ts"
)

from ..functions.timeseries import (  # noqa: E402
    ewma_smooth_oracle_sql as _ewma_oracle_sql,
    rolling_median_oracle_sql as _rolling_median_oracle_sql,
)

HARNESS_ORACLES["ewma"] = _ewma_oracle_sql(
    "events", "event_type", "ts", "event_id", "value",
    alpha_num=1, alpha_den=4, lookback=64,
)
HARNESS_ORACLES["rolling_median"] = _rolling_median_oracle_sql(
    "events", "event_type", "ts", "event_id", "value", window_rows=5,
)

from ..functions.curation import (  # noqa: E402
    temperature_mixture_oracle_sql as _temperature_mixture_oracle_sql,
)

HARNESS_ORACLES["temperature_mixture"] = _temperature_mixture_oracle_sql(
    "documents", "source", "text", alpha_log2=1, token_budget=1_000_000,
)
HARNESS_ORACLES["skyline"] = _skyline_oracle_sql(
    "SELECT doc_id AS id, n_chars AS x, "
    f"CAST(len(list_distinct({__toks_sql('text')})) AS BIGINT) AS y "
    "FROM documents"
)

# html_extract: the full strip/decode/collapse chain generated from the
# same pattern tables as the Spark expression, over the same synthetic
# HTML construction
from ..functions.curation import (  # noqa: E402
    html_to_text_oracle_expr as _html_to_text_oracle_expr,
)

HARNESS_ORACLES["html_extract"] = (
    f"SELECT doc_id, {_html_to_text_oracle_expr('html')} AS text_clean, "
    f"CAST(length({_html_to_text_oracle_expr('html')}) AS BIGINT) AS n_chars_clean "
    f"FROM (SELECT doc_id, {_SYNTH_HTML_SQL} AS html FROM documents)"
)

# web_pipeline: the capstone chain — every stage spliced from its own
# generated SQL (HTML pattern tables, domain expression, quota window,
# classifier weight list, fingerprint keep-min)
from ..functions.classifier import (  # noqa: E402
    classifier_score_oracle_sql as _classifier_score_oracle_sql,
)

_WP_EXT = (
    f"SELECT doc_id, {_html_to_text_oracle_expr('html')} AS text_clean, "
    f"{_dom_expr} AS domain "
    f"FROM (SELECT doc_id, {_SYNTH_HTML_SQL} AS html, {_SYNTH_URL_SQL} AS url "
    f"FROM documents)"
)
_WP_QUOTA = _domain_quota_oracle_sql(
    f"SELECT doc_id, text_clean, domain, "
    f"CAST(length(text_clean) AS BIGINT) AS n_chars_clean FROM ({_WP_EXT})",
    "domain", "n_chars_clean", 8, "doc_id",
    ["doc_id", "text_clean", "domain", "n_chars_clean"],
)
HARNESS_ORACLES["web_pipeline"] = (
    f"WITH quota AS ({_WP_QUOTA}), "
    f"clf AS ({_classifier_score_oracle_sql('quota', 'doc_id', 'text_clean', threshold=0.0)}), "
    f"gated AS (SELECT q.doc_id, q.domain, q.n_chars_clean, c.score, q.text_clean "
    f"FROM quota q JOIN clf c USING (doc_id) WHERE c.clf_pass), "
    f"ded AS (SELECT doc_id, domain, n_chars_clean, score, row_number() OVER ("
    f"PARTITION BY md5(trim(lower(text_clean))) ORDER BY doc_id ASC) AS rn FROM gated) "
    f"SELECT doc_id, domain, n_chars_clean, score FROM ded WHERE rn = 1"
)

# token_budget: the same (md5, id) draw order and inclusive SUM window
# the two-phase scan computes — tokens from the shared tokenizer length
from ..functions.curation import (  # noqa: E402
    token_budget_oracle_sql as _token_budget_oracle_sql,
)

HARNESS_ORACLES["token_budget"] = _token_budget_oracle_sql(
    "SELECT doc_id, source, "
    "CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n_tokens "
    "FROM documents",
    "source", "n_tokens", 300, "doc_id",
    ["doc_id", "source", "n_tokens"],
)

from ..functions.similarity import quantize_oracle_sql as _quantize_oracle_sql  # noqa: E402

HARNESS_ORACLES["embedding_quantize"] = _quantize_oracle_sql(
    "embeddings", "vec_id", "embedding", bits=8
)

# gap_fill / bloom_gate: generated from the same constants as the
# Spark side (functions/timeseries.py, functions/bloom.py) so the two
# cannot drift.
from ..functions.bloom import bloom_gate_oracle_sql as _bloom_gate_oracle_sql  # noqa: E402
from ..functions.timeseries import gap_fill_oracle_sql as _gap_fill_oracle_sql  # noqa: E402

HARNESS_ORACLES["gap_fill"] = _gap_fill_oracle_sql(
    table="events", key="event_type", ts_col="ts", value_col="value"
)

from ..functions.timeseries import (  # noqa: E402
    time_weighted_avg_oracle_sql as _twa_oracle_sql,
)

HARNESS_ORACLES["time_weighted_avg"] = _twa_oracle_sql(
    table="events", key="event_type", ts_col="ts", value_col="value",
    id_col="event_id",
)
HARNESS_ORACLES["bucketed_join"] = BUCKETED_JOIN_SQL
HARNESS_ORACLES["row_expectations"] = _row_expectations_oracle()
HARNESS_ORACLES["sql_transform"] = SQL_TRANSFORM_SQL
HARNESS_ORACLES["sql_join"] = SQL_JOIN_SQL
HARNESS_ORACLES["bloom_gate"] = _bloom_gate_oracle_sql(
    corpus_sql="SELECT doc_id, text FROM documents",
    eval_sql="SELECT text FROM documents WHERE doc_id % 97 = 0",
    id_col="doc_id",
    text_col="text",
    m=_BLOOM_M,
    k=_BLOOM_K,
)

# integrity audits: oracles generated from the SAME relationship /
# constant lists as the Spark side (functions/integrity.py) so the two
# cannot drift; Benford's expected fractions are the same Python
# log10 literals on both sides.
from ..functions.integrity import (  # noqa: E402
    benford_audit_oracle_sql as _benford_oracle_sql,
    fk_orphans_oracle_sql as _fk_orphans_oracle_sql,
    k_anonymity_oracle_sql as _k_anonymity_oracle_sql,
)

HARNESS_ORACLES["fk_orphans"] = _fk_orphans_oracle_sql(
    [
        {"name": "lineitem.l_orderkey->orders", "child_table": "lineitem",
         "child_key": "l_orderkey", "parent_table": "orders",
         "parent_key": "o_orderkey"},
        {"name": "lineitem.l_partkey->part", "child_table": "lineitem",
         "child_key": "l_partkey", "parent_table": "part",
         "parent_key": "p_partkey"},
        {"name": "lineitem.l_suppkey->supplier", "child_table": "lineitem",
         "child_key": "l_suppkey", "parent_table": "supplier",
         "parent_key": "s_suppkey"},
        {"name": "orders.o_custkey->customer", "child_table": "orders",
         "child_key": "o_custkey", "parent_table": "customer",
         "parent_key": "c_custkey"},
        {"name": "customer.c_nationkey->nation", "child_table": "customer",
         "child_key": "c_nationkey", "parent_table": "nation",
         "parent_key": "n_nationkey"},
    ]
)
HARNESS_ORACLES["k_anonymity"] = _k_anonymity_oracle_sql(
    "customer", ["c_nationkey", "c_mktsegment"], 10
)
HARNESS_ORACLES["benford_audit"] = _benford_oracle_sql(
    "SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem"
)

from ..functions.timeseries import (  # noqa: E402
    autocorr_lags_oracle_sql as _autocorr_oracle_sql,
    seasonal_baseline_oracle_sql as _seasonal_oracle_sql,
)

HARNESS_ORACLES["seasonal_baseline"] = _seasonal_oracle_sql(
    "events", "event_type", ts_col="ts", value_col="value"
)
HARNESS_ORACLES["autocorr"] = _autocorr_oracle_sql("events", ts_col="ts", max_lag=7)

from ..functions.graph import (  # noqa: E402
    link_prediction_oracle_sql as _link_prediction_oracle_sql,
)
from ..functions.mining import (  # noqa: E402
    item_similarity_oracle_sql as _item_similarity_oracle_sql,
)

HARNESS_ORACLES["link_prediction"] = _link_prediction_oracle_sql(
    "lineitem", "l_orderkey", "l_partkey", k=100
)
HARNESS_ORACLES["item_similarity"] = _item_similarity_oracle_sql(
    "events", "user_id", "event_type"
)

# bfs_reach: the same distance<=2 domain graph, unrolled BFS rounds
from ..functions.graph import bfs_hops_oracle_sql as _bfs_hops_oracle_sql  # noqa: E402

HARNESS_ORACLES["bfs_reach"] = _bfs_hops_oracle_sql(
    _DOMAIN_NODES_SQL, _DOMAIN_EDGES2_SQL, max_hops=3
)

from ..functions.text import (  # noqa: E402
    text_readability_oracle_sql as _text_readability_oracle_sql,
)

HARNESS_ORACLES["text_readability"] = _text_readability_oracle_sql(
    "documents", "doc_id", "text"
)

from ..functions.mining import (  # noqa: E402
    target_encode_loo_oracle_sql as _target_encode_oracle_sql,
)

HARNESS_ORACLES["target_encode"] = _target_encode_oracle_sql(
    "SELECT event_id, event_type, value FROM events",
    "event_type",
    "value",
    out_cols=["event_id", "event_type", "value"],
)


from ..functions.profile import (  # noqa: E402
    mad_outliers_oracle_sql as _mad_outliers_oracle_sql,
)

HARNESS_ORACLES["mad_outliers"] = _mad_outliers_oracle_sql(
    "SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders",
    "o_totalprice",
    ["o_orderpriority"],
    k=2.0,
    out_cols=["o_orderkey", "o_orderpriority"],
)


from ..functions.timeseries import (  # noqa: E402
    crosscorr_lags_oracle_sql as _crosscorr_oracle_sql,
    user_streaks_oracle_sql as _user_streaks_oracle_sql,
)

HARNESS_ORACLES["crosscorr"] = _crosscorr_oracle_sql(
    "events", "event_type", "purchase", "click", ts_col="ts", max_lag=3
)
HARNESS_ORACLES["user_streaks"] = _user_streaks_oracle_sql(
    "events", "user_id", ts_col="ts"
)


from ..functions.timeseries import (  # noqa: E402
    interarrival_stats_oracle_sql as _interarrival_oracle_sql,
)

HARNESS_ORACLES["dwell_stats"] = _interarrival_oracle_sql(
    "events", "user_id", "event_type", ts_col="ts", id_col="event_id"
)


from ..functions.integrity import (  # noqa: E402
    reconcile_totals_oracle_sql as _reconcile_oracle_sql,
)

HARNESS_ORACLES["reconcile_totals"] = _reconcile_oracle_sql(
    "SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS declared_cents FROM orders",
    "o_orderkey",
    "declared_cents",
    "SELECT l_orderkey, CAST(round(l_extendedprice * 100) AS BIGINT) AS line_cents FROM lineitem",
    "l_orderkey",
    "line_cents",
)
