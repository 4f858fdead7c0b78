"""North-star operators dispatched from YAML flows (VERDICT r1 item 4):
dedup / similarity / asof_join / range_join specs parse, round-trip
through YAML, and execute through apply_operations — so a generated
pipeline (the reference's LLM flow path, app/main.py:85-283) can reach
the training-data operators like any parity op."""

from __future__ import annotations

import pytest

from openetlagent_spark.model import (
    SpecError,
    PipelineFlow,
    load_pipeline_flow,
    parse_operation,
    save_pipeline_flow,
)
from openetlagent_spark.runner import apply_operations

SF = "/root/testdata/sf0.001"


def test_advanced_specs_roundtrip(tmp_path):
    ops = [
        {"operation_type": "dedup", "strategy": "exact",
         "keys": ["lang", "source"], "order_column": "doc_id"},
        {"operation_type": "dedup", "strategy": "ngram", "mode": "pairs",
         "id_column": "doc_id", "text_column": "text", "threshold": 0.5},
        {"operation_type": "asof_join", "right_file_path": "orders",
         "left_on": "user_id", "right_on": "o_custkey",
         "left_time": "ts", "right_time": "o_orderdate",
         "value_columns": ["o_totalprice"]},
        {"operation_type": "range_join", "kind": "tolerance", "key": "user_id",
         "time_column": "ts", "id_column": "event_id", "tolerance": 60.0},
        {"operation_type": "similarity", "method": "brute",
         "queries_path": "queries", "k": 5},
    ]
    flow = PipelineFlow(source="documents", operations=[parse_operation(o) for o in ops])
    path = str(tmp_path / "flow.yaml")
    save_pipeline_flow(flow, path)
    back = load_pipeline_flow(path)
    assert [op.operation_type for op in back.operations] == [
        "dedup", "dedup", "asof_join", "range_join", "similarity"
    ]
    assert back.operations[0].keys == ["lang", "source"]
    assert back.operations[1].mode == "pairs"
    assert back.operations[2].value_columns == ["o_totalprice"]
    assert back.operations[3].tolerance == 60.0
    assert back.operations[4].k == 5


def test_advanced_spec_validation():
    with pytest.raises(SpecError):
        parse_operation({"operation_type": "dedup", "strategy": "nope"})
    with pytest.raises(SpecError):
        parse_operation({"operation_type": "dedup", "strategy": "exact"})  # no keys
    with pytest.raises(SpecError):
        parse_operation(
            {"operation_type": "dedup", "strategy": "exact", "mode": "pairs",
             "keys": ["k"], "order_column": "o"}
        )
    with pytest.raises(SpecError):
        parse_operation({"operation_type": "similarity", "method": "brute"})  # no queries
    with pytest.raises(SpecError):
        parse_operation({"operation_type": "asof_join", "right_file_path": "r"})
    with pytest.raises(SpecError):
        parse_operation({"operation_type": "range_join", "kind": "interval"})


def test_yaml_dedup_exact_then_ngram_pairs(spark):
    """A flow chaining two dedup ops end-to-end: exact keep-min dedup,
    then ngram near-dup drop, all from parsed specs."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ops = [
        parse_operation(
            {"operation_type": "dedup", "strategy": "exact",
             "keys": ["lang", "source"], "order_column": "doc_id"}
        ),
        parse_operation(
            {"operation_type": "dedup", "strategy": "ngram",
             "id_column": "doc_id", "text_column": "text", "threshold": 0.5}
        ),
    ]
    out = apply_operations(docs, ops, spark)
    n_docs = docs.count()
    n_exact = docs.select("lang", "source").distinct().count()
    assert out.count() <= n_exact <= n_docs
    # exact stage kept the min doc_id per (lang, source)
    from openetlagent_spark.functions.dedup import exact_dedup

    expected = exact_dedup(docs, ["lang", "source"], "doc_id")
    assert out.count() <= expected.count()


def test_yaml_dedup_substring_pairs(spark):
    """substring strategy from a parsed spec equals the direct call."""
    from openetlagent_spark.functions.dedup import substring_run_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    op = parse_operation(
        {"operation_type": "dedup", "strategy": "substring", "mode": "pairs",
         "id_column": "doc_id", "text_column": "text", "run_len": 6}
    )
    via_flow = apply_operations(docs, [op], spark)
    direct = substring_run_pairs(docs, "doc_id", "text", run_len=6)
    assert sorted(map(tuple, via_flow.collect())) == sorted(map(tuple, direct.collect()))


def test_yaml_asof_join_matches_function(spark):
    """asof_join from a YAML spec equals the direct function call."""
    from openetlagent_spark.functions.asof import asof_join
    from openetlagent_spark.streaming import read_event_table

    events = read_event_table(spark, f"{SF}/events.parquet").limit(500)
    orders = spark.read.parquet(f"{SF}/orders.parquet")

    op = parse_operation(
        {"operation_type": "asof_join", "right_file_path": f"{SF}/orders.parquet",
         "left_on": "user_id", "right_on": "o_custkey",
         "left_time": "ts", "right_time": "o_orderdate",
         "value_columns": ["o_totalprice"]}
    )
    via_flow = apply_operations(events, [op], spark)
    direct = asof_join(
        events, orders,
        left_on="user_id", right_on="o_custkey",
        left_time="ts", right_time="o_orderdate",
        value_columns=["o_totalprice"],
    )
    assert via_flow.columns == direct.columns
    a = {tuple(r) for r in via_flow.collect()}
    b = {tuple(r) for r in direct.collect()}
    assert a == b


def test_yaml_range_tolerance_and_similarity(spark):
    """range_join (self tolerance pairs) and similarity (brute top-k)
    from YAML specs produce sane, non-empty results."""
    from openetlagent_spark.streaming import read_event_table

    events = read_event_table(spark, f"{SF}/events.parquet").limit(2000)
    op = parse_operation(
        {"operation_type": "range_join", "kind": "tolerance", "key": "user_id",
         "time_column": "ts", "id_column": "event_id", "tolerance": 3600.0}
    )
    pairs = apply_operations(events, [op], spark)
    assert pairs.columns == ["user_id", "id_a", "id_b", "dt_seconds"]
    assert pairs.filter("dt_seconds > 3600").count() == 0

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    op2 = parse_operation(
        {"operation_type": "similarity", "method": "brute",
         "queries_path": f"{SF}/embeddings.parquet", "k": 3}
    )
    # corpus = current frame; queries resolved from the path
    topk = apply_operations(emb.limit(200), [op2], spark)
    assert topk.columns == ["query_id", "neighbor_id", "rank"]
    assert topk.groupBy("query_id").count().filter("count > 3").count() == 0


def test_curation_specs_roundtrip_and_validation(tmp_path):
    ops = [
        {"operation_type": "contamination", "benchmark_path": "bench",
         "id_column": "doc_id", "text_column": "text", "mode": "filter",
         "rate_threshold": 0.4},
        {"operation_type": "pack_sequences", "id_column": "doc_id",
         "text_column": "text", "context_length": 256},
        {"operation_type": "dedup", "strategy": "ngram", "mode": "cluster_drop",
         "id_column": "doc_id", "text_column": "text"},
    ]
    flow = PipelineFlow(source="documents", operations=[parse_operation(o) for o in ops])
    path = str(tmp_path / "flow.yaml")
    save_pipeline_flow(flow, path)
    back = load_pipeline_flow(path)
    assert back.operations[0].mode == "filter"
    assert back.operations[1].context_length == 256
    assert back.operations[2].mode == "cluster_drop"
    with pytest.raises(SpecError):
        parse_operation({"operation_type": "contamination"})  # no benchmark
    with pytest.raises(SpecError):
        parse_operation({"operation_type": "contamination",
                         "benchmark_path": "b", "mode": "nope"})
    with pytest.raises(SpecError):
        parse_operation({"operation_type": "pack_sequences", "context_length": 0})
    with pytest.raises(SpecError):
        parse_operation({"operation_type": "dedup", "strategy": "ngram",
                         "mode": "bogus", "id_column": "i", "text_column": "t"})


def test_yaml_contamination_filter_then_pack(spark):
    """The full curation chain from parsed specs: drop benchmark-
    contaminated docs, then annotate the survivors with their packing
    layout — matching the direct function calls."""
    from openetlagent_spark.functions.curation import contamination_check

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(docs.doc_id % 20 == 0)
    corpus = docs.filter(docs.doc_id % 20 != 0)
    inputs = None  # benchmark resolves by direct path below

    import tempfile, os
    tmp = tempfile.mkdtemp()
    bench_path = os.path.join(tmp, "bench.parquet")
    bench.write.mode("overwrite").parquet(bench_path)

    ops = [
        parse_operation(
            {"operation_type": "contamination", "benchmark_path": bench_path,
             "id_column": "doc_id", "text_column": "text",
             "mode": "filter", "rate_threshold": 0.5}
        ),
        parse_operation(
            {"operation_type": "pack_sequences", "id_column": "doc_id",
             "text_column": "text", "context_length": 128}
        ),
    ]
    out = apply_operations(corpus, ops, spark, inputs)
    rows = out.collect()
    ann = contamination_check(corpus, bench, rate_threshold=0.5)
    expected_kept = {r["doc_id"] for r in ann.filter(~ann.contaminated).collect()}
    assert {r["doc_id"] for r in rows} == expected_kept
    # packing columns joined onto the original frame, all source cols kept
    assert {"text", "n_tokens", "start_offset", "chunk_id", "n_chunks"} <= set(
        out.columns
    )


def test_yaml_dedup_cluster_drop_transitive(spark):
    """cluster_drop keeps exactly one doc per TRANSITIVE duplicate
    cluster — equal to dedup_by_components over the same pairs."""
    from openetlagent_spark.functions.dedup import minhash_lsh_pairs
    from openetlagent_spark.functions.graph import dedup_by_components

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    op = parse_operation(
        {"operation_type": "dedup", "strategy": "ngram", "mode": "cluster_drop",
         "id_column": "doc_id", "text_column": "text", "threshold": 0.5}
    )
    got = sorted(r["doc_id"] for r in apply_operations(docs, [op], spark).collect())
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5, seed=42)
    want = sorted(
        r["doc_id"] for r in dedup_by_components(docs, pairs, "doc_id").collect()
    )
    assert got == want and len(got) < docs.count()


def test_yaml_repetition_op(spark):
    """The repetition quality filter dispatched from a parsed spec
    matches the direct function call, and bad ns fail fast."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    op = parse_operation(
        {"operation_type": "repetition", "input_column": "text", "ns": [2]}
    )
    out = apply_operations(docs, [op], spark)
    assert "dup_2gram_frac" in out.columns

    from openetlagent_spark.functions.text import with_repetition

    direct = {
        r.doc_id: r.dup_2gram_frac
        for r in with_repetition(docs, ns=(2,)).select(
            "doc_id", "dup_2gram_frac"
        ).collect()
    }
    via = {r.doc_id: r.dup_2gram_frac for r in out.select("doc_id", "dup_2gram_frac").collect()}
    assert via == direct

    with pytest.raises(SpecError):
        parse_operation({"operation_type": "repetition", "ns": [0]})


def test_yaml_round3_ops_match_functions(spark):
    """keyword_search / inverted_index / vocab_oov / kmeans specs
    execute through apply_operations identically to the direct calls."""
    from openetlagent_spark.functions.clustering import diversity_sample
    from openetlagent_spark.functions.search import inverted_index, keyword_search_topk
    from openetlagent_spark.functions.text import vocab_oov

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    embs = spark.read.parquet(f"{SF}/embeddings.parquet")

    cases = [
        (
            docs,
            {"operation_type": "keyword_search", "query_terms": ["hash", "dup"], "k": 5},
            keyword_search_topk(docs, ["hash", "dup"], k=5),
        ),
        (
            docs,
            {"operation_type": "inverted_index", "max_df": 100},
            inverted_index(docs, max_df=100),
        ),
        (
            docs,
            {"operation_type": "vocab_oov", "top_k": 15},
            vocab_oov(docs, top_k=15),
        ),
        (
            embs,
            {"operation_type": "kmeans", "mode": "sample", "k": 4, "per_cluster": 3},
            diversity_sample(embs, k=4, per_cluster=3),
        ),
    ]
    for frame, raw, direct in cases:
        via = apply_operations(frame, [parse_operation(raw)], spark)
        assert sorted(map(tuple, via.collect())) == sorted(map(tuple, direct.collect())), raw


def test_yaml_incremental_dedup_resolves_corpus_path(spark):
    from openetlagent_spark.functions.incremental import incremental_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    batch = docs.filter("doc_id % 10 = 0")
    op = parse_operation(
        {"operation_type": "incremental_dedup", "mode": "filter",
         "corpus_path": f"{SF}/documents.parquet",
         "corpus_schema_columns": {"doc_id": "integer", "text": "string"}}
    )
    via = apply_operations(batch, [op], spark)
    corpus = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    direct = incremental_dedup(batch, corpus, mode="filter")
    assert sorted(map(tuple, via.collect())) == sorted(map(tuple, direct.collect()))


def test_round3_spec_validation():
    with pytest.raises(SpecError):
        parse_operation({"operation_type": "keyword_search", "query_terms": []})
    with pytest.raises(SpecError):
        parse_operation({"operation_type": "kmeans", "mode": "nope"})
    with pytest.raises(SpecError):
        parse_operation({"operation_type": "vocab_oov", "top_k": 0})
    with pytest.raises(SpecError):
        parse_operation({"operation_type": "incremental_dedup"})  # no corpus_path
    with pytest.raises(SpecError):
        parse_operation({"operation_type": "inverted_index", "max_df": -1})


def test_yaml_profile_and_histogram_match_functions(spark):
    from openetlagent_spark.functions.profile import profile_columns, value_histogram

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    via = apply_operations(
        orders, [parse_operation({"operation_type": "profile", "columns": ["o_orderkey"]})], spark
    )
    direct = profile_columns(orders, ["o_orderkey"])
    assert sorted(map(tuple, via.collect())) == sorted(map(tuple, direct.collect()))

    via_h = apply_operations(
        orders,
        [parse_operation({"operation_type": "histogram", "input_column": "o_totalprice",
                          "bins": 10, "lo": 0.0, "hi": 500000.0})],
        spark,
    )
    direct_h = value_histogram(orders, "o_totalprice", bins=10, lo=0.0, hi=500000.0)
    assert sorted(map(tuple, via_h.collect())) == sorted(map(tuple, direct_h.collect()))

    with pytest.raises(SpecError):
        parse_operation({"operation_type": "histogram", "input_column": "v", "bins": 0})
    with pytest.raises(SpecError):
        parse_operation({"operation_type": "histogram"})


def test_yaml_outliers_matches_function(spark):
    from openetlagent_spark.functions.profile import outlier_flags

    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    via = apply_operations(
        orders,
        [parse_operation({"operation_type": "outliers", "input_column": "o_totalprice",
                          "z_threshold": 2.0, "group_columns": ["o_orderpriority"]})],
        spark,
    )
    direct = outlier_flags(orders, "o_totalprice", z_threshold=2.0,
                           group_cols=["o_orderpriority"])
    assert sorted(map(tuple, via.collect())) == sorted(map(tuple, direct.collect()))
    with pytest.raises(SpecError):
        parse_operation({"operation_type": "outliers"})
    with pytest.raises(SpecError):
        parse_operation({"operation_type": "outliers", "input_column": "v",
                         "z_threshold": 0})


def test_yaml_gopher_and_lm_buckets_match_functions(spark):
    """gopher_rules / lm_buckets specs execute through apply_operations
    identically to the direct calls; gopher filter mode keeps only
    passing rows of the original frame."""
    from openetlagent_spark.functions.text import gopher_rules, lm_quality_buckets

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    via = apply_operations(
        docs, [parse_operation({"operation_type": "gopher_rules"})], spark
    )
    direct = docs.join(gopher_rules(docs), "doc_id")
    assert sorted(map(tuple, via.collect())) == sorted(map(tuple, direct.collect()))

    via_f = apply_operations(
        docs,
        [parse_operation({"operation_type": "gopher_rules", "mode": "filter"})],
        spark,
    )
    flags = gopher_rules(docs)
    pass_ids = {r.doc_id for r in flags.filter("gopher_pass").collect()}
    assert {r.doc_id for r in via_f.collect()} == pass_ids
    assert via_f.columns == docs.columns  # original frame, flags dropped

    via_b = apply_operations(
        docs, [parse_operation({"operation_type": "lm_buckets", "k": 100})], spark
    )
    direct_b = lm_quality_buckets(docs, k=100)
    assert sorted(map(tuple, via_b.collect())) == sorted(map(tuple, direct_b.collect()))


def test_gopher_lm_spec_validation():
    import pytest as _pytest

    from openetlagent_spark.model import SpecError

    with _pytest.raises(SpecError):
        parse_operation({"operation_type": "gopher_rules", "mode": "nope"})
    with _pytest.raises(SpecError):
        parse_operation({"operation_type": "gopher_rules", "min_words": 10, "max_words": 5})
    with _pytest.raises(SpecError):
        parse_operation({"operation_type": "lm_buckets", "k": 0})


def test_yaml_line_dedup_replaces_text(spark):
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="shared footer\nbody one", lang="en"),
            Row(doc_id=2, text="shared footer\nbody two", lang="fr"),
        ]
    )
    out = apply_operations(
        docs, [parse_operation({"operation_type": "line_dedup"})], spark
    )
    rows = {r.doc_id: r for r in out.collect()}
    assert set(out.columns) == {"doc_id", "text", "lang"}
    assert rows[1].text == "body one" and rows[2].text == "body two"
    assert rows[1].lang == "en"  # non-text columns ride along

    import pytest as _pytest

    from openetlagent_spark.model import SpecError

    with _pytest.raises(SpecError):
        parse_operation({"operation_type": "line_dedup", "max_docs": 0})


def test_yaml_tokenize_curriculum_store_gate(spark, tmp_path):
    from pyspark.sql import functions as F

    from openetlagent_spark.functions.curation import curriculum_order
    from openetlagent_spark.functions.incremental import (
        build_fingerprint_store,
        dedup_gate_from_store,
    )
    from openetlagent_spark.functions.text import tokenize_ids

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    via = apply_operations(
        docs, [parse_operation({"operation_type": "tokenize_ids", "top_k": 50})], spark
    )
    direct = tokenize_ids(docs, top_k=50)
    assert sorted(map(tuple, via.collect())) == sorted(map(tuple, direct.collect()))

    via_c = apply_operations(
        docs.select("doc_id", "n_chars"),
        [parse_operation({"operation_type": "curriculum_order",
                          "score_column": "n_chars", "batch_size": 32})],
        spark,
    )
    direct_c = curriculum_order(
        docs.select("doc_id", "n_chars"), "n_chars", "doc_id", batch_size=32
    )
    assert sorted(map(tuple, via_c.collect())) == sorted(map(tuple, direct_c.collect()))

    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    store = str(tmp_path / "fp_store")
    build_fingerprint_store(corpus, store)
    via_g = apply_operations(
        batch,
        [parse_operation({"operation_type": "store_gate", "store_path": store})],
        spark,
    )
    direct_g = dedup_gate_from_store(batch, spark, store)
    assert sorted(map(tuple, via_g.collect())) == sorted(map(tuple, direct_g.collect()))

    import pytest as _pytest

    from openetlagent_spark.model import SpecError

    with _pytest.raises(SpecError):
        parse_operation({"operation_type": "store_gate"})  # no path
    with _pytest.raises(SpecError):
        parse_operation({"operation_type": "curriculum_order"})  # no score
    with _pytest.raises(SpecError):
        parse_operation({"operation_type": "tokenize_ids", "top_k": 0})


def test_store_gate_spec_validates_band_geometry():
    import pytest as _pytest

    from openetlagent_spark.model import SpecError

    for bad in (
        {"operation_type": "store_gate", "store_path": "p", "bands": 0},
        {"operation_type": "store_gate", "store_path": "p", "rows_per_band": 0},
        {"operation_type": "store_gate", "store_path": "p", "shingle_size": 0},
    ):
        with _pytest.raises(SpecError, match=">= 1"):
            parse_operation(bad)


def test_tokenize_ids_rejects_aliasing_oov_id(spark):
    import pytest as _pytest

    from openetlagent_spark.functions.text import tokenize_ids

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="outside the vocabulary id range"):
        tokenize_ids(docs, top_k=10, oov_id=5)
    # sentinel outside the range is fine
    assert tokenize_ids(docs, top_k=10, oov_id=-1).count() == 1


def test_yaml_web_ops_chain(spark):
    """url_normalize → domain_extract → domain_quota as one YAML op
    chain — the RefinedWeb pre-text gate through the flow dispatcher."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            Row(doc_id=i, score=10 - i,
                url=f"HTTPS://WWW.Site{i % 2}.COM:443/p/{i}?utm_source=x&id={i}#f")
            for i in range(6)
        ]
    )
    ops = [
        parse_operation({"operation_type": "url_normalize", "url_column": "url"}),
        parse_operation({"operation_type": "domain_extract", "url_column": "url_norm"}),
        parse_operation({
            "operation_type": "domain_quota", "domain_column": "domain",
            "order_column": "score", "tie_column": "doc_id", "n_per_domain": 2,
        }),
    ]
    out = apply_operations(docs, ops, spark)
    rows = sorted(out.collect(), key=lambda r: r.doc_id)
    # 2 domains × quota 2 = 4 survivors, the highest-score (lowest doc_id) each
    assert [r.doc_id for r in rows] == [0, 1, 2, 3]
    assert all(r.url_norm == f"https://www.site{r.doc_id % 2}.com/p/{r.doc_id}?id={r.doc_id}" for r in rows)
    # domain_extract strips the leading www. (by contract)
    assert all(r.domain == f"site{r.doc_id % 2}.com" for r in rows)
    assert all(r.apex_domain == f"site{r.doc_id % 2}.com" for r in rows)

    import pytest as _pytest

    from openetlagent_spark.model import SpecError

    with _pytest.raises(SpecError):
        parse_operation({"operation_type": "domain_quota", "order_column": "s"})


def test_yaml_line_dedup_group_min_df(spark):
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="foot\na", lang="en"),
            Row(doc_id=2, text="foot\nb", lang="en"),
            Row(doc_id=3, text="foot\nc", lang="fr"),
        ]
    )
    op = parse_operation({
        "operation_type": "line_dedup", "group_column": "lang", "min_df": 2,
    })
    rows = {r.doc_id: r.text for r in apply_operations(docs, [op], spark).collect()}
    # en: df=2 >= min_df and > max_docs → stripped; fr: df=1 → kept
    assert rows == {1: "a", 2: "b", 3: "foot\nc"}

    import pytest as _pytest

    from openetlagent_spark.model import SpecError

    with _pytest.raises(SpecError):
        parse_operation({"operation_type": "line_dedup", "min_df": 0})


def test_yaml_html_and_classifier_ops(spark):
    """The full web-pipeline head as YAML ops: html_to_text replaces
    the text in place, classifier_score gates on the model margin."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="<p>alpha beta gamma</p><script>x</script>"),
            Row(doc_id=2, text="<div>delta epsilon</div>"),
        ]
    )
    ops = [
        parse_operation({"operation_type": "html_to_text"}),
        parse_operation({"operation_type": "classifier_score", "mode": "annotate"}),
    ]
    out = {r.doc_id: r for r in apply_operations(docs, ops, spark).collect()}
    assert out[1].text == "alpha beta gamma"
    assert out[2].text == "delta epsilon"
    assert all(r.score is not None for r in out.values())

    filt = parse_operation({
        "operation_type": "classifier_score", "mode": "filter", "threshold": -1e9,
    })
    kept = apply_operations(docs, [parse_operation({"operation_type": "html_to_text"}), filt], spark)
    assert kept.count() == 2 and "clf_pass" not in kept.columns

    import pytest as _pytest

    from openetlagent_spark.model import SpecError

    with _pytest.raises(SpecError):
        parse_operation({"operation_type": "classifier_score", "mode": "bogus"})


def test_example_web_curation_flow_runs(spark):
    """examples/pipelines/web_curation.yaml — the shipped demo of the
    full web head — must parse and run end-to-end with survivors."""
    from pyspark.sql import functions as F

    from openetlagent_spark.model import load_pipeline_flow
    from openetlagent_spark.plans.harness_queries import (
        _SYNTH_HTML_SQL,
        _SYNTH_URL_SQL,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "lang", "n_chars",
        F.expr(_SYNTH_HTML_SQL).alias("text"),
        F.expr(_SYNTH_URL_SQL).alias("url"),
    )
    flow = load_pipeline_flow("examples/pipelines/web_curation.yaml")
    out = apply_operations(docs, flow.operations, spark)
    n = out.count()
    assert 0 < n < docs.count()
    assert {"url_norm", "domain", "apex_domain"} <= set(out.columns)
    # the HTML is gone from the surviving text
    assert out.filter(F.col("text").contains("<script")).count() == 0


def test_yaml_gap_fill_and_bloom_gate(spark):
    """Round-6 tail flow ops: gap_fill replaces the frame with the
    filled hourly grid; bloom_gate resolves its eval side like bind's
    right side and gates by pure projection."""
    import datetime

    from pyspark.sql import Row

    from openetlagent_spark.model import SpecError

    t0 = datetime.datetime(2024, 3, 1)
    events = spark.createDataFrame(
        [
            Row(k="a", ts=t0, v=1.0),
            Row(k="a", ts=t0 + datetime.timedelta(hours=2), v=5.0),
        ]
    )
    gf = parse_operation({
        "operation_type": "gap_fill", "key_column": "k",
        "ts_column": "ts", "value_column": "v",
    })
    rows = sorted(
        apply_operations(events, [gf], spark).collect(),
        key=lambda r: r.hour_idx,
    )
    assert [r.observed for r in rows] == [1, 0, 1]
    assert [r.filled_sum for r in rows] == [1.0, 1.0, 5.0]

    with pytest.raises(SpecError):
        parse_operation({"operation_type": "gap_fill"})  # key_column required

    # bloom_gate: eval side via a direct parquet path (bind convention)
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    bg = parse_operation({
        "operation_type": "bloom_gate",
        "eval_path": f"{SF}/documents.parquet",
        "eval_schema_columns": {"text": "string"},
        "m": 4096,
        "mode": "filter",
    })
    # every corpus doc is in the eval side -> the filter drops everything
    assert apply_operations(docs, [bg], spark).count() == 0

    annot = parse_operation({
        "operation_type": "bloom_gate",
        "eval_path": f"{SF}/documents.parquet",
        "eval_schema_columns": {"text": "string"},
        "m": 4096,
    })
    out = apply_operations(docs, [annot], spark)
    assert out.filter("bloom_hit = 0").count() == 0 and "bloom_hit" in out.columns

    with pytest.raises(SpecError):
        parse_operation({"operation_type": "bloom_gate", "eval_path": "x", "m": 100})


def test_yaml_sketch_ops(spark):
    """hll_distinct and cms_counts as YAML ops: frame-replacing
    sketches; cms probes default to the frame's own distinct keys."""
    from pyspark.sql import Row

    from openetlagent_spark.model import SpecError

    ev = spark.createDataFrame(
        [Row(g="a", k=f"u{i % 7}") for i in range(70)]
        + [Row(g="b", k="solo")]
    )
    hll = parse_operation({
        "operation_type": "hll_distinct", "key_column": "k",
        "group_columns": ["g"], "p": 8,
    })
    rows = {r["g"]: r for r in apply_operations(ev, [hll], spark).collect()}
    assert rows["b"]["n_buckets_used"] == 1
    assert abs(rows["a"]["hll_est"] - 7) < 1.5  # linear-counting regime

    cms = parse_operation({
        "operation_type": "cms_counts", "key_column": "k", "w": 4096,
    })
    counts = {r["k"]: r["est_count"] for r in apply_operations(ev, [cms], spark).collect()}
    assert counts["solo"] == 1 and all(counts[f"u{i}"] == 10 for i in range(7))

    with pytest.raises(SpecError):
        parse_operation({"operation_type": "hll_distinct", "key_column": "k"})
    with pytest.raises(SpecError):
        parse_operation({"operation_type": "cms_counts", "key_column": "k", "w": 1})


def test_cms_spec_rejects_probe_knobs_without_path():
    from openetlagent_spark.model import SpecError

    with pytest.raises(SpecError, match="probe_path"):
        parse_operation({
            "operation_type": "cms_counts", "key_column": "k",
            "probe_key_column": "uid",
        })


def test_unknown_spec_fields_fail_loudly():
    """parse_operation rejects unknown keys (deliberate deviation from
    the reference's lenient parsing): a typo'd knob silently reverting
    to its default is the failure mode that let a gopher threshold be
    ignored and a distilled gate learn the degenerate all-pass label."""
    from openetlagent_spark.model import SpecError

    with pytest.raises(SpecError, match=r"Unknown field\(s\) \['min_men_word_len'\]"):
        parse_operation({
            "operation_type": "gopher_rules", "min_men_word_len": 4.4,
        })
    # gopher_rules reads no id column, so it declares none
    with pytest.raises(SpecError, match=r"Unknown field\(s\) \['id_column'\]"):
        parse_operation({"operation_type": "gopher_rules", "id_column": "doc_id"})
    # media decode has one path: the former fake/real switch is unknown
    with pytest.raises(SpecError, match=r"Unknown field\(s\) \['decoder'\]"):
        parse_operation({"operation_type": "media_features", "decoder": "real"})
    # the full Gopher threshold battery is now spec-reachable
    op = parse_operation({
        "operation_type": "gopher_rules", "min_mean_word_len": 4.4,
        "max_symbol_ratio": 0.2, "min_alpha_ratio": 0.5,
    })
    assert op.min_mean_word_len == 4.4 and op.max_symbol_ratio == 0.2


def test_rollup_aggregate_flow_op(spark):
    """rollup_aggregate spec parses, validates, and executes: hour
    serve and day coarsen both match the library composition."""
    from openetlagent_spark.functions.rollup import (
        rollup_build,
        rollup_coarsen,
        rollup_serve,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    op = parse_operation({
        "operation_type": "rollup_aggregate", "ts_column": "ts",
        "value_column": "value", "group_columns": ["event_type"],
        "coarsen_factor": 24,
    })
    got = apply_operations(ev, [op], spark, None)
    want = rollup_serve(
        rollup_coarsen(
            rollup_build(ev, "ts", "value", ["event_type"]), ["event_type"],
            factor=24,
        ),
        ["event_type"],
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    with pytest.raises(SpecError, match="grain"):
        parse_operation({"operation_type": "rollup_aggregate", "ts_column": "ts",
                         "value_column": "value", "group_columns": ["event_type"],
                         "grain": 0})
    with pytest.raises(SpecError, match="requires"):
        parse_operation({"operation_type": "rollup_aggregate", "ts_column": "ts",
                         "value_column": "value"})


def test_heavy_hitters_flow_op(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    op = parse_operation({
        "operation_type": "heavy_hitters", "group_columns": ["event_type"],
        "threshold": 150, "w": 64,
    })
    got = {r["event_type"]: r["cnt"] for r in
           apply_operations(ev, [op], spark, None).collect()}
    import duckdb
    want = dict(duckdb.sql(
        f"SELECT event_type, COUNT(*) c FROM '{SF}/events.parquet' "
        "WHERE event_type IS NOT NULL GROUP BY 1 HAVING COUNT(*) >= 150"
    ).fetchall())
    assert got == want and got  # non-trivial at sf0.001
    with pytest.raises(SpecError, match="threshold"):
        parse_operation({"operation_type": "heavy_hitters",
                         "group_columns": ["event_type"]})
    with pytest.raises(SpecError, match="w\\*d"):
        parse_operation({"operation_type": "heavy_hitters",
                         "group_columns": ["event_type"], "threshold": 5,
                         "w": 8192, "d": 2})


def test_classifier_eval_flow_op(spark):
    """classifier_score -> classifier_eval chained through YAML dicts:
    the sweep runs on the scored frame's own columns."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ops = [
        parse_operation({"operation_type": "classifier_score",
                         "id_column": "doc_id", "text_column": "text"}),
        parse_operation({"operation_type": "classifier_eval",
                         "label_column": "clf_pass", "score_column": "score",
                         "thresholds": [0.0, 0.05]}),
    ]
    rows = {r["thr"]: r for r in apply_operations(docs, ops, spark, None).collect()}
    assert set(rows) == {0.0, 0.05}
    # labels came from thresholding at 0.0, so the 0.0 sweep row must
    # be a perfect confusion diagonal
    r0 = rows[0.0]
    assert r0["fp"] == 0 and r0["fn"] == 0 and r0["accuracy"] == 1.0
    with pytest.raises(SpecError, match="distinct"):
        parse_operation({"operation_type": "classifier_eval",
                         "label_column": "lab", "thresholds": [0.1, 0.1]})


def test_time_weighted_avg_flow_op(spark):
    from openetlagent_spark.functions.timeseries import time_weighted_avg

    ev = spark.read.parquet(f"{SF}/events.parquet")
    op = parse_operation({
        "operation_type": "time_weighted_avg", "key_column": "event_type",
        "ts_column": "ts", "value_column": "value", "id_column": "event_id",
    })
    got = apply_operations(ev, [op], spark, None)
    want = time_weighted_avg(ev, key="event_type", ts_col="ts",
                             value_col="value", id_col="event_id")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    with pytest.raises(SpecError, match="requires"):
        parse_operation({"operation_type": "time_weighted_avg",
                         "key_column": "event_type"})
    with pytest.raises(SpecError, match="q_bits"):
        parse_operation({"operation_type": "time_weighted_avg",
                         "key_column": "k", "id_column": "i", "q_bits": 31})


def test_sql_transform_flow_op(spark):
    """sql_transform: SELECT over the registered frame view; the view
    is dropped after analysis (no leak, no collision); DDL and bad
    view names are rejected at parse time."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    op = parse_operation({
        "operation_type": "sql_transform",
        "statement": "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n "
                     "FROM frame GROUP BY event_type",
    })
    got = {r["event_type"]: r["n"] for r in apply_operations(ev, [op], spark, None).collect()}
    want = {r["event_type"]: r["count"] for r in ev.groupBy("event_type").count().collect()}
    assert got == want
    # the temp view does not survive the op
    assert not any(t.name == "frame" for t in spark.catalog.listTables())
    # chaining two sql_transforms reuses the default view name safely
    op2 = parse_operation({
        "operation_type": "sql_transform",
        "statement": "SELECT SUM(n) AS total FROM frame",
    })
    total = apply_operations(ev, [op, op2], spark, None).collect()[0]["total"]
    assert total == ev.count()
    with pytest.raises(SpecError, match="SELECT/WITH"):
        parse_operation({"operation_type": "sql_transform",
                         "statement": "DROP TABLE events"})
    with pytest.raises(SpecError, match="identifier"):
        parse_operation({"operation_type": "sql_transform",
                         "statement": "SELECT 1", "view": "a.b"})
    with pytest.raises(SpecError, match="requires a statement"):
        parse_operation({"operation_type": "sql_transform", "statement": "  "})


def test_sql_transform_guards(spark):
    """WITH-prefixed DML is caught by the parsed-plan walk; an existing
    temp view is never clobbered; comment/parenthesized SELECTs parse."""
    ev = spark.read.parquet(f"{SF}/events.parquet").limit(10)
    dml = parse_operation({
        "operation_type": "sql_transform",
        "statement": "WITH x AS (SELECT 1 AS a) "
                     "INSERT INTO some_table SELECT * FROM x",
    })  # passes the fast keyword check on purpose
    with pytest.raises(ValueError, match="non-query nodes"):
        apply_operations(ev, [dml], spark, None)
    ok = parse_operation({
        "operation_type": "sql_transform",
        "statement": "-- count\n(SELECT CAST(COUNT(*) AS BIGINT) AS n FROM frame)",
    })
    assert apply_operations(ev, [ok], spark, None).collect()[0]["n"] == 10
    ev.createOrReplaceTempView("frame")
    try:
        with pytest.raises(ValueError, match="already exist"):
            apply_operations(ev, [ok], spark, None)
    finally:
        spark.catalog.dropTempView("frame")


def test_sql_transform_multi_input_views(spark):
    """views: {name: input_key} registers additional pipeline inputs
    for the statement — ad-hoc joins across declared inputs."""
    from openetlagent_spark.model import (
        ColumnDefinition,
        FileDefinition,
        FileSchema,
    )

    def _fd(path, cols):
        return FileDefinition(
            path=path,
            format="parquet",
            file_schema=FileSchema(
                name="t",
                columns={c: ColumnDefinition(type=t) for c, t in cols.items()},
            ),
        )

    inputs = {
        "events": _fd(f"{SF}/events.parquet",
                      {"event_id": "integer", "user_id": "integer",
                       "event_type": "string"}),
        "customer": _fd(f"{SF}/customer.parquet",
                        {"c_custkey": "integer", "c_mktsegment": "string"}),
    }
    ev = spark.read.parquet(f"{SF}/events.parquet")
    op = parse_operation({
        "operation_type": "sql_transform",
        "views": {"cust": "customer"},
        "statement": "SELECT c.c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n "
                     "FROM frame e JOIN cust c ON e.user_id = c.c_custkey "
                     "GROUP BY c.c_mktsegment",
    })
    got = {r["seg"]: r["n"] for r in apply_operations(ev, [op], spark, inputs).collect()}
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    want = {
        r["c_mktsegment"]: r["count"]
        for r in ev.join(cust, ev.user_id == cust.c_custkey)
        .groupBy("c_mktsegment").count().collect()
    }
    assert got == want and got
    # neither view survives
    live = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    assert not ({"frame", "cust"} & live)
    # missing input key fails loudly
    bad = parse_operation({
        "operation_type": "sql_transform",
        "views": {"cust": "nope"},
        "statement": "SELECT 1 AS one",
    })
    with pytest.raises(ValueError, match="not in .*inputs"):
        apply_operations(ev, [bad], spark, inputs)
    # a views name colliding with a live temp view is never clobbered
    cust.createOrReplaceTempView("cust")
    try:
        with pytest.raises(ValueError, match="already exist"):
            apply_operations(ev, [op], spark, inputs)
    finally:
        spark.catalog.dropTempView("cust")
    # parse-time validation: bad identifiers and frame-name reuse
    from openetlagent_spark.model import SpecError

    with pytest.raises(SpecError, match="bare identifier"):
        parse_operation({"operation_type": "sql_transform",
                         "views": {"a.b": "events"}, "statement": "SELECT 1 AS x"})
    with pytest.raises(SpecError, match="reuse the frame view"):
        parse_operation({"operation_type": "sql_transform",
                         "views": {"frame": "events"}, "statement": "SELECT 1 AS x"})


def test_mining_and_smoothing_flow_ops(spark):
    """The round-9 tail functions are reachable from YAML flows: each
    op parses via its discriminator, validates its spec loudly, and
    executes through apply_operations with the library function's
    exact semantics."""
    ev = spark.read.parquet(f"{SF}/events.parquet")

    ohlc = parse_operation({
        "operation_type": "ohlc", "key_column": "event_type",
        "bucket_seconds": 86400,
    })
    bars = apply_operations(ev, [ohlc], spark)
    assert set(bars.columns) == {"key", "bucket", "open", "high", "low",
                                 "close", "n_obs"}
    assert bars.count() > 0

    ew = parse_operation({
        "operation_type": "ewma", "key_column": "event_type",
        "id_column": "event_id", "lookback": 8,
    })
    sm = apply_operations(ev, [ew], spark)
    assert sm.columns == ["key", "event_id", "value", "ewma"]

    rm = parse_operation({
        "operation_type": "rolling_median", "key_column": "event_type",
        "id_column": "event_id", "window_rows": 3,
    })
    assert apply_operations(ev, [rm], spark).columns == [
        "key", "event_id", "value", "med"]

    cp = parse_operation({
        "operation_type": "changepoint", "key_column": "event_type",
    })
    cps = apply_operations(ev, [cp], spark)
    assert cps.count() == ev.select("event_type").distinct().count()

    ar = parse_operation({
        "operation_type": "association_rules", "basket_column": "user_id",
        "item_column": "event_type", "min_count": 2, "k": 10,
    })
    rules = apply_operations(ev, [ar], spark).collect()
    assert 0 < len(rules) <= 10
    assert all(r.confidence <= 1.0 for r in rules)

    mk = parse_operation({
        "operation_type": "markov", "seq_column": "user_id",
        "tiebreak_column": "event_id", "state_column": "event_type",
    })
    trans = apply_operations(ev, [mk], spark).collect()
    assert trans and abs(
        sum(r.prob for r in trans if r.src == trans[0].src) - 1.0
    ) < 1e-9

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sk = parse_operation({
        "operation_type": "skyline", "id_column": "doc_id",
        "x_column": "n_chars", "y_column": "doc_id",
    })
    assert apply_operations(docs, [sk], spark).count() > 0

    # spec validation fails loudly at parse time
    with pytest.raises(SpecError, match="key_column"):
        parse_operation({"operation_type": "ohlc"})
    with pytest.raises(SpecError, match="alpha"):
        parse_operation({"operation_type": "ewma", "key_column": "k",
                         "id_column": "i", "alpha_num": 4, "alpha_den": 4})
    with pytest.raises(SpecError, match="basket_column"):
        parse_operation({"operation_type": "association_rules"})
    with pytest.raises(SpecError, match="prune_buckets"):
        parse_operation({"operation_type": "skyline", "id_column": "a",
                         "x_column": "b", "y_column": "c", "prune_buckets": 0})


# --- round-10 flow ops: snapshot_diff + range_join kind='overlap' --------------


def test_yaml_snapshot_diff_counts_and_labels(spark, tmp_path):
    from openetlagent_spark.functions.profile import snapshot_diff

    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders.filter(orders.o_orderkey % 7 != 2)
    new = orders.filter(orders.o_orderkey % 5 != 1)
    old_path = str(tmp_path / "old.parquet")
    old.write.mode("overwrite").parquet(old_path)

    op = parse_operation(
        {"operation_type": "snapshot_diff", "old_path": old_path,
         "key_columns": ["o_orderkey"],
         "compare_columns": ["o_orderstatus", "o_totalprice"],
         "mode": "counts"}
    )
    got = {r.diff_status: r.n for r in apply_operations(new, [op], spark).collect()}
    want_rows = snapshot_diff(old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"])
    want = {
        r["diff_status"]: r["n"]
        for r in want_rows.groupBy("diff_status").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert got == want and set(got) >= {"added", "removed", "unchanged"}

    with pytest.raises(SpecError):
        parse_operation({"operation_type": "snapshot_diff", "old_path": "p",
                         "key_columns": [], "compare_columns": ["v"]})
    with pytest.raises(SpecError):
        parse_operation({"operation_type": "snapshot_diff", "old_path": "p",
                         "key_columns": ["k"], "compare_columns": ["v"],
                         "mode": "bogus"})


def test_yaml_range_join_overlap(spark, tmp_path):
    from pyspark.sql import functions as F

    from openetlagent_spark.functions.range_join import interval_overlap_join

    events = spark.read.parquet(f"{SF}/events.parquet")
    win = F.expr("ts + INTERVAL 10 MINUTES")
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), "ts", win.alias("te")
    )
    buys = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts", win.alias("te")
    )
    right_path = str(tmp_path / "buys.parquet")
    buys.write.mode("overwrite").parquet(right_path)

    op = parse_operation(
        {"operation_type": "range_join", "kind": "overlap",
         "right_file_path": right_path, "key": "user_id",
         "left_id_column": "view_id", "right_id_column": "purchase_id",
         "left_start_column": "ts", "left_end_column": "te",
         "start_column": "ts", "end_column": "te", "bucket_width": 600.0}
    )
    got = sorted(map(tuple, apply_operations(views, [op], spark).collect()))
    want = sorted(map(tuple, interval_overlap_join(
        views, buys, key="user_id", left_id="view_id", right_id="purchase_id",
        left_start="ts", left_end="te", right_start="ts", right_end="te",
        bucket_width_seconds=600.0,
    ).collect()))
    assert got == want and len(got) > 0

    with pytest.raises(SpecError):
        parse_operation({"operation_type": "range_join", "kind": "overlap",
                         "right_file_path": "r", "key": "u"})


def test_yaml_provenance_stamps_file_lineage(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    op = parse_operation(
        {"operation_type": "provenance", "fields": ["name", "path", "size"]}
    )
    out = apply_operations(docs, [op], spark)
    row = out.select("src_name", "src_path", "src_size").first()
    assert row.src_name == "documents.parquet"
    assert row.src_path.endswith("documents.parquet") and row.src_size > 0
    # every row carries the lineage; single-file table -> one distinct name
    assert out.select("src_name").distinct().count() == 1

    # derived frames without file lineage fail with the actionable error
    derived = docs.groupBy("source").count()
    with pytest.raises(ValueError, match="no file lineage"):
        apply_operations(derived, [op], spark)
    with pytest.raises(SpecError):
        parse_operation({"operation_type": "provenance", "fields": ["bogus"]})


# --- round-10 flow ops: integrity / recommender / seasonal family ----------


def test_integrity_and_recommender_flow_ops(spark):
    """The integrity + recommender + seasonal functions are reachable
    from YAML flows with the library functions' exact semantics."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")

    ka = parse_operation({
        "operation_type": "k_anonymity",
        "quasi_columns": ["c_nationkey", "c_mktsegment"], "k": 5,
    })
    viol = apply_operations(cust, [ka], spark)
    assert set(viol.columns) == {"c_nationkey", "c_mktsegment", "group_size"}
    assert all(r.group_size < 5 for r in viol.collect())

    bf = parse_operation({"operation_type": "benford", "input_column": "user_id"})
    audit = apply_operations(ev, [bf], spark)
    rows = audit.collect()
    assert 0 < len(rows) <= 9
    assert abs(sum(r.obs_frac for r in rows) - 1.0) < 1e-9

    sb = parse_operation({
        "operation_type": "seasonal_baseline", "key_column": "event_type",
    })
    prof = apply_operations(ev, [sb], spark)
    assert set(prof.columns) == {"key", "dow", "n_events", "mean_value", "lift"}
    assert prof.count() > 0

    ac = parse_operation({"operation_type": "autocorr", "max_lag": 3})
    lags = apply_operations(ev, [ac], spark)
    assert sorted(r.lag for r in lags.collect()) == [1, 2, 3]

    sim = parse_operation({
        "operation_type": "item_similarity", "user_column": "user_id",
        "item_column": "event_type",
    })
    sims = apply_operations(ev, [sim], spark).collect()
    assert sims and all(0.0 < r.cosine <= 1.0 for r in sims)

    lp = parse_operation({
        "operation_type": "link_prediction", "group_column": "user_id",
        "item_column": "event_type", "k": 5,
    })
    top = apply_operations(ev, [lp], spark).collect()
    assert 0 < len(top) <= 5
    assert all(0.0 < r.jaccard <= 1.0 for r in top)

    # spec validation fails loudly at parse time
    with pytest.raises(SpecError, match="quasi_columns"):
        parse_operation({"operation_type": "k_anonymity", "k": 5})
    with pytest.raises(SpecError, match="k must be"):
        parse_operation({"operation_type": "k_anonymity",
                         "quasi_columns": ["a"], "k": 0})
    with pytest.raises(SpecError, match="input_column"):
        parse_operation({"operation_type": "benford"})
    with pytest.raises(SpecError, match="parent"):
        parse_operation({"operation_type": "fk_check", "child_key": "x"})
    with pytest.raises(SpecError, match="max_lag"):
        parse_operation({"operation_type": "autocorr", "max_lag": 0})


def test_yaml_fk_check_cross_input(spark):
    """fk_check resolves the parent like bind's right side (named
    input) and lands the 1-row audit."""
    from openetlagent_spark.model import (
        ColumnDefinition, FileDefinition, FileSchema,
    )

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    inputs = {
        "orders": FileDefinition(
            path=f"{SF}/orders.parquet", format="parquet",
            file_schema=FileSchema(
                name="orders",
                columns={"o_orderkey": ColumnDefinition(type="integer")},
            ),
        )
    }
    fk = parse_operation({
        "operation_type": "fk_check", "child_key": "l_orderkey",
        "parent_path": "orders", "parent_key": "o_orderkey",
    })
    [row] = apply_operations(li, [fk], spark, inputs=inputs).collect()
    assert row.relationship == "l_orderkey->o_orderkey"
    assert row.child_rows == li.count()
    assert row.orphan_rows == 0 and row.null_keys == 0


def test_experiment_stats_flow_ops(spark):
    """ab_test / ks_test reach YAML flows with the library functions'
    exact semantics."""
    ev = spark.read.parquet(f"{SF}/events.parquet")

    ab = parse_operation({
        "operation_type": "ab_test", "cohort_column": "event_type",
        "cohort_a": "purchase", "cohort_b": "click",
    })
    [row] = apply_operations(ev, [ab], spark).collect()
    assert row.n_a > 0 and row.n_b > 0 and row.var_a > 0.0

    ks = parse_operation({
        "operation_type": "ks_test", "cohort_column": "event_type",
        "cohort_a": "purchase", "cohort_b": "click",
    })
    [krow] = apply_operations(ev, [ks], spark).collect()
    assert 0.0 <= krow.ks_d <= 1.0 and krow.ks_stat >= 0.0

    with pytest.raises(SpecError, match="cohort"):
        parse_operation({"operation_type": "ab_test", "cohort_column": "c",
                         "cohort_a": "x", "cohort_b": "x"})
    with pytest.raises(SpecError, match="cohort"):
        parse_operation({"operation_type": "ks_test", "cohort_column": "c",
                         "cohort_a": "x"})


def test_media_features_flow_op(spark):
    """media_features reaches YAML flows: decode of built-in payloads
    (image BMP + audio WAV) with no decoder field, the id/mime
    plumbing, and the spec guards."""
    import numpy as np
    from pyspark.sql import Row

    from openetlagent_spark.functions.multimodal import (
        encode_gray_bmp,
        encode_wav_pcm8,
    )

    img = encode_gray_bmp(np.full((2, 4), 32, dtype=np.uint8))
    media = spark.createDataFrame(
        [
            Row(media_id=1, payload=bytearray(img), mime="image/bmp"),
            Row(media_id=2, payload=bytearray(b""), mime="image/bmp"),
        ]
    )
    op = parse_operation({
        "operation_type": "media_features", "modality": "image", "dim": 16,
    })
    rows = {r.media_id: r for r in apply_operations(media, [op], spark).collect()}
    assert rows[1].n_pixels == 8
    assert rows[1].feature[2] == 1.0  # all pixels = 32 -> bin 2
    assert rows[2].n_pixels == 0 and not any(rows[2].feature)

    wav = encode_wav_pcm8(np.full(100, 200, dtype=np.uint8), 8000)
    audio = spark.createDataFrame(
        [Row(media_id=7, payload=bytearray(wav), mime="audio/wav")]
    )
    aop = parse_operation({
        "operation_type": "media_features", "modality": "audio",
    })
    [arow] = apply_operations(audio, [aop], spark).collect()
    assert arow.n_samples == 100 and arow.feature[200 // 16] == 1.0

    with pytest.raises(SpecError, match="modality"):
        parse_operation({"operation_type": "media_features", "modality": "video"})
    # strict needs no other field: there is one decode path
    assert parse_operation({"operation_type": "media_features", "strict": True}).strict


def test_ann_store_flow_ops(spark, tmp_path):
    """The persisted ANN index lifecycle reaches YAML flows (r11
    VERDICT task 7): build/serve/append as flow ops match the direct
    library calls bit-for-bit, and the query op auto-detects store
    kind from meta."""
    from pyspark.sql import functions as F

    from openetlagent_spark.functions.similarity import (
        ann_from_store,
        append_to_ann_store,
        build_ann_store,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    queries = emb.filter(F.col("vec_id") < 20)

    flow_store = str(tmp_path / "flow_store")
    lib_store = str(tmp_path / "lib_store")

    # build: flow-op manifest == read-back of the direct library build
    manifest = apply_operations(
        corpus,
        [parse_operation({
            "operation_type": "ann_store_build", "store_path": flow_store,
            "n_centroids": 8,
        })],
        spark,
    )
    assert manifest.columns == ["cid", "n_vectors"]
    build_ann_store(corpus, lib_store, n_centroids=8)
    lib_manifest = (
        spark.read.parquet(f"{lib_store}/lists")
        .groupBy(F.col("cid").cast("int").alias("cid")).count()
    )
    assert sorted(map(tuple, manifest.collect())) == sorted(
        (r["cid"], r["count"]) for r in lib_manifest.collect()
    )

    # query: flow op == direct serve, same store
    via_q = apply_operations(
        queries,
        [parse_operation({
            "operation_type": "ann_store_query", "store_path": flow_store,
            "k": 5, "nprobe": 3,
        })],
        spark,
    )
    direct_q = ann_from_store(spark, flow_store, queries, k=5, nprobe=3)
    assert via_q.columns == ["query_id", "neighbor_id", "rank", "cosine"]
    assert sorted(map(tuple, via_q.collect())) == sorted(
        map(tuple, direct_q.collect())
    )

    # append: flow-op manifest reflects the grown lists, and serving
    # the grown store matches the direct-library composition
    manifest2 = apply_operations(
        batch,
        [parse_operation({
            "operation_type": "ann_store_append", "store_path": flow_store,
        })],
        spark,
    )
    append_to_ann_store(batch, lib_store)
    total = sum(r["n_vectors"] for r in manifest2.collect())
    assert total == corpus.filter(F.col("embedding").isNotNull()).count() + \
        batch.filter(F.col("embedding").isNotNull()).count()
    via_q2 = apply_operations(
        queries,
        [parse_operation({
            "operation_type": "ann_store_query", "store_path": flow_store,
            "k": 5, "nprobe": 3,
        })],
        spark,
    )
    direct_q2 = ann_from_store(spark, lib_store, queries, k=5, nprobe=3)
    assert sorted(map(tuple, via_q2.collect())) == sorted(
        map(tuple, direct_q2.collect())
    )


def test_ann_store_flow_ops_pq_kind(spark, tmp_path):
    """kind='pq' builds the IVF-PQ layout; the query op detects it from
    meta and routes to ann_pq_from_store; append refuses it loudly."""
    from pyspark.sql import functions as F

    from openetlagent_spark.functions.pq import ann_pq_from_store

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    store = str(tmp_path / "pq_store")

    apply_operations(
        emb,
        [parse_operation({
            "operation_type": "ann_store_build", "store_path": store,
            "kind": "pq", "n_centroids": 8, "m": 4, "k_codes": 8,
        })],
        spark,
    ).collect()

    via = apply_operations(
        queries,
        [parse_operation({
            "operation_type": "ann_store_query", "store_path": store,
            "k": 5, "nprobe": 3, "refine_factor": 2,
        })],
        spark,
    )
    direct = ann_pq_from_store(
        spark, store, queries, k=5, nprobe=3, refine_factor=2
    )
    assert sorted(map(tuple, via.collect())) == sorted(map(tuple, direct.collect()))

    with pytest.raises(ValueError, match="IVF-PQ"):
        apply_operations(
            queries,
            [parse_operation({
                "operation_type": "ann_store_append", "store_path": store,
            })],
            spark,
        ).collect()


def test_ann_store_spec_guards():
    for bad in (
        {"operation_type": "ann_store_build"},  # no path
        {"operation_type": "ann_store_build", "store_path": "p", "kind": "hnsw"},
        {"operation_type": "ann_store_build", "store_path": "p", "n_centroids": 0},
        {"operation_type": "ann_store_build", "store_path": "p",
         "kind": "pq", "k_codes": 1},
        {"operation_type": "ann_store_append"},  # no path
        {"operation_type": "ann_store_append", "store_path": "p", "id_column": ""},
        {"operation_type": "ann_store_query"},  # no path
        {"operation_type": "ann_store_query", "store_path": "p", "k": 0},
        {"operation_type": "ann_store_query", "store_path": "p", "nprobe": 0},
    ):
        with pytest.raises(SpecError):
            parse_operation(bad)


def test_ann_store_specs_roundtrip_yaml(tmp_path):
    """The three ANN-store specs survive the save/load YAML round-trip
    (the surface an agent-authored pipeline actually travels)."""
    ops = [
        {"operation_type": "ann_store_build", "store_path": "/data/ix",
         "kind": "pq", "n_centroids": 8, "m": 4, "k_codes": 8},
        {"operation_type": "ann_store_append", "store_path": "/data/ix",
         "id_column": "vid", "vector_column": "emb"},
        {"operation_type": "ann_store_query", "store_path": "/data/ix",
         "k": 7, "nprobe": 3, "refine_factor": 2},
    ]
    flow = PipelineFlow(
        source="embeddings", operations=[parse_operation(o) for o in ops]
    )
    path = str(tmp_path / "ann_flow.yaml")
    save_pipeline_flow(flow, path)
    back = load_pipeline_flow(path)
    assert [op.operation_type for op in back.operations] == [
        "ann_store_build", "ann_store_append", "ann_store_query"
    ]
    b, a, q = back.operations
    assert (b.kind, b.m, b.k_codes, b.n_centroids) == ("pq", 4, 8, 8)
    assert (a.id_column, a.vector_column) == ("vid", "emb")
    assert (q.k, q.nprobe, q.refine_factor) == (7, 3, 2)
