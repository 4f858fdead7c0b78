"""Curation operators: benchmark-contamination checking and sequence
packing (functions/curation.py)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from openetlagent_spark.functions.curation import contamination_check, pack_sequences

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


# --- contamination ----------------------------------------------------------


def test_self_contamination_is_total(spark):
    # A document checked against a benchmark containing itself overlaps
    # on every shingle.
    docs = _docs(spark).limit(20)
    out = contamination_check(docs, docs, rate_threshold=0.99)
    rows = out.collect()
    assert len(rows) == 20
    assert all(r["contamination_rate"] == 1.0 for r in rows)
    assert all(r["contaminated"] for r in rows)
    assert all(r["n_hits"] == r["n_shingles"] for r in rows)


def test_zero_hit_docs_survive_with_rate_zero(spark):
    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") < 30)
    bench = spark.createDataFrame(
        [(999999, "completely disjoint vocabulary zz qq xx ww vv uu tt ss rr")],
        "doc_id long, text string",
    )
    out = contamination_check(corpus, bench)
    rows = out.collect()
    # every corpus doc must appear, none dropped by the hit join
    assert len(rows) == corpus.count()
    assert all(r["n_hits"] == 0 and r["contamination_rate"] == 0.0 for r in rows)
    assert not any(r["contaminated"] for r in rows)


def test_contamination_flags_near_dups_only(spark):
    # sf0.001 documents contain deliberate near-dup replicas; a
    # benchmark slice should contaminate its replicas (~0.9 overlap)
    # but not unrelated word-soup docs (~0.05 noise).
    docs = _docs(spark)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    rows = contamination_check(corpus, bench, rate_threshold=0.5).collect()
    rates = sorted(r["contamination_rate"] for r in rows)
    assert rates[0] < 0.3, "unrelated docs must score low"
    flagged = [r for r in rows if r["contaminated"]]
    clean = [r for r in rows if not r["contaminated"]]
    assert clean, "noise-level docs must stay clean"
    for r in flagged:
        assert r["contamination_rate"] >= 0.5


# --- sequence packing -------------------------------------------------------


def _naive_packing(spark, df, ctx):
    """Single-window reference formulation (correct, but serial at
    scale) for equivalence checks."""
    toks = F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base = df.select("doc_id", toks.alias("n_tokens"))
    off = base.withColumn(
        "start_offset", (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long")
    )
    chunk = F.floor(F.col("start_offset") / F.lit(float(ctx))).cast("long")
    last = F.floor(
        (F.col("start_offset") + F.col("n_tokens") - F.lit(1)) / F.lit(float(ctx))
    ).cast("long")
    return off.select(
        "doc_id",
        "n_tokens",
        "start_offset",
        chunk.alias("chunk_id"),
        F.when(F.col("n_tokens") == 0, F.lit(0).cast("long"))
        .otherwise(last - chunk + F.lit(1))
        .alias("n_chunks"),
    )


def test_two_phase_scan_matches_single_window(spark):
    docs = _docs(spark)
    got = {r["doc_id"]: r for r in pack_sequences(docs, ctx=128).collect()}
    want = {r["doc_id"]: r for r in _naive_packing(spark, docs, 128).collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], f"doc {k}: {got[k]} != {want[k]}"


def test_packing_is_partitioning_independent(spark):
    # The two-phase scan's offsets must not depend on how the input
    # arrives — range repartition re-establishes the global order.
    docs = _docs(spark)
    a = sorted(pack_sequences(docs, ctx=256).collect())
    b = sorted(pack_sequences(docs.repartition(7), ctx=256).collect())
    assert a == b


def test_packing_layout_invariants(spark):
    rows = sorted(pack_sequences(_docs(spark), ctx=512).collect())
    # documents lie end-to-end: each starts where the previous ended
    pos = 0
    for r in rows:
        assert r["start_offset"] == pos
        pos += r["n_tokens"]
        if r["n_tokens"] > 0:
            # chunk span matches the token interval the doc occupies
            first = r["start_offset"] // 512
            last = (r["start_offset"] + r["n_tokens"] - 1) // 512
            assert r["chunk_id"] == first
            assert r["n_chunks"] == last - first + 1


def test_packing_empty_doc(spark):
    df = spark.createDataFrame(
        [(1, "three token doc"), (2, ""), (3, "one")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pack_sequences(df, ctx=2).collect()}
    assert rows[1]["n_tokens"] == 3 and rows[1]["n_chunks"] == 2
    assert rows[2]["n_tokens"] == 0 and rows[2]["n_chunks"] == 0
    assert rows[2]["start_offset"] == 3
    assert rows[3]["start_offset"] == 3 and rows[3]["chunk_id"] == 1


# --- text scrubbing ---------------------------------------------------------


def test_scrub_default_rules(spark):
    from openetlagent_spark.functions.curation import scrub_text

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "see https://a.b/c?d=1 and http://plain.io"),
            (3, "host 192.168.0.1 port 8080"),
            (4, "clean text stays clean"),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["s"] for r in df.select("id", scrub_text(F.col("text")).alias("s")).collect()}
    assert got[1] == "mail <EMAIL> now"
    assert got[2] == "see <URL> and <URL>"
    # IP rewritten BEFORE the digit-run rule; remaining digits redacted
    assert got[3] == "host <IP> port <NUM>"
    assert got[4] == "clean text stays clean"


def test_scrub_custom_rules_and_order(spark):
    from openetlagent_spark.functions.curation import scrub_text

    df = spark.createDataFrame([(1, "abc abc")], "id long, text string")
    # order matters: first rule consumes, second sees its output
    out = df.select(
        scrub_text(F.col("text"), [("abc", "x"), ("x x", "y")]).alias("s")
    ).collect()[0]["s"]
    assert out == "y"


def test_scrub_flow_op(spark):
    from openetlagent_spark.model import parse_operation
    from openetlagent_spark.runner import apply_operations

    df = spark.createDataFrame(
        [(1, "id 12345 mail a@b.co")], "id long, text string"
    )
    op = parse_operation(
        {"operation_type": "scrub", "input_column": "text",
         "output_column": "clean", "rules": []}
    )
    row = apply_operations(df, [op], spark).collect()[0]
    assert row["text"] == "id 12345 mail a@b.co"  # original preserved
    assert row["clean"] == "id <NUM> mail <EMAIL>"

    import pytest
    from openetlagent_spark.model import SpecError
    with pytest.raises(SpecError):
        parse_operation({"operation_type": "scrub", "rules": [["only-pattern"]]})


# --- global training-order shuffle ------------------------------------------


def test_global_shuffle_is_exact_permutation(spark):
    from openetlagent_spark.functions.curation import global_shuffle

    docs = _docs(spark).select("doc_id")
    n = docs.count()
    out = global_shuffle(docs, "doc_id", seed=7)
    rows = out.collect()
    assert sorted(r["position"] for r in rows) == list(range(1, n + 1))
    # rank order must equal lexicographic order of the shuffle keys
    by_pos = sorted(rows, key=lambda r: r["position"])
    keys = [(r["shuffle_key"], r["doc_id"]) for r in by_pos]
    assert keys == sorted(keys)


def test_global_shuffle_partitioning_independent(spark):
    from openetlagent_spark.functions.curation import global_shuffle

    docs = _docs(spark).select("doc_id")
    a = {r["doc_id"]: r["position"] for r in global_shuffle(docs, "doc_id").collect()}
    b = {
        r["doc_id"]: r["position"]
        for r in global_shuffle(docs.repartition(7), "doc_id").collect()
    }
    assert a == b


def test_global_shuffle_seed_draws_new_permutation(spark):
    from openetlagent_spark.functions.curation import global_shuffle

    docs = _docs(spark).select("doc_id").limit(50)
    a = {r["doc_id"]: r["position"] for r in global_shuffle(docs, "doc_id", seed=1).collect()}
    b = {r["doc_id"]: r["position"] for r in global_shuffle(docs, "doc_id", seed=2).collect()}
    assert a != b
    assert sorted(a.values()) == sorted(b.values())


# --- per-group quantile filtering -------------------------------------------


def test_quantile_filter_median_keeps_upper_half(spark):
    from openetlagent_spark.functions.curation import quantile_filter

    df = spark.createDataFrame(
        [("a", i) for i in range(1, 11)] + [("b", i) for i in (10, 20, 30)],
        "g string, v long",
    )
    out = quantile_filter(df, ["g"], "v", q=0.5, threshold_column="thr")
    rows = out.collect()
    a = sorted(r["v"] for r in rows if r["g"] == "a")
    b = sorted(r["v"] for r in rows if r["g"] == "b")
    # group a: median of 1..10 is 5.5 -> keep 6..10; group b: median 20
    assert a == [6, 7, 8, 9, 10]
    assert b == [20, 30]
    assert all(r["thr"] == 5.5 for r in rows if r["g"] == "a")


def test_quantile_filter_drops_null_groups_and_values(spark):
    from openetlagent_spark.functions.curation import quantile_filter

    df = spark.createDataFrame(
        [("a", 1), ("a", 100), (None, 1000), ("a", None)],
        "g string, v long",
    )
    out = quantile_filter(df, ["g"], "v", q=0.5)
    assert [r["v"] for r in out.collect()] == [100]


def test_quantile_filter_validates_inputs(spark):
    import pytest

    from openetlagent_spark.functions.curation import quantile_filter

    df = spark.createDataFrame([("a", 1)], "g string, v long")
    with pytest.raises(ValueError):
        quantile_filter(df, [], "v")
    with pytest.raises(ValueError):
        quantile_filter(df, ["g"], "v", q=1.0)


# --- near-duplicate contamination -------------------------------------------


def _near_corpus(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base + " lambda"),                    # near-dup of bench 100
        (2, "totally different words here nothing shared at all ok"),
    ]
    bench = [(100, base + " mu")]                 # paraphrase of corpus 1
    c = spark.createDataFrame(rows, "doc_id long, text string")
    b = spark.createDataFrame(bench, "doc_id long, text string")
    return c, b


def test_near_contamination_catches_paraphrase(spark):
    from openetlagent_spark.functions.curation import near_contamination

    c, b = _near_corpus(spark)
    out = near_contamination(c, b, "doc_id", "text", threshold=0.3).collect()
    assert [(r["corpus_id"], r["bench_id"]) for r in out] == [(1, 100)]
    assert 0.3 <= out[0]["jaccard"] <= 1.0


def test_near_contamination_exact_check_misses_it(spark):
    # the same planted paraphrase passes the EXACT contamination gate
    # at a high rate threshold only because most shingles still match;
    # shifting every token breaks exact overlap but not minhash banding
    from openetlagent_spark.functions.curation import (
        contamination_check,
        near_contamination,
    )

    c = spark.createDataFrame(
        [(1, "zz alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    near = near_contamination(c, b, "doc_id", "text", threshold=0.5).collect()
    assert [(r["corpus_id"], r["bench_id"]) for r in near] == [(1, 100)]
    exact = contamination_check(c, b, rate_threshold=0.99).collect()
    # the leading token shifts ~2 of 8 shingles, so the 0.99-rate exact
    # gate does NOT flag it — the near check is strictly more sensitive
    assert not any(r["contaminated"] for r in exact)


def test_near_contamination_flow_filter_mode(spark, tmp_path):
    from openetlagent_spark.model import ContaminationOperation
    from openetlagent_spark.operators import apply_contamination

    c, b = _near_corpus(spark)
    op = ContaminationOperation(
        benchmark_path="bench",
        strategy="near",
        mode="filter",
        jaccard_threshold=0.3,
    )
    out = apply_contamination(c, op, spark, {"bench": b})
    assert sorted(r["doc_id"] for r in out.collect()) == [2]
    assert out.columns == c.columns


def test_near_contamination_strategy_validation(spark):
    import pytest

    from openetlagent_spark.model import ContaminationOperation, SpecError

    with pytest.raises(SpecError):
        ContaminationOperation(benchmark_path="b", strategy="fuzzy")
    with pytest.raises(SpecError):
        ContaminationOperation(benchmark_path="b", strategy="near", num_perm=10, bands=4)


def test_near_contamination_same_id_across_sides(spark):
    # a benchmark row sharing its id with a corpus row must still pair
    # (struct (side, id) keying; a plain-id key would silently miss it)
    from openetlagent_spark.functions.curation import near_contamination

    txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    c = spark.createDataFrame([(5, txt)], "doc_id long, text string")
    b = spark.createDataFrame([(5, txt)], "doc_id long, text string")
    out = near_contamination(c, b, "doc_id", "text", threshold=0.9).collect()
    assert [(r["corpus_id"], r["bench_id"], r["jaccard"]) for r in out] == [(5, 5, 1.0)]


def test_line_dedup_strips_shared_lines_preserves_blanks(spark):
    from pyspark.sql import Row

    from openetlagent_spark.functions.curation import line_dedup

    boiler = "Cookie notice: accept all"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"{boiler}\nunique one\n\nunique two"),
            Row(doc_id=2, text=f"{boiler}\nother body"),
            Row(doc_id=3, text="totally distinct\n\n"),
            Row(doc_id=4, text=boiler),  # all-boilerplate doc
            Row(doc_id=5, text=None),    # NULL text drops
        ]
    )
    out = {r.doc_id: r for r in line_dedup(docs).collect()}
    assert set(out) == {1, 2, 3, 4}
    # the shared line is stripped everywhere; blanks survive
    assert out[1].text_clean == "unique one\n\nunique two"
    assert out[1].n_lines == 4 and out[1].n_removed == 1
    assert out[2].text_clean == "other body"
    # untouched doc keeps its text verbatim, including trailing blanks
    assert out[3].text_clean == "totally distinct\n\n"
    assert out[3].n_removed == 0
    # every line boilerplate → empty string, fully accounted
    assert out[4].text_clean == "" and out[4].n_removed == 1


def test_line_dedup_normalizes_case_and_whitespace(spark):
    from pyspark.sql import Row

    from openetlagent_spark.functions.curation import line_dedup

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="  Footer Text  \nbody a"),
            Row(doc_id=2, text="footer text\nbody b"),
        ]
    )
    out = {r.doc_id: r for r in line_dedup(docs).collect()}
    # case/whitespace variants collapse to one key → both stripped,
    # and each doc keeps its own (verbatim) surviving line
    assert out[1].text_clean == "body a" and out[2].text_clean == "body b"


def test_line_dedup_max_docs_threshold(spark):
    from pyspark.sql import Row

    from openetlagent_spark.functions.curation import line_dedup

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"shared line\nbody {i}") for i in range(3)]
    )
    keep2 = {r.doc_id: r for r in line_dedup(docs, max_docs=3).collect()}
    assert all(r.n_removed == 0 for r in keep2.values())  # df=3 not > 3
    strip = {r.doc_id: r for r in line_dedup(docs, max_docs=2).collect()}
    assert all(r.n_removed == 1 for r in strip.values())

    import pytest as _pytest

    with _pytest.raises(ValueError):
        line_dedup(docs, max_docs=0)


def test_curriculum_order_is_total_and_partition_independent(spark):
    from pyspark.sql import Row

    from openetlagent_spark.functions.curation import curriculum_order

    rows = [Row(doc_id=i, score=float(i % 7) if i % 11 else None) for i in range(50)]
    df = spark.createDataFrame(rows)
    out = {r.doc_id: r for r in curriculum_order(df, "score", "doc_id", batch_size=8).collect()}
    assert sorted(r.position for r in out.values()) == list(range(1, 51))
    # highest score first; NULLs last; id tie-break
    ordered = sorted(out.values(), key=lambda r: r.position)
    keyed = [((-r.score if r.score is not None else float("inf")), r.doc_id) for r in ordered]
    assert keyed == sorted(keyed)
    assert all(r.batch_id == (r.position - 1) // 8 for r in ordered)
    # identical permutation under different partitioning
    re = {r.doc_id: r.position for r in curriculum_order(df.repartition(13), "score", "doc_id").collect()}
    assert re == {k: v.position for k, v in out.items()}
    # ascending mode reverses the non-null segment
    asc = sorted(
        curriculum_order(df, "score", "doc_id", ascending=True).collect(),
        key=lambda r: r.position,
    )
    non_null = [r.score for r in asc if r.score is not None]
    assert non_null == sorted(non_null)
    assert all(r.score is None for r in asc[len(non_null):])

    import pytest as _pytest

    with _pytest.raises(ValueError):
        curriculum_order(df, "score", "doc_id", batch_size=0)


def test_doc_novelty_planted_signals(spark):
    from pyspark.sql import Row

    from openetlagent_spark.functions.curation import doc_novelty

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame([
        Row(doc_id=1, text=shared),
        Row(doc_id=2, text=shared),                      # exact dup: novelty 0
        Row(doc_id=3, text="wholly original words nobody else ever wrote here"),
        Row(doc_id=4, text=None),                        # drops
    ])
    out = {r.doc_id: r for r in doc_novelty(docs).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].novelty_rate == 0.0 and out[2].novelty_rate == 0.0
    assert out[3].novelty_rate == 1.0
    assert out[3].n_unique == out[3].n_shingles


def test_source_overlap_mirror_detection(spark):
    from pyspark.sql import Row

    from openetlagent_spark.functions.curation import source_overlap

    body = "the quick brown fox jumps over the lazy dog today again"
    docs = spark.createDataFrame([
        Row(source="siteA", text=body),
        Row(source="mirrorA", text=body),                # full mirror
        Row(source="other", text="entirely different content lives here now"),
    ])
    rows = {(r.source_a, r.source_b): r for r in source_overlap(docs).collect()}
    mirror = rows[("mirrorA", "siteA")]
    assert mirror.jaccard == 1.0 and mirror.n_common == mirror.n_a == mirror.n_b
    for k, r in rows.items():
        if k != ("mirrorA", "siteA"):
            assert r.jaccard == 0.0 or r.n_common < r.n_a


def test_line_dedup_per_group_and_min_df_floor(spark):
    """group_col: df counted within each language — a line shared
    across languages but rare inside each survives; min_df: a repeated
    line below the floor survives even past max_docs."""
    from openetlagent_spark.functions.curation import line_dedup

    rows = [
        # 'footer en' in 3 en docs (df=3); 'promo' once per lang (df=1
        # within lang, 2 corpus-wide)
        (0, "en", "alpha\nfooter en\npromo"),
        (1, "en", "beta\nfooter en\npromo_x"),
        (2, "en", "gamma\nfooter en"),
        (3, "fr", "delta\npromo"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {
        r.doc_id: r.text_clean
        for r in line_dedup(
            df, "doc_id", "text", max_docs=1, group_col="lang"
        ).collect()
    }
    assert out[0] == "alpha\npromo"          # footer stripped, promo kept (per-lang df=1)
    assert out[2] == "gamma"
    assert out[3] == "delta\npromo"          # fr never saw a repeated line

    # min_df floor: footer df=3 > max_docs but < min_df=4 → survives
    out2 = {
        r.doc_id: r.text_clean
        for r in line_dedup(
            df, "doc_id", "text", max_docs=1, group_col="lang", min_df=4
        ).collect()
    }
    assert out2[0] == "alpha\nfooter en\npromo"
    # min_df=3 → footer strips again
    out3 = {
        r.doc_id: r.text_clean
        for r in line_dedup(
            df, "doc_id", "text", max_docs=1, group_col="lang", min_df=3
        ).collect()
    }
    assert out3[0] == "alpha\npromo"


def test_html_to_text_contract(spark):
    from openetlagent_spark.functions.curation import html_to_text
    from pyspark.sql import functions as F

    cases = {
        # scripts/styles/comments vanish wholesale, tags drop, entities decode
        '<p>a &amp; b</p><script>x=1;</script>': "a & b",
        '<STYLE>b{}</STYLE><div>hi</div>': "hi",
        '<!-- note --><b>bold</b> text': "bold text",
        # block closers preserve line structure
        '<p>one</p><p>two</p>': "one\ntwo",
        # &amp;lt; decodes exactly once (single-pass contract)
        'x &amp;lt; y': "x &lt; y",
        # whitespace collapse + trim
        '  <p>  spaced   out  </p>  ': "spaced out",
        'plain no markup': "plain no markup",
    }
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(cases)], "i long, html string"
    )
    got = {r.i: r.t for r in df.select("i", html_to_text(F.col("html")).alias("t")).collect()}
    for i, h in enumerate(cases):
        assert got[i] == cases[h], (h, got[i])


def test_token_budget_sample_semantics(spark):
    """Greedy hash-order prefix per group: the keep set equals the
    literal Python mirror, budget overrides apply per group, NULL
    token counts weigh 0, and the result is repartition-invariant."""
    import hashlib

    from openetlagent_spark.functions.curation import token_budget_sample

    rows = [
        ("a", i, 10 if i != 7 else None) for i in range(10)
    ] + [("b", 100 + i, 25) for i in range(6)]
    df = spark.createDataFrame(rows, "src string, doc_id long, toks long")

    def mirror(budget, budgets=None):
        out = {}
        bygroup = {}
        for g, i, t in rows:
            bygroup.setdefault(g, []).append((hashlib.md5(str(i).encode()).hexdigest(), i, t or 0))
        for g, items in bygroup.items():
            b = (budgets or {}).get(g, budget)
            cum = 0
            for _, i, t in sorted(items):
                if cum < b:  # row starts inside the budget
                    out[i] = cum + t
                cum += t
        return out

    got = {
        r.doc_id: r.cum_tokens
        for r in token_budget_sample(df, "src", "toks", 45, "doc_id").collect()
    }
    assert got == mirror(45)

    over = {
        r.doc_id: r.cum_tokens
        for r in token_budget_sample(
            df, "src", "toks", 45, "doc_id", budgets={"b": 60}
        ).collect()
    }
    assert over == mirror(45, {"b": 60})

    rep = {
        r.doc_id: r.cum_tokens
        for r in token_budget_sample(df.repartition(7), "src", "toks", 45, "doc_id").collect()
    }
    assert rep == got


def test_weighted_sample_quota_and_determinism(spark):
    """Exact k per group, identical set under repartitioning, NULL /
    non-positive weights excluded (functions/curation.py
    weighted_sample)."""
    from pyspark.sql import Row

    from openetlagent_spark.functions.curation import weighted_sample

    rows = [Row(id=i, grp="a" if i % 2 else "b", w=float(1 + i % 7)) for i in range(120)]
    rows += [Row(id=200, grp="a", w=None), Row(id=201, grp="a", w=0.0),
             Row(id=202, grp="a", w=-3.0)]
    df = spark.createDataFrame(rows)
    out = weighted_sample(df, ["grp"], "id", "w", k=10)
    got = sorted((r.grp, r.id) for r in out.collect())
    assert len(got) == 20
    assert all(i < 200 for _, i in got)  # invalid weights never sampled
    again = weighted_sample(df.repartition(13), ["grp"], "id", "w", k=10)
    assert sorted((r.grp, r.id) for r in again.collect()) == got


def test_weighted_sample_prefers_heavy_rows(spark):
    """A row with overwhelming weight has rank h/w ~ 0 and must be
    selected; with k=1 it IS the sample (deterministic given the fixed
    hash — h <= 2^52 while w differs by 10^9)."""
    from pyspark.sql import Row

    from openetlagent_spark.functions.curation import weighted_sample

    df = spark.createDataFrame(
        [Row(id=i, grp="g", w=1.0) for i in range(50)]
        + [Row(id=999, grp="g", w=1e18)]
    )
    out = weighted_sample(df, ["grp"], "id", "w", k=1)
    assert [r.id for r in out.collect()] == [999]


def test_weighted_sample_uniform_weights_match_ordering_invariance(spark):
    """With equal weights the rank order reduces to the pure hash
    order, so the sample is a uniform hash sample — the
    stratified_sample special case (same SIZE and determinism; the
    hash differs by the weight division but ordering is h-monotone)."""
    from pyspark.sql import Row

    from openetlagent_spark.functions.curation import weighted_sample

    df = spark.createDataFrame([Row(id=i, grp="g", w=2.0) for i in range(80)])
    a = {r.id for r in weighted_sample(df, ["grp"], "id", "w", k=15).collect()}
    b = {r.id for r in weighted_sample(df, ["grp"], "id", "w", k=15, seed=43).collect()}
    assert len(a) == 15 and len(b) == 15
    assert a != b  # seed moves the sample


def test_weighted_sample_validation_and_flow_op(spark):
    import pytest
    from pyspark.sql import Row

    from openetlagent_spark.functions.curation import weighted_sample
    from openetlagent_spark.model import SpecError, parse_operation
    from openetlagent_spark.runner import apply_operations

    df = spark.createDataFrame([Row(id=1, grp="g", w=1.0)])
    with pytest.raises(ValueError, match="k must be positive"):
        weighted_sample(df, ["grp"], "id", "w", k=0)
    with pytest.raises(ValueError, match="requires group_cols"):
        weighted_sample(df, [], "id", "w", k=1)

    big = spark.createDataFrame(
        [Row(id=i, grp="a" if i % 2 else "b", w=float(1 + i % 5)) for i in range(60)]
    )
    op = parse_operation({
        "operation_type": "weighted_sample", "group_columns": ["grp"],
        "key_column": "id", "weight_column": "w", "k": 5,
        "rank_column": "rank",
    })
    out = apply_operations(big, [op], spark)
    assert out.count() == 10 and "rank" in out.columns
    lib = weighted_sample(big, ["grp"], "id", "w", 5, rank_column="rank")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, lib.collect()))

    with pytest.raises(SpecError, match="weight_column"):
        parse_operation({
            "operation_type": "weighted_sample", "group_columns": ["grp"],
            "key_column": "id", "k": 5,
        })
    with pytest.raises(SpecError, match="k must be positive"):
        parse_operation({
            "operation_type": "weighted_sample", "group_columns": ["grp"],
            "key_column": "id", "weight_column": "w",
        })


# --- two_phase_group_rank (round 10) -----------------------------------------


def test_two_phase_group_rank_matches_single_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from openetlagent_spark.functions.curation import two_phase_group_rank

    rows = [(i, ["A", "N", "R"][i % 3], (i * 37) % 101) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, flag string, v long")
    got = {
        r["id"]: (r["rnk"], r["n"])
        for r in two_phase_group_rank(
            df, ["flag"], [F.col("v"), F.col("id")], "rnk", count_column="n"
        ).collect()
    }
    w = Window.partitionBy("flag").orderBy("v", "id")
    ref = df.withColumn("rnk", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("flag"))
    )
    want = {r["id"]: (r["rnk"], r["n"]) for r in ref.collect()}
    assert got == want


def test_two_phase_group_rank_partitioning_independent(spark):
    from pyspark.sql import functions as F

    from openetlagent_spark.functions.curation import two_phase_group_rank

    rows = [(i, "g" + str(i % 2), (i * 13) % 53) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, g string, v long")
    a = sorted(
        two_phase_group_rank(df, ["g"], [F.col("v"), F.col("id")], "rnk").collect()
    )
    b = sorted(
        two_phase_group_rank(
            df.repartition(7), ["g"], [F.col("v"), F.col("id")], "rnk"
        ).collect()
    )
    assert a == b


def test_two_phase_prefix_sums_matches_window(spark):
    from pyspark.sql import Window, functions as F
    from openetlagent_spark.functions.curation import two_phase_prefix_sums

    df = spark.createDataFrame(
        [(i, (i * 7) % 13, (i * 3) % 5) for i in range(200)], "k int, a int, b int"
    )
    got = two_phase_prefix_sums(df, [F.col("k")], ["a", "b"]).collect()
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    ref = df.withColumn("_x_cum_a", F.sum("a").over(w)).withColumn(
        "_x_cum_b", F.sum("b").over(w)
    ).collect()
    gm = {r.k: (r._x_cum_a, r._x_cum_b) for r in got}
    rm = {r.k: (r._x_cum_a, r._x_cum_b) for r in ref}
    assert gm == rm


def test_ks_test_identical_and_disjoint(spark):
    from pyspark.sql import functions as F
    from openetlagent_spark.plans.analytics import q_ks_test
    import tempfile, os
    # identical distributions -> D = 0; disjoint supports -> D = 1
    rows = []
    eid = 0
    for v in (1.0, 2.0, 3.0):
        for t in ("purchase", "click"):
            eid += 1
            rows.append((eid, 1, "2024-01-01 00:00:00", t, v))
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts string, event_type string, value double"
    ).select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
             "event_type", "value")
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    [row] = q_ks_test(spark, d).collect()
    assert (row.n_a, row.n_b, row.ks_d) == (3, 3, 0.0)

    rows2 = [(1, 1, "2024-01-01 00:00:00", "purchase", 1.0),
             (2, 1, "2024-01-01 00:00:00", "click", 9.0)]
    df2 = spark.createDataFrame(
        rows2, "event_id bigint, user_id bigint, ts string, event_type string, value double"
    ).select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
             "event_type", "value")
    d2 = tempfile.mkdtemp()
    df2.write.mode("overwrite").parquet(os.path.join(d2, "events.parquet"))
    [row2] = q_ks_test(spark, d2).collect()
    assert row2.ks_d == 1.0
