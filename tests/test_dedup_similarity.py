"""Unit tests for dedup and similarity search on constructed corpora
with known duplicate structure."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from openetlagent_spark.functions.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    simhash_pairs,
    substring_run_pairs,
)
from openetlagent_spark.functions.similarity import cosine_topk, ivf_topk, lsh_topk

BASE = (
    "spark executes distributed dataframe pipelines with catalyst optimizing "
    "joins aggregations and scans across many partitions of columnar data "
    "while tungsten generates compact code for each stage of the physical plan"
)
NEAR_DUP = BASE.replace("compact", "efficient")  # one-word edit
UNRELATED = (
    "completely different content about cooking recipes with tomatoes basil "
    "olive oil garlic and fresh bread baked slowly in a warm stone oven"
)


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text=BASE),
            Row(doc_id=2, text=NEAR_DUP),
            Row(doc_id=3, text=UNRELATED),
            Row(doc_id=4, text=BASE),  # exact dup of 1
        ]
    )


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [Row(k="a", id=3), Row(k="a", id=1), Row(k="b", id=2)]
    )
    got = sorted((r.k, r.id) for r in exact_dedup(df, ["k"], "id").collect())
    assert got == [("a", 1), ("b", 2)]


def test_minhash_finds_near_and_exact_dups(corpus):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(
            corpus, "doc_id", "text", threshold=0.5, bands=16, rows_per_band=4, seed=42
        ).collect()
    }
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.5  # near dup
    assert not any(3 in p for p in pairs)  # unrelated never pairs


def test_simhash_hamming(corpus):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(corpus, "doc_id", "text", max_hamming=6).collect()
    }
    assert pairs[(1, 4)] == 0
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_ngram_jaccard_pairs(corpus):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(corpus, "doc_id", "text", threshold=0.8).collect()
    }
    assert pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_substring_run_pairs(corpus):
    # BASE and NEAR_DUP differ by one word mid-text, so they still share
    # long exact runs on both sides of the edit; 1/4 are byte-identical.
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in substring_run_pairs(corpus, "doc_id", "text", run_len=8).collect()
    }
    assert (1, 4) in pairs and (1, 2) in pairs and (2, 4) in pairs
    assert not any(3 in p for p in pairs)
    # the identical pair shares every run; the near-dup pair fewer
    assert pairs[(1, 4)] > pairs[(1, 2)]


def test_substring_run_pairs_min_shared_filters(corpus):
    loose = substring_run_pairs(corpus, "doc_id", "text", run_len=8)
    strict = substring_run_pairs(corpus, "doc_id", "text", run_len=8, min_shared=10_000)
    assert loose.count() > 0 and strict.count() == 0


def test_minhash_udf_matches_expression(spark):
    """The vectorized numpy signature (minhash_udf, one row per band)
    is value-identical to the JVM expression form (minhash_from_hashes)
    — the speedup must not change a single hash."""
    from pyspark.sql import functions as F

    from openetlagent_spark.functions.dedup import (
        minhash_from_hashes,
        minhash_udf,
        word_ngram_codes,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    h = df.select("doc_id", word_ngram_codes(F.col("text"), 3).alias("h"))
    both = h.select(
        minhash_from_hashes(F.col("h"), 16).alias("expr_sig"),
        minhash_udf(16, 1, 42)(F.col("h")).alias("udf_sig"),
    )
    assert both.filter("expr_sig IS DISTINCT FROM udf_sig").count() == 0


def test_minhash_dedup_strategy_validation():
    from openetlagent_spark.model import SpecError, parse_operation

    def spec(num_perm, bands):
        return {
            "operation_type": "dedup", "strategy": "minhash", "mode": "pairs",
            "id_column": "doc_id", "text_column": "text",
            "num_perm": num_perm, "bands": bands,
        }

    for num_perm in (8, 65):
        with pytest.raises(
            SpecError, match="num_perm must be a positive multiple of bands"
        ):
            parse_operation(spec(num_perm, 16))
    assert parse_operation(spec(64, 16)).num_perm == 64


@pytest.fixture(scope="module")
def vectors(spark):
    # 0 and 1 nearly parallel; 2 orthogonal; 3 anti-parallel to 0.
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.99, 0.1, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0, 0.0]),
        Row(vec_id=3, embedding=[-1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=4, embedding=[0.7, 0.7, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk_exact_ranking(vectors):
    out = cosine_topk(vectors, vectors.filter("vec_id = 0"), k=4)
    ranked = [r.neighbor_id for r in out.orderBy("rank").collect()]
    assert ranked == [1, 4, 2, 3]


def test_lsh_topk_subset_of_brute(vectors):
    # LSH may miss candidates (recall < 1) but must never invent wrong
    # ones: every returned neighbor's cosine ordering must be consistent.
    out = lsh_topk(vectors, vectors.filter("vec_id = 0"), k=4, n_planes=2, n_tables=4)
    rows = out.orderBy("rank").collect()
    cosines = [r.cosine for r in rows]
    assert cosines == sorted(cosines, reverse=True)


def test_ivf_topk_finds_nearest(vectors):
    out = ivf_topk(vectors, vectors.filter("vec_id = 0"), k=2, n_centroids=2, nprobe=2)
    top = out.orderBy("rank").first()
    assert top.neighbor_id == 1


def test_embedding_rademacher_matches_generated_oracle(spark):
    """Rademacher (±1 plane) sign-LSH: bucket assignment, candidate
    pairing, and the fold-order cosine verify are all bit-identical to
    the generated DuckDB oracle (the exactness dedup_embedding's
    harness check relies on)."""
    import duckdb

    from openetlagent_spark.functions.dedup import (
        embedding_neardup_pairs,
        embedding_pairs_oracle_sql,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    out = embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.3, seed=11
    )
    got = sorted((r.id_a, r.id_b, r.cosine) for r in out.collect())

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'")
    sql = embedding_pairs_oracle_sql(threshold=0.3, seed=11)
    want = sorted(tuple(t) for t in con.execute(sql).fetchall())
    assert got == want and len(got) > 0


def test_auto_n_planes_tier_ladder():
    """The quantized LSH sizing rule image_neardup self-sizes with:
    smallest rung satisfying 2**p · target_bucket ≥ corpus, largest
    catches the rest.  The rung boundaries are load-bearing — the
    generated oracle gates one plane-literal set per rung on the SAME
    corpus-count thresholds, so moving a boundary without regenerating
    the oracle would hash-mismatch (this pin makes that loud)."""
    from openetlagent_spark.functions.dedup import auto_n_planes

    assert auto_n_planes(0) == 8
    assert auto_n_planes(100) == 8          # sf0.001/sf0.01 corpus
    assert auto_n_planes(1_000) == 8        # sf0.1
    assert auto_n_planes(16 << 8) == 8      # boundary: 4096 inclusive
    assert auto_n_planes((16 << 8) + 1) == 11
    assert auto_n_planes(10_000) == 11      # sf1
    assert auto_n_planes(16 << 11) == 11    # boundary: 32768 inclusive
    assert auto_n_planes((16 << 11) + 1) == 14
    assert auto_n_planes(100_000) == 14     # sf10
    assert auto_n_planes(10**9) == 14       # ladder top catches all
    # the rule generalizes over its parameters
    assert auto_n_planes(5_000, target_bucket=1, tiers=(10, 13)) == 13
    assert auto_n_planes(1_000, target_bucket=1, tiers=(10, 13)) == 10


def test_embedding_rademacher_finds_parallel_vectors(vectors):
    """±1 planes are a real LSH family: near-parallel vectors (cos
    ~0.995) agree with every ±1 plane whose dominant coordinate they
    share, so the planted (0, 1) pair is ALWAYS blocked together and
    survives the exact-cosine verify.  The anti-parallel pair (0, 3)
    never can (cosine -1 < threshold)."""
    from openetlagent_spark.functions.dedup import embedding_neardup_pairs

    out = embedding_neardup_pairs(
        vectors, "vec_id", "embedding", threshold=0.9, n_planes=4, n_tables=2,
    )
    pairs = {(r.id_a, r.id_b): r.cosine for r in out.collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (0, 3) not in pairs
