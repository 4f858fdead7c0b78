"""Flow ops run the code the generated DuckDB oracles check.

Each near-duplicate family (``dedup`` minhash / ngram / simhash /
embedding), ``similarity`` ``method: lsh`` and ``method: ivf``, and
``media_features`` over a mixed BMP/PNG corpus run
through ``apply_operations`` from a parsed spec and is compared, row for row,
with its generated oracle over the same data and the same parameters,
using scripts/check_oracle.py's exact (type-sensitive, full-precision)
normalizer.  The text corpus is the sf0.001 documents plus one
spliced document per each of the first 100 (half of one document, half
of the next): their borderline Jaccard makes the candidate set depend
on the hash scheme.  Edge frames cover a single row, documents shorter
than the shingle size and empty-string text.  The NULL-text pins check
that NULL text never pairs: the text flows run on the corpus plus 50
NULL-text rows and still give exactly the oracle's pairs over the
corpus alone, and every op that drops or filters on those pairs keeps
those rows.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from openetlagent_spark.functions.dedup import (
    embedding_pairs_oracle_sql,
    ngram_pairs_oracle_sql,
    simhash_pairs_oracle_sql,
)
from openetlagent_spark.functions.similarity import (
    ivf_topk_oracle_sql,
    lsh_topk_oracle_sql,
)
from openetlagent_spark.functions.multimodal import (
    image_features_bmp_oracle_sql,
    synthesize_media_bmp,
)
from openetlagent_spark.model import parse_operation
from openetlagent_spark.runner import apply_operations

SF = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


CHECK = _load_check_oracle()

TEXT_COLS = {"id_column": "doc_id", "text_column": "text"}
# (flow spec, oracle SQL with the op's parameters: the miner's default
# geometry for ngram, num_perm / bands for minhash)
TEXT_FLOWS = {
    "minhash": (
        {"strategy": "minhash", "threshold": 0.3},
        ngram_pairs_oracle_sql(n=3, threshold=0.3, bands=16, rows_per_band=4, seed=42),
    ),
    "ngram": (
        {"strategy": "ngram", "threshold": 0.3},
        ngram_pairs_oracle_sql(n=3, threshold=0.3, bands=4, rows_per_band=3, seed=42),
    ),
    "simhash": (
        {"strategy": "simhash", "max_hamming": 3},
        simhash_pairs_oracle_sql(max_hamming=3),
    ),
}


def _dedup(df, spark, **spec):
    op = parse_operation({"operation_type": "dedup", "mode": "pairs", **spec})
    return apply_operations(df, [op], spark)


def _assert_matches(sdf, con, sql) -> int:
    """Assert the Spark result equals the oracle's; return its rows."""
    s_pdf = sdf.toPandas()
    d_pdf = con.execute(sql).df()
    assert sorted(s_pdf.columns) == sorted(d_pdf.columns)
    got = CHECK.pdf_to_multiset(s_pdf, CHECK.normalize_exact)
    want = CHECK.pdf_to_multiset(d_pdf, CHECK.normalize_exact)
    assert got == want
    return len(got)


@pytest.fixture(scope="module")
def corpus():
    docs = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"]).to_pandas()
    texts = docs.sort_values("doc_id")["text"].head(100).tolist()

    def splice(a: str, b: str) -> str:
        a, b = a.split(), b.split()
        return " ".join(a[: len(a) // 2] + b[len(b) // 2 :])

    spliced = [
        (10_000 + i, splice(a, b)) for i, (a, b) in enumerate(zip(texts, texts[1:] + texts[:1]))
    ]
    return pd.concat([docs, pd.DataFrame(spliced, columns=["doc_id", "text"])], ignore_index=True)


@pytest.fixture(scope="module")
def con(corpus):
    c = duckdb.connect()
    c.register("documents", corpus)
    c.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{SF}/embeddings.parquet')")
    return c


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def with_nulls(spark, corpus):
    nulls = spark.range(1_000_000, 1_000_050).select(
        F.col("id").alias("doc_id"), F.lit(None).cast("string").alias("text")
    )
    return spark.createDataFrame(corpus, "doc_id long, text string").unionByName(nulls)


@pytest.mark.parametrize("strategy", sorted(TEXT_FLOWS))
def test_text_dedup_flow_matches_oracle(spark, con, with_nulls, strategy):
    """The flow over the corpus plus 50 NULL-text rows gives exactly
    the oracle's pairs over the corpus alone."""
    spec, sql = TEXT_FLOWS[strategy]
    assert _assert_matches(_dedup(with_nulls, spark, **TEXT_COLS, **spec), con, sql) > 0


EDGE_FRAMES = {
    "single_row": [(1, "one lonely document here")],
    # shorter than the 3-word shingle, and empty strings (one empty token)
    "short_and_empty": [
        (1, "hello"), (2, "hello"), (3, "hi there"), (4, "hi there"), (5, "x"),
        (6, ""), (7, ""), (8, "a b c"), (9, "a b c"),
    ],
}


@pytest.mark.parametrize("frame", sorted(EDGE_FRAMES))
@pytest.mark.parametrize("strategy", sorted(TEXT_FLOWS))
def test_text_dedup_flow_edge_frames_match_oracle(spark, strategy, frame):
    rows = EDGE_FRAMES[frame]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    c = duckdb.connect()
    c.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    spec, sql = TEXT_FLOWS[strategy]
    _assert_matches(_dedup(df, spark, **TEXT_COLS, **spec), c, sql)


EMB_SPEC = {
    "strategy": "embedding", "id_column": "vec_id", "vector_column": "embedding",
    "threshold": 0.3,
}
# the op's defaults: 8 planes, 2 tables, seed 42, max_bucket 1000
EMB_SQL = embedding_pairs_oracle_sql(
    threshold=0.3, n_planes=8, n_tables=2, seed=42, max_bucket=1000, dim=64
)


def test_embedding_dedup_flow_matches_oracle(spark, con, emb):
    assert _assert_matches(_dedup(emb, spark, **EMB_SPEC), con, EMB_SQL) > 0


def _similarity(method, corpus, queries, spark):
    op = parse_operation(
        {"operation_type": "similarity", "method": method, "queries_path": "queries", "k": 10}
    )
    return apply_operations(corpus, [op], spark, {"queries": queries})


def _lsh(corpus, queries, spark):
    return _similarity("lsh", corpus, queries, spark)


# the op's defaults: 4 planes, 8 tables, seed 42
LSH_SQL = lsh_topk_oracle_sql(k=10, n_planes=4, n_tables=8, seed=42, dim=64, query_pred="vid < 20")
# the op's defaults (16 centroids, 4 probes) and ivf_topk's fit defaults
IVF_SQL = ivf_topk_oracle_sql(
    k=10, n_centroids=16, nprobe=4, sample_size=2048, iters=2, scale_bits=20, dim=64,
    query_pred="b.vid < 20",
)


def test_lsh_similarity_flow_matches_oracle(spark, con, emb):
    out = _lsh(emb, emb.filter(F.col("vec_id") < 20), spark)
    assert _assert_matches(out, con, LSH_SQL) > 0


def test_ivf_similarity_flow_matches_oracle(spark, con, emb):
    out = _similarity("ivf", emb, emb.filter(F.col("vec_id") < 20), spark)
    assert _assert_matches(out, con, IVF_SQL) > 0


def test_ivf_similarity_flow_refuses_fewer_vectors_than_centroids(spark, emb):
    """A corpus smaller than n_centroids is a named error, never a
    silently smaller index."""
    few = emb.orderBy("vec_id").limit(5)
    with pytest.raises(ValueError, match="n_centroids=16 exceeds the 5 sampled vectors"):
        _similarity("ivf", few, few, spark).collect()


def test_vector_flows_single_row_match_oracle(spark, emb):
    one = emb.orderBy("vec_id").limit(1).toPandas()
    c = duckdb.connect()
    c.register("embeddings", one)
    df = spark.createDataFrame(one)
    _assert_matches(_dedup(df, spark, **EMB_SPEC), c, EMB_SQL)
    _assert_matches(_lsh(df, df, spark), c, LSH_SQL)


def test_lsh_similarity_flow_duplicate_ids_match_oracle(spark, emb):
    """Candidates are deduplicated on their ids and the vectors join
    back afterwards, as in the oracle: a corpus id carried by two rows
    with different vectors scores both, on the query and corpus side."""
    head = emb.orderBy("vec_id").limit(60).toPandas()
    head["embedding"] = head["embedding"].map(lambda v: [float(x) for x in v])
    again = head[head["vec_id"] < 8].copy()
    again["embedding"] = again["embedding"].map(lambda v: v[::-1])
    both = pd.concat([head, again], ignore_index=True)
    c = duckdb.connect()
    c.register("embeddings", both)
    df = spark.createDataFrame(both)
    out = _lsh(df, df.filter(F.col("vec_id") < 20), spark)
    assert _assert_matches(out, c, LSH_SQL) > 0


def test_media_features_flow_default_matches_oracle(spark, docs):
    """A media_features image flow parsed with no decoder field decodes
    the sf0.001 documents as alternating BMP/PNG payloads to exactly the
    generated oracle's rows: metadata, encoded size, pixel count and
    every histogram bin."""
    c = duckdb.connect()
    c.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')")
    op = parse_operation({"operation_type": "media_features", "modality": "image"})
    out = apply_operations(synthesize_media_bmp(docs, codec="alternate"), [op], spark)
    sql = f"SELECT * FROM {image_features_bmp_oracle_sql(dim=16, codec='alternate')} sq"
    assert _assert_matches(out, c, sql) > 0


# --- NULL text never pairs ---------------------------------------------------


@pytest.mark.parametrize("strategy", sorted(TEXT_FLOWS))
def test_dedup_drop_keeps_null_text_rows(spark, with_nulls, strategy):
    spec, _ = TEXT_FLOWS[strategy]
    op = parse_operation({"operation_type": "dedup", **TEXT_COLS, **spec, "mode": "drop"})
    kept = apply_operations(with_nulls, [op], spark)
    assert kept.filter(F.col("text").isNull()).count() == 50


def test_near_gates_keep_null_text_rows(spark, docs, with_nulls):
    """contamination near (filter) keeps, and incremental_dedup near
    (filter) admits, every NULL-text row."""
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    contamination = parse_operation(
        {"operation_type": "contamination", "strategy": "near", "mode": "filter",
         "benchmark_path": "bench", "jaccard_threshold": 0.3}
    )
    kept = apply_operations(with_nulls, [contamination], spark, {"bench": bench})
    assert kept.filter(F.col("text").isNull()).count() == 50

    known = docs.filter(F.col("doc_id") % 10 != 3)
    batch = with_nulls.filter((F.col("doc_id") % 10 == 3) | F.col("text").isNull())
    gate = parse_operation(
        {"operation_type": "incremental_dedup", "strategy": "near", "mode": "filter",
         "corpus_path": "corpus", "jaccard_threshold": 0.3}
    )
    admitted = apply_operations(batch, [gate], spark, {"corpus": known})
    assert admitted.filter(F.col("text").isNull()).count() == 50
