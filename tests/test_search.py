"""Unit tests for keyword search (rational-idf BM25) and inverted-index
construction on a constructed corpus with known statistics."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from openetlagent_spark.functions.search import inverted_index, keyword_search_topk


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text="apple banana apple"),
            Row(doc_id=2, text="banana cherry"),
            Row(doc_id=3, text="cherry cherry cherry durian"),
            Row(doc_id=4, text="unrelated words only"),
        ]
    )


def test_bm25_ranks_rare_term_matches_first(corpus):
    # 'durian' appears only in doc 3 — rational idf makes it dominate
    out = keyword_search_topk(corpus, ["durian"], k=4).collect()
    assert out[0].doc_id == 3 and out[0].score > 0
    # docs without the term score 0; ties break by ascending id
    zeros = [r.doc_id for r in out[1:]]
    assert zeros == [1, 2, 4]
    assert all(r.score == 0.0 for r in out[1:])


def test_bm25_tf_saturation(corpus):
    # doc 3 has tf=3 for cherry, doc 2 tf=1: same idf, higher tf wins,
    # but saturation keeps the gap under 3x
    out = {r.doc_id: r.score for r in keyword_search_topk(corpus, ["cherry"], k=4).collect()}
    assert out[3] > out[2] > 0
    assert out[3] / out[2] < 3


def test_bm25_multi_term_is_sum_of_single_terms(corpus):
    both = {r.doc_id: r.score for r in keyword_search_topk(corpus, ["apple", "cherry"], k=4).collect()}
    a = {r.doc_id: r.score for r in keyword_search_topk(corpus, ["apple"], k=4).collect()}
    c = {r.doc_id: r.score for r in keyword_search_topk(corpus, ["cherry"], k=4).collect()}
    for d in both:
        assert both[d] == pytest.approx(a[d] + c[d], abs=1e-12)


def test_bm25_empty_terms_raises(corpus):
    with pytest.raises(ValueError):
        keyword_search_topk(corpus, [])


def test_inverted_index_postings(corpus):
    rows = {r.term: r for r in inverted_index(corpus).collect()}
    assert rows["apple"].df == 1 and rows["apple"].tf_total == 2
    assert rows["apple"].postings == "1:2"
    assert rows["banana"].df == 2 and rows["banana"].postings == "1:1 2:1"
    assert rows["cherry"].df == 2 and rows["cherry"].tf_total == 4
    assert rows["cherry"].postings == "2:1 3:3"


def test_inverted_index_max_df_nulls_hot_terms(corpus):
    rows = {r.term: r for r in inverted_index(corpus, max_df=1).collect()}
    # df=2 terms keep stats but drop postings
    assert rows["banana"].df == 2 and rows["banana"].postings is None
    assert rows["cherry"].postings is None
    assert rows["apple"].postings == "1:2"
    assert rows["durian"].postings == "3:1"


def test_materialized_search_and_index_results(corpus):
    """Both operators read their materialized intermediate from two
    consumers; the results are the ones the lazy plans gave."""
    topk = keyword_search_topk(corpus, ["cherry"], k=4).collect()
    assert [r.doc_id for r in topk][0] == 3
    idx = {r.term: r.postings for r in inverted_index(corpus, max_df=1).collect()}
    assert idx["apple"] == "1:2" and idx["banana"] is None
