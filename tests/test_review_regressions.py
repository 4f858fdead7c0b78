"""Regression tests for code-review findings: generator temp-column
lifetime, non-64-dim embeddings, NULL-text quality, short descending
lists, negative-zero division."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row

from openetlagent_spark.functions.dedup import embedding_neardup_pairs
from openetlagent_spark.functions.text import with_quality
from openetlagent_spark.generator import generate_pipeline_step_by_step
from openetlagent_spark.model import (
    ArithmeticOperation,
    ColumnDefinition,
    FileDefinition,
    FileSchema,
    PipelineConfig,
    SortOperation,
)
from openetlagent_spark.operators import apply_arithmetic, apply_sort


def test_generator_temp_columns_survive_across_steps(spark, tmp_path):
    """A temp column created in one generation step must be visible to
    the next step (drop happens only at end of flow, not per trial)."""
    (tmp_path / "t.csv").write_text("id,price\n1,$10\n2,$30\n")
    config = PipelineConfig(
        inputs={
            "t": FileDefinition(
                path=str(tmp_path / "t.csv"),
                format="csv",
                file_schema=FileSchema(
                    name="t",
                    columns={"id": ColumnDefinition("integer"), "price": ColumnDefinition("string")},
                ),
            )
        },
        outputs={
            "o": FileDefinition(
                path=str(tmp_path / "o"),
                format="csv",
                file_schema=FileSchema(
                    name="o",
                    columns={"id": ColumnDefinition("integer"), "price_f": ColumnDefinition("float")},
                ),
            )
        },
    )
    replies = iter(
        [
            "t",
            # step 0 creates a TEMP column
            "```yaml\n- operation_type: application\n  input_columns: [price]\n"
            "  function_str: \"lambda r: r['price'].replace('$','')\"\n"
            "  return_type: string\n  output_column: _clean_\n```",
            # step 1 consumes the temp column — fails if it was dropped
            "```yaml\n- operation_type: casting\n  input_column: _clean_\n"
            "  target_type: float\n  output_column: price_f\n```",
            "```yaml\n- operation_type: done\n```",
        ]
    )
    result = generate_pipeline_step_by_step(spark, config, "o", lambda p: next(replies))
    assert result.success, result.transcript
    assert len(result.flow.operations) == 2


def test_embedding_neardup_works_for_non_64_dims(spark):
    # 8-dim vectors: two near-parallel pairs must be found (dim used to
    # be hard-coded to 64, nulling every dot product).
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.99, 0.01, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_neardup_pairs(df, "vec_id", "embedding", threshold=0.9, n_planes=2, n_tables=4)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got


def test_quality_null_text_scores_zero(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text=None), Row(doc_id=2, text="the cat is on the mat and it is good")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.quality for r in with_quality(df).collect()}
    assert got[1] == 0.0
    assert got[2] > 0.0


def test_sort_short_descending_pads_ascending(spark):
    df = spark.createDataFrame([Row(a=1, b=2), Row(a=1, b=1), Row(a=0, b=9)])
    out = apply_sort(df, SortOperation(columns=["a", "b"], descending=[True]))
    assert [(r.a, r.b) for r in out.collect()] == [(1, 1), (1, 2), (0, 9)]
    with pytest.raises(ValueError, match="descending has"):
        apply_sort(df, SortOperation(columns=["a"], descending=[True, False]))


def test_division_negative_zero_ieee(spark):
    df = spark.createDataFrame(
        [Row(i=1, a=1.0, b=-0.0), Row(i=2, a=-1.0, b=-0.0), Row(i=3, a=1.0, b=0.0)],
        "i int, a double, b double",
    )
    out = apply_arithmetic(
        df, ArithmeticOperation(input_columns=["a", "b"], operator="/", output_column="q")
    )
    got = {r.i: r.q for r in out.collect()}
    assert got[1] == -math.inf
    assert got[2] == math.inf
    assert got[3] == math.inf


# --- round-1 second review pass -------------------------------------------


def test_bind_orc_right_side(spark, tmp_path):
    """ORC right sides must dispatch to the ORC reader, not the CSV/
    parquet fallbacks (review: bind gained no ORC path when IO did)."""
    from openetlagent_spark.model import BindOperation
    from openetlagent_spark.operators import apply_bind

    right_path = str(tmp_path / "dim.orc")
    spark.createDataFrame([Row(k=1, name="x")]).write.orc(right_path)
    left = spark.createDataFrame([Row(k=1, v=10), Row(k=2, v=20)])
    out = apply_bind(
        left,
        BindOperation(
            right_file_path=right_path, left_on="k", right_on="k", how="left",
            columns_to_add=["name"],
        ),
        spark,
    )
    got = sorted((r.k, r.name) for r in out.collect())
    assert got == [(1, "x"), (2, None)]


def test_bind_empty_keys_rejected():
    """Empty key lists on a keyed join would silently cross-join."""
    from openetlagent_spark.model import BindOperation, SpecError

    with pytest.raises(SpecError, match="requires join keys"):
        BindOperation(left_on=[], right_on=[], how="inner")
    # cross is the explicit way to ask for no keys
    BindOperation(how="cross")


def test_window_frame_validation():
    from openetlagent_spark.model import SpecError, WindowOperation

    with pytest.raises(SpecError, match="start must be <= end"):
        WindowOperation(function="sum", value_column="v", frame=[0, -2], output_column="x")
    with pytest.raises(SpecError, match="aggregate functions only"):
        WindowOperation(function="row_number", frame=[-2, 0], output_column="x")


def test_enrich_stream_collision_renames(spark):
    from openetlagent_spark.streaming import enrich_stream

    events = spark.createDataFrame([Row(user_id=1, value=5.0)])
    dim = spark.createDataFrame([Row(user_id=1, value=99.0, segment="gold")])
    out = enrich_stream(
        events, dim, left_on="user_id", right_on="user_id",
        columns_to_add=["value", "segment"],
    )
    row = out.collect()[0]
    assert row.value == 5.0 and row.value_right == 99.0 and row.segment == "gold"
    assert out.columns == ["user_id", "value", "value_right", "segment"]


def test_stratified_sample_null_keys_deterministic(spark):
    """NULL sample keys hash via an explicit coalesce (concat_ws would
    silently skip them, diverging from the || oracle) and order NULLS
    FIRST on the tiebreak — same rows on any engine/partitioning."""
    from openetlagent_spark.functions.curation import stratified_sample

    rows = [Row(g="a", k=None if i == 0 else i) for i in range(5)]
    df = spark.createDataFrame(rows, "g string, k int")
    a = sorted(map(tuple, stratified_sample(df, ["g"], "k", 3).collect()))
    b = sorted(map(tuple, stratified_sample(df.repartition(4), ["g"], "k", 3).collect()))
    assert a == b and len(a) == 3


def test_chunk_text_empty_docs_yield_no_chunks(spark):
    from openetlagent_spark.functions.curation import chunk_text

    df = spark.createDataFrame(
        [Row(doc_id=1, text=""), Row(doc_id=2, text="   "), Row(doc_id=3, text=None),
         Row(doc_id=4, text="one two")]
    )
    got = chunk_text(df, "doc_id", "text", chunk_size=10).collect()
    assert [r.doc_id for r in got] == [4]
    assert got[0].chunk_tokens == 2


def test_merge_changes_keys_only_schema_raises(spark):
    from openetlagent_spark.functions.incremental import merge_changes, merge_oracle_sql

    base = spark.createDataFrame([Row(k=1)])
    feed = spark.createDataFrame([Row(k=2)])
    with pytest.raises(ValueError, match="no ordering"):
        merge_changes(base, feed, ["k"])
    with pytest.raises(ValueError, match="no ordering"):
        merge_oracle_sql("SELECT 1 AS k", "SELECT 2 AS k", ["k"], ["k"])


def test_keyword_search_rejects_dup_and_blank_terms(spark):
    from openetlagent_spark.functions.search import keyword_search_topk
    from openetlagent_spark.model import SpecError, parse_operation

    df = spark.createDataFrame([Row(doc_id=1, text="x")])
    with pytest.raises(ValueError, match="unique"):
        keyword_search_topk(df, ["Hash", "hash"])
    with pytest.raises(ValueError, match="non-blank"):
        keyword_search_topk(df, ["  "])
    with pytest.raises(SpecError, match="unique"):
        parse_operation({"operation_type": "keyword_search", "query_terms": ["A", "a"]})


def test_keyword_search_oracle_escapes_quotes():
    from openetlagent_spark.functions.search import keyword_search_oracle_sql
    import duckdb

    sql = keyword_search_oracle_sql(["don't"], table="(SELECT 1 AS doc_id, 'x' AS text)")
    con = duckdb.connect()
    assert con.execute(sql).fetchall()[0][-1] == 0.0  # parses and runs


def test_split_percentages_must_be_positive(spark):
    from openetlagent_spark.functions.text import with_split_assign
    from openetlagent_spark.model import SpecError, parse_operation

    df = spark.createDataFrame([Row(doc_id=1)])
    with pytest.raises(ValueError, match="positive"):
        with_split_assign(df, "doc_id", {"train": 110, "val": -10})
    with pytest.raises(SpecError, match="positive"):
        parse_operation(
            {"operation_type": "split_assign", "key_column": "doc_id",
             "splits": {"train": 100, "val": 0}}
        )


def test_kmeans_quantization_overflow_is_clear(spark):
    """Non-finite or grid-overflowing coordinates must fail with the
    named quantization error, not a bare ANSI CAST_OVERFLOW from inside
    a Lloyd iteration."""
    import pytest
    from pyspark.sql import Row

    from openetlagent_spark.functions.clustering import kmeans_assign

    df = spark.createDataFrame(
        [Row(vec_id=0, embedding=[0.0] * 4), Row(vec_id=1, embedding=[1e30] * 4)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="quantization overflow"):
        kmeans_assign(df, "vec_id", "embedding", k=2, iters=1).collect()


def test_ivf_sampling_skips_null_and_nonfinite_vectors(spark):
    """IVF centroid fitting skips NULL vectors (they are excluded from
    the sample and never poison the centroid literals), and a NaN
    vector fails with the named quantization error instead of being
    dropped silently."""
    from pyspark.sql import Row

    from openetlagent_spark.functions.similarity import ivf_topk

    rows = [
        Row(vec_id=0, embedding=[0.0] * 4),
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=None),
        Row(vec_id=3, embedding=[float("nan")] * 4),
        Row(vec_id=4, embedding=[-1.0] * 4),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    finite = df.filter("vec_id != 3")
    out = ivf_topk(finite, finite.limit(2), id_col="vec_id", vec_col="embedding",
                   k=2, n_centroids=2, nprobe=1)
    assert out.count() > 0
    with pytest.raises(Exception, match="quantization overflow"):
        ivf_topk(df, df.limit(2), id_col="vec_id", vec_col="embedding",
                 k=2, n_centroids=2, nprobe=1).collect()
