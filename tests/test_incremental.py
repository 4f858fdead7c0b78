"""Incremental-maintenance operators (functions/incremental.py) plus the
round-3 curation additions (stratified_sample, chunk_text) and their
YAML flow dispatch.

The reference engine is full-reload only (app/main.py:361-394 loads
eagerly every run, no prior-state notion); these tests pin the
incremental semantics our engine adds on top: MERGE latest-wins /
delete rules, SCD2 interval construction, exact sampling quotas, and
chunk window geometry — including determinism under repartitioning,
which is the property a single-node engine gets for free and a
distributed one must earn.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from openetlagent_spark.functions.curation import chunk_text, stratified_sample
from openetlagent_spark.functions.incremental import merge_changes, scd2_history


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


@pytest.fixture()
def base(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        ["id", "name", "amount"],
    )


class TestMergeChanges:
    def test_upsert_insert_delete(self, spark, base):
        changes = spark.createDataFrame(
            [
                (2, "b2", 21.0, "U", 1),   # update
                (4, "d", 40.0, "D", 1),    # delete
                (5, "e", 50.0, "U", 1),    # insert (key not in base)
            ],
            ["id", "name", "amount", "op", "seq"],
        )
        out = merge_changes(base, changes, ["id"], op_col="op", seq_col="seq")
        rows = {r["id"]: (r["name"], r["amount"]) for r in out.collect()}
        assert rows == {
            1: ("a", 10.0),
            2: ("b2", 21.0),
            3: ("c", 30.0),
            5: ("e", 50.0),
        }

    def test_latest_sequence_wins(self, spark, base):
        changes = spark.createDataFrame(
            [(2, "first", 1.0, "U", 1), (2, "last", 2.0, "U", 7), (2, "mid", 9.0, "U", 3)],
            ["id", "name", "amount", "op", "seq"],
        )
        out = merge_changes(base, changes, ["id"], op_col="op", seq_col="seq")
        assert {r["name"] for r in out.filter(F.col("id") == 2).collect()} == {"last"}

    def test_delete_then_higher_seq_reinsert(self, spark, base):
        # the LATEST change decides: a re-insert after a delete survives
        changes = spark.createDataFrame(
            [(3, "gone", 0.0, "D", 1), (3, "back", 31.0, "U", 2)],
            ["id", "name", "amount", "op", "seq"],
        )
        out = merge_changes(base, changes, ["id"], op_col="op", seq_col="seq")
        assert {r["name"] for r in out.filter(F.col("id") == 3).collect()} == {"back"}

    def test_no_op_col_all_upsert(self, spark, base):
        changes = spark.createDataFrame([(1, "a2", 11.0)], ["id", "name", "amount"])
        out = merge_changes(base, changes, ["id"])
        assert out.count() == 4
        assert out.filter(F.col("id") == 1).collect()[0]["name"] == "a2"

    def test_missing_payload_column_raises(self, spark, base):
        changes = spark.createDataFrame([(1, "x")], ["id", "name"])
        with pytest.raises(ValueError, match="lacks base columns"):
            merge_changes(base, changes, ["id"])

    def test_deterministic_under_repartition(self, spark, base):
        changes = spark.createDataFrame(
            [(2, "v1", 1.0, "U", 5), (2, "v2", 2.0, "U", 5)],  # tied seq
            ["id", "name", "amount", "op", "seq"],
        )
        outs = []
        for n in (1, 7):
            out = merge_changes(
                base.repartition(n), changes.repartition(n), ["id"],
                op_col="op", seq_col="seq",
            )
            outs.append(sorted(tuple(r) for r in out.collect()))
        assert outs[0] == outs[1]


class TestScd2History:
    def test_intervals_and_current(self, spark):
        log = spark.createDataFrame(
            [
                (1, _ts("2024-01-01T00:00:00"), 1, "bronze"),
                (1, _ts("2024-02-01T00:00:00"), 2, "silver"),
                (1, _ts("2024-03-01T00:00:00"), 3, "gold"),
                (2, _ts("2024-01-15T00:00:00"), 4, "bronze"),
            ],
            ["uid", "ts", "eid", "tier"],
        )
        out = scd2_history(log, ["uid"], "ts", ["tier"], order_col="eid")
        rows = sorted(
            (r["uid"], r["tier"], r["valid_to"] is None, r["is_current"])
            for r in out.collect()
        )
        assert rows == [
            (1, "bronze", False, False),
            (1, "gold", True, True),
            (1, "silver", False, False),
            (2, "bronze", True, True),
        ]
        mid = out.filter(F.col("tier") == "silver").collect()[0]
        assert mid["valid_from"] == _ts("2024-02-01T00:00:00")
        assert mid["valid_to"] == _ts("2024-03-01T00:00:00")

    def test_collapse_merges_consecutive_identical(self, spark):
        log = spark.createDataFrame(
            [
                (1, _ts("2024-01-01T00:00:00"), 1, "bronze"),
                (1, _ts("2024-01-02T00:00:00"), 2, "bronze"),  # no change
                (1, _ts("2024-01-03T00:00:00"), 3, "silver"),
            ],
            ["uid", "ts", "eid", "tier"],
        )
        out = scd2_history(log, ["uid"], "ts", ["tier"], order_col="eid")
        assert out.count() == 2
        bronze = out.filter(F.col("tier") == "bronze").collect()[0]
        # the interval runs from the FIRST bronze to the silver switch
        assert bronze["valid_from"] == _ts("2024-01-01T00:00:00")
        assert bronze["valid_to"] == _ts("2024-01-03T00:00:00")

    def test_null_attr_transitions(self, spark):
        # NULL→NULL is "no change"; NULL→value and value→NULL open versions
        log = spark.createDataFrame(
            [
                (1, _ts("2024-01-01T00:00:00"), 1, None),
                (1, _ts("2024-01-02T00:00:00"), 2, None),
                (1, _ts("2024-01-03T00:00:00"), 3, "x"),
                (1, _ts("2024-01-04T00:00:00"), 4, None),
            ],
            ["uid", "ts", "eid", "tier"],
        )
        out = scd2_history(log, ["uid"], "ts", ["tier"], order_col="eid")
        assert [r["tier"] for r in out.orderBy("valid_from").collect()] == [None, "x", None]

    def test_no_collapse_keeps_every_row(self, spark):
        log = spark.createDataFrame(
            [
                (1, _ts("2024-01-01T00:00:00"), 1, "a"),
                (1, _ts("2024-01-02T00:00:00"), 2, "a"),
            ],
            ["uid", "ts", "eid", "tier"],
        )
        out = scd2_history(log, ["uid"], "ts", ["tier"], order_col="eid", collapse=False)
        assert out.count() == 2


class TestStratifiedSample:
    def test_exact_quota_and_determinism(self, spark):
        df = spark.range(1000).select(
            F.col("id"), (F.col("id") % 4).cast("string").alias("grp")
        )
        out = stratified_sample(df, ["grp"], "id", k=25)
        counts = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
        assert counts == {"0": 25, "1": 25, "2": 25, "3": 25}
        again = stratified_sample(df.repartition(13), ["grp"], "id", k=25)
        assert sorted(r["id"] for r in out.collect()) == sorted(
            r["id"] for r in again.collect()
        )

    def test_small_group_keeps_all(self, spark):
        df = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], ["id", "grp"])
        out = stratified_sample(df, ["grp"], "id", k=10)
        assert out.count() == 3

    def test_rank_column_nested_subsample(self, spark):
        df = spark.range(100).select(F.col("id"), F.lit("g").alias("grp"))
        out = stratified_sample(df, ["grp"], "id", k=20, rank_column="rk")
        sub = out.filter(F.col("rk") <= 10)
        # the rank prefix IS the smaller sample — no re-hash needed
        direct = stratified_sample(df, ["grp"], "id", k=10)
        assert sorted(r["id"] for r in sub.collect()) == sorted(
            r["id"] for r in direct.collect()
        )


class TestChunkText:
    def test_geometry(self, spark):
        text = " ".join(f"w{i}" for i in range(10))
        df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
        out = chunk_text(df, "doc_id", "text", chunk_size=4, overlap=1).orderBy("chunk_idx")
        rows = out.collect()
        # stride 3 over 10 tokens → starts 1,4,7,10
        assert [r["chunk_idx"] for r in rows] == [0, 1, 2, 3]
        assert rows[0]["chunk_text"] == "w0 w1 w2 w3"
        assert rows[1]["chunk_text"] == "w3 w4 w5 w6"  # 1-token overlap
        assert rows[3]["chunk_text"] == "w9"           # short tail kept
        assert [r["chunk_tokens"] for r in rows] == [4, 4, 4, 1]

    def test_no_overlap_covers_exactly(self, spark):
        text = " ".join(str(i) for i in range(9))
        df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
        rows = chunk_text(df, "doc_id", "text", chunk_size=3).orderBy("chunk_idx").collect()
        assert [r["chunk_tokens"] for r in rows] == [3, 3, 3]
        assert " ".join(r["chunk_text"] for r in rows) == text

    def test_null_text_yields_no_rows(self, spark):
        df = spark.createDataFrame([(1, None), (2, "one two")], ["doc_id", "text"])
        out = chunk_text(df, "doc_id", "text", chunk_size=5)
        assert [r["doc_id"] for r in out.collect()] == [2]

    def test_bad_overlap_raises(self, spark):
        df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
        with pytest.raises(ValueError, match="overlap"):
            chunk_text(df, "doc_id", "text", chunk_size=4, overlap=4)


class TestFlowDispatch:
    def test_yaml_flow_merge_scd2(self, spark, tmp_path):
        """End-to-end: a YAML flow running merge (named-input feed) then
        stratified_sample — the generated-pipeline path for the
        incremental ops."""
        import yaml

        from openetlagent_spark.model import (
            ColumnDefinition,
            FileDefinition,
            FileSchema,
            PipelineFlow,
            parse_operation,
        )
        from openetlagent_spark.runner import apply_operations
        from openetlagent_spark.sources import scan_data

        def _fd(path, cols):
            return FileDefinition(
                path=path,
                format="parquet",
                file_schema=FileSchema(
                    name="t", columns={c: ColumnDefinition(type=t) for c, t in cols.items()}
                ),
            )

        base_p = str(tmp_path / "base.parquet")
        feed_p = str(tmp_path / "feed.parquet")
        spark.createDataFrame(
            [(i, f"n{i}", float(i)) for i in range(40)], ["id", "name", "amount"]
        ).write.parquet(base_p)
        spark.createDataFrame(
            [(1, "upd", 99.0, "U", 1), (2, "del", 0.0, "D", 1)],
            ["id", "name", "amount", "op", "seq"],
        ).write.parquet(feed_p)

        inputs = {
            "base": _fd(base_p, {"id": "integer", "name": "string", "amount": "float"}),
            "feed": _fd(
                feed_p,
                {"id": "integer", "name": "string", "amount": "float",
                 "op": "string", "seq": "integer"},
            ),
        }
        raw_flow = yaml.safe_load(
            """
source: base
operations:
  - operation_type: merge
    right_file_path: feed
    keys: [id]
    op_column: op
    seq_column: seq
  - operation_type: assignation
    value: merged
    output_column: stage
"""
        )
        flow = PipelineFlow(
            source=raw_flow["source"],
            operations=[parse_operation(op) for op in raw_flow["operations"]],
        )
        df = scan_data(spark, inputs["base"])
        out = apply_operations(df, flow.operations, spark, inputs)
        rows = {r["id"]: r["name"] for r in out.collect()}
        assert rows[1] == "upd" and 2 not in rows and len(rows) == 39
        assert out.columns == ["id", "name", "amount", "stage"]

    def test_yaml_flow_chunk_and_sample(self, spark):
        from openetlagent_spark.model import parse_operation
        from openetlagent_spark.runner import apply_operations

        df = spark.createDataFrame(
            [(i, "tok " * 10, str(i % 2)) for i in range(20)],
            ["doc_id", "text", "grp"],
        )
        ops = [
            parse_operation(
                {
                    "operation_type": "stratified_sample",
                    "group_columns": ["grp"],
                    "key_column": "doc_id",
                    "k": 5,
                }
            ),
            parse_operation(
                {
                    "operation_type": "chunk",
                    "id_column": "doc_id",
                    "text_column": "text",
                    "chunk_size": 4,
                    "overlap": 0,
                }
            ),
        ]
        out = apply_operations(df, ops, spark, None)
        # 10 sampled docs × ceil(10/4)=3 chunks
        assert out.count() == 30
        assert set(out.columns) == {"doc_id", "chunk_idx", "chunk_text", "chunk_tokens"}


def test_incremental_dedup_annotate_and_filter(spark):
    from openetlagent_spark.functions.incremental import incremental_dedup

    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text="The  quick brown fox"),
            Row(doc_id=2, text="something else entirely"),
        ]
    )
    batch = spark.createDataFrame(
        [
            Row(doc_id=10, text="the quick  brown fox"),   # known (normalized match)
            Row(doc_id=11, text="brand new document"),
            Row(doc_id=12, text="Brand  New Document"),    # batch dup of 11
            Row(doc_id=13, text="another new one"),
        ]
    )
    got = {r.doc_id: r for r in incremental_dedup(batch, corpus).collect()}
    assert got[10].is_known and not got[10].is_batch_dup
    assert not got[11].is_known and not got[11].is_batch_dup
    assert got[12].is_batch_dup and not got[12].is_known
    assert not got[13].is_known and not got[13].is_batch_dup

    kept = incremental_dedup(batch, corpus, mode="filter")
    assert sorted(r.doc_id for r in kept.collect()) == [11, 13]
    assert kept.columns == ["doc_id", "text"]


def test_incremental_dedup_bad_mode_raises(spark):
    from openetlagent_spark.functions.incremental import incremental_dedup

    df = spark.createDataFrame([Row(doc_id=1, text="x")])
    with pytest.raises(ValueError):
        incremental_dedup(df, df, mode="nope")


# --- near-dup admission gate -------------------------------------------------


def _near_batch(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    batch = spark.createDataFrame(
        [
            (10, base + " lambda"),       # near-dup of corpus doc 1
            (11, "fresh content first version words tokens stream data"),
            (12, "fresh content first version words tokens stream datum"),  # near-dup of 11
            (13, "completely novel text sequence nothing shared anywhere"),
        ],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(1, base + " mu"), (2, "other corpus entry entirely different")],
        "doc_id long, text string",
    )
    return batch, corpus


def test_incremental_neardup_annotate(spark):
    from openetlagent_spark.functions.incremental import incremental_neardup

    batch, corpus = _near_batch(spark)
    out = {
        r["doc_id"]: (r["is_known_near"], r["is_batch_dup"])
        for r in incremental_neardup(batch, corpus, threshold=0.3).collect()
    }
    assert out[10] == (True, False)    # paraphrase of corpus doc 1
    assert out[11] == (False, False)   # first of the in-batch pair
    assert out[12] == (False, True)    # lower-id batch near-dup exists
    assert out[13] == (False, False)


def test_incremental_neardup_filter_via_flow_op(spark):
    from openetlagent_spark.model import parse_operation
    from openetlagent_spark.operators import apply_incremental_dedup

    batch, corpus = _near_batch(spark)
    op = parse_operation({
        "operation_type": "incremental_dedup", "corpus_path": "corpus",
        "strategy": "near", "mode": "filter", "jaccard_threshold": 0.3,
    })
    kept = sorted(
        r["doc_id"]
        for r in apply_incremental_dedup(batch, op, spark, {"corpus": corpus}).collect()
    )
    assert kept == [11, 13]
    # exact fingerprint gate admits ALL of them (none is an exact dup)
    op2 = parse_operation({
        "operation_type": "incremental_dedup", "corpus_path": "corpus", "mode": "filter",
    })
    kept2 = sorted(
        r["doc_id"]
        for r in apply_incremental_dedup(batch, op2, spark, {"corpus": corpus}).collect()
    )
    assert kept2 == [10, 11, 12, 13]


def test_incremental_neardup_validation(spark):
    import pytest

    from openetlagent_spark.model import IncrementalDedupOperation, SpecError

    with pytest.raises(SpecError):
        IncrementalDedupOperation(corpus_path="c", strategy="fuzzy")
    with pytest.raises(SpecError):
        IncrementalDedupOperation(corpus_path="c", strategy="near", jaccard_threshold=0.0)


def test_neardup_store_roundtrip_and_append(spark, tmp_path):
    """The parquet band store gates identically to an in-memory band
    join, and appending an admitted batch makes a re-gate of the same
    batch flag every document (self-collision) — the production
    build-once / append-per-batch loop."""
    from pyspark.sql import functions as F

    from openetlagent_spark.functions.dedup import ngram_band_table
    from openetlagent_spark.functions.incremental import (
        build_neardup_store,
        neardup_gate_from_store,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    store = str(tmp_path / "band_store")

    build_neardup_store(corpus, store)
    gated = neardup_gate_from_store(batch, spark, store)
    got = {r.doc_id: r.is_known_near for r in gated.collect()}

    # reference: in-memory band-collision join with the same params
    cb = ngram_band_table(corpus, "doc_id", "text")
    bb = ngram_band_table(batch, "doc_id", "text")
    expect_known = {
        r.doc_id
        for r in bb.join(cb.select("band", "bkey"), ["band", "bkey"], "left_semi")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert {d for d, k in got.items() if k} == expect_known
    assert set(got) == {r.doc_id for r in batch.collect()}

    # filter mode keeps exactly the unseen docs
    unseen = neardup_gate_from_store(batch, spark, store, mode="filter")
    assert {r.doc_id for r in unseen.collect()} == set(got) - expect_known
    assert "is_known_near" not in unseen.columns

    # append the admitted batch's bands; the SAME batch now self-collides
    build_neardup_store(unseen, store, mode="append")
    regated = neardup_gate_from_store(batch, spark, store)
    assert all(r.is_known_near for r in regated.collect())


def test_neardup_store_mode_validation(spark, tmp_path):
    import pytest as _pytest

    from openetlagent_spark.functions.incremental import neardup_gate_from_store

    with _pytest.raises(ValueError, match="annotate/filter"):
        neardup_gate_from_store(None, spark, str(tmp_path), mode="nope")


def test_fingerprint_store_matches_inline_gate(spark, tmp_path):
    """The parquet fingerprint store gates identically to the inline
    incremental_dedup verdicts, and appending admitted batches closes
    the loop (re-gate flags everything as known)."""
    from pyspark.sql import functions as F

    from openetlagent_spark.functions.incremental import (
        build_fingerprint_store,
        dedup_gate_from_store,
        incremental_dedup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    store = str(tmp_path / "fp_store")

    build_fingerprint_store(corpus, store)
    via_store = {
        r.doc_id: (r.is_known, r.is_batch_dup)
        for r in dedup_gate_from_store(batch, spark, store).collect()
    }
    inline = {
        r.doc_id: (r.is_known, r.is_batch_dup)
        for r in incremental_dedup(batch, corpus).collect()
    }
    assert via_store == inline

    admitted = dedup_gate_from_store(batch, spark, store, mode="filter")
    build_fingerprint_store(admitted, store, mode="append")
    regated = dedup_gate_from_store(batch, spark, store).collect()
    assert all(r.is_known or r.is_batch_dup for r in regated)


def test_neardup_store_gate_flags_within_batch_dups(spark, tmp_path):
    """Two near-duplicates arriving in the same batch with NEITHER in
    the store: the lower id survives, the other is is_batch_dup — the
    keep-first policy that keeps a cold store from admitting both."""
    from pyspark.sql import Row, types as T

    from openetlagent_spark.functions.incremental import (
        build_neardup_store,
        neardup_gate_from_store,
    )

    empty = spark.createDataFrame([], T.StructType([
        T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]))
    store = str(tmp_path / "band_store")
    build_neardup_store(empty, store)

    text = "the quick brown fox jumps over the lazy dog again and again today"
    batch = spark.createDataFrame([
        Row(doc_id=1, text=text),
        Row(doc_id=2, text=text + " extra"),   # near-dup of 1
        Row(doc_id=3, text="completely different words entirely here now")], 
        "doc_id long, text string")
    out = {r.doc_id: r for r in neardup_gate_from_store(batch, spark, store).collect()}
    assert not any(r.is_known_near for r in out.values())  # store empty
    assert not out[1].is_batch_dup and out[2].is_batch_dup
    assert not out[3].is_batch_dup
    kept = neardup_gate_from_store(batch, spark, store, mode="filter")
    assert {r.doc_id for r in kept.collect()} == {1, 3}


# --- scd2_snapshot (round 10) ----------------------------------------------


def test_scd2_snapshot_half_open_semantics(spark):
    """A version that CLOSES at t is invisible at t; its successor
    (opening at t) is visible; open intervals are unbounded."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from openetlagent_spark.functions.incremental import scd2_history, scd2_snapshot

    rows = [
        Row(k=1, ts="2024-01-01 00:00:00", oid=1, attr="a"),
        Row(k=1, ts="2024-01-02 00:00:00", oid=2, attr="b"),  # closes 'a' AT t
        Row(k=2, ts="2024-01-01 12:00:00", oid=3, attr="x"),  # stays open
        Row(k=3, ts="2024-01-03 00:00:00", oid=4, attr="z"),  # opens after t
    ]
    df = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    hist = scd2_history(df, ["k"], "ts", ["attr"], order_col="oid")
    snap = {r.k: r.attr for r in
            scd2_snapshot(hist, "2024-01-02 00:00:00").collect()}
    assert snap == {1: "b", 2: "x"}  # 'a' closed at t -> invisible; k=3 not yet
    # at t - 1s the old version is still current
    before = {r.k: r.attr for r in
              scd2_snapshot(hist, "2024-01-01 23:59:59").collect()}
    assert before == {1: "a", 2: "x"}
