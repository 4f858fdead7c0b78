"""Cache-lifetime hygiene: no operator may pin executor storage for
the session.  Every reused intermediate is materialized with an eager
``localCheckpoint`` (never a bare ``persist``), and
``session.free_local_checkpoints`` releases those blocks
deterministically between queries (GC alone is not dependable — the
JVM can keep a checkpoint reference alive past the Python result's
collection; bench.py calls the helper after every query).

This test runs the operators that historically leaked (round-4 VERDICT
item 3: keyword_search_topk, incremental_dedup, plus the dedup/
curation/q15 sites found alongside), drops every reference, calls the
helper, and asserts the block manager drains back to its pre-test
set.  A regression to bare ``persist()`` still fails here: the helper
frees ONLY localCheckpoint-created RDDs, so a persisted frame survives
and shows up in the leaked set.
"""

from __future__ import annotations

import gc

from openetlagent_spark.plans import HARNESS_QUERIES
from openetlagent_spark.session import free_local_checkpoints

SF_DIR = "/root/testdata/sf0.001"

# Operators whose implementations materialize a reused intermediate.
LEAK_PRONE = [
    "bm25_topk",          # keyword_search_topk base counts
    "inverted_index",     # localCheckpoint since round 4
    "incremental_dedup",  # fingerprinted batch
    "incremental_neardup",  # union-banding pair table
    "dedup_minhash",      # shingle + signature frames
    "dedup_ngram",        # gram-code frame
    "dedup_embedding",    # vector frame
    "contamination",      # shingle-code frame
    "pack_sequences",     # range-partitioned token counts
    "global_shuffle",     # range-partitioned hash frame
    "tpch_q15",           # revenue view
    "ccnet_buckets",      # doc_lm_score two-consumer base
]


def _persistent_ids(spark) -> set[int]:
    ids = set()
    it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
    while it.hasNext():
        ids.add(it.next())
    return ids


def test_operators_do_not_leak_cached_blocks(spark):
    # Delta-based: other test modules' long-lived fixtures may hold
    # cached frames for the whole session; only RDDs cached BY the
    # operators under test may not survive the cleanup path.
    free_local_checkpoints(spark)  # start from a drained state
    before = _persistent_ids(spark)
    for name in LEAK_PRONE:
        df = HARNESS_QUERIES[name](spark, SF_DIR)
        assert df.count() >= 0
        del df
    gc.collect()
    freed = free_local_checkpoints(spark)
    assert freed >= 0
    leaked = _persistent_ids(spark) - before
    assert not leaked, (
        f"{len(leaked)} cached RDD(s) survived the cleanup path — an "
        "operator persists without a localCheckpoint lifetime (bare "
        "persist() is not released by free_local_checkpoints)"
    )


def test_free_local_checkpoints_spares_user_persists(spark):
    # A caller's own persisted frame must NOT be touched by the helper.
    df = spark.range(100).persist()
    df.count()
    before = _persistent_ids(spark)
    free_local_checkpoints(spark)
    assert _persistent_ids(spark) >= before  # user persist untouched
    df.unpersist()


def test_materialize_knob_modes(spark, tmp_path):
    """materialize() honors spark.openetlagent.materialize: default
    localCheckpoint; checkpoint writes to the reliable dir; anything
    else (the former ``persist`` included) -> error naming both."""
    import pytest

    from openetlagent_spark.session import materialize

    df = spark.range(100)
    key = "spark.openetlagent.materialize"
    try:
        from openetlagent_spark.session import free_local_checkpoints

        out = materialize(df)  # default
        assert out.count() == 100
        # the boundary registered a locally-checkpointed RDD — exactly
        # what the release helper frees
        assert free_local_checkpoints(spark) >= 1

        spark.conf.set(key, "checkpoint")
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        out = materialize(spark.range(25))
        assert out.count() == 25

        for mode in ("bogus", "persist"):
            spark.conf.set(key, mode)
            with pytest.raises(
                ValueError, match=rf"'{mode}': expected localCheckpoint \| checkpoint$"
            ):
                materialize(spark.range(5))
    finally:
        spark.conf.unset(key)


def test_free_local_checkpoints_spares_user_persist(spark):
    """The release helper frees checkpoint blocks via the JVM
    isLocallyCheckpointed API and leaves caller persist() caches
    alone (ADVICE r05: no substring-matching false positives)."""
    from openetlagent_spark.session import free_local_checkpoints

    ck = spark.range(1000).localCheckpoint(eager=True)
    kept = spark.range(77).persist()
    kept.count()
    free_local_checkpoints(spark)
    # the persisted frame is still cached and still computable
    assert kept.storageLevel.useMemory
    assert kept.count() == 77
    kept.unpersist()
    del ck
