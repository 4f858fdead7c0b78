"""Incremental table maintenance: CDC merge (upsert/delete apply) and
SCD2 (slowly-changing-dimension type 2) history building.

The reference is a full-reload ETL engine — every run re-reads whole
inputs (app/main.py:361-394 loads eagerly, no notion of a prior run).
Real pipelines at 100 TB are incremental: a base snapshot plus a (much
smaller) change feed.  These operators provide the two standard
incremental shapes as pure DataFrame plans:

- :func:`merge_changes` — MERGE INTO semantics (latest change per key
  wins; deletes drop; everything else upserts) without a lakehouse
  table format: the output is the next snapshot, written wherever the
  caller sinks it.
- :func:`scd2_history` — collapse a change log into validity intervals
  (valid_from / valid_to / is_current), the standard dimension-history
  layout.

Scale shape: both are ONE shuffle on the business key.  merge's anti
join broadcasts when the change feed is small (AQE decides from runtime
stats — the common CDC case); scd2 is a single window pass, state
bounded per key.  Exact SQL mirrors for both live beside them, so the
driver hash-checks every row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from ..session import materialize
from pyspark.sql import functions as F


def merge_changes(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str],
    *,
    op_col: str | None = None,
    delete_value: str = "D",
    seq_col: str | None = None,
) -> DataFrame:
    """Apply a change feed to a base snapshot; returns the next snapshot
    with the base's columns.

    - ``seq_col``: change-sequence column (e.g. a log offset or commit
      timestamp); when several changes share a key, the highest sequence
      wins.  Without it, the feed must hold at most one change per key
      (enforced semantics: duplicates would be nondeterministic, so the
      latest-pick uses a deterministic ORDER BY on the key itself as a
      tiebreak and the result is still stable, but callers should pass
      a real sequence).
    - ``op_col``: optional operation marker; rows whose marker equals
      ``delete_value`` remove the key, all other rows upsert.  Without
      it, every change row upserts.

    Plan: latest-change pick (one shuffle of the FEED on key) → base
    LEFT ANTI touched-keys (one shuffle of base on key, or a broadcast
    when the feed is small) → union of survivors and upserts.  The base
    never sorts and never carries the feed's metadata columns.
    """
    if not keys:
        raise ValueError("merge_changes requires at least one key column")
    out_cols = base.columns
    meta = [c for c in (op_col, seq_col) if c]
    for c in keys + meta:
        if c not in changes.columns:
            raise ValueError(
                f"merge_changes: column '{c}' missing from changes "
                f"(available: {changes.columns})"
            )
    missing = [c for c in out_cols if c not in changes.columns]
    if missing:
        raise ValueError(
            f"merge_changes: changes lacks base columns {missing} — the feed "
            "must carry the full row payload for upserts"
        )

    order = [F.col(seq_col).desc()] if seq_col else []
    # Deterministic tiebreak: payload columns in schema order — two
    # changes with the same (key, seq) resolve identically on any
    # cluster layout.
    order += [F.col(c).desc() for c in out_cols if c not in keys]
    if not order:
        # every base column is a key and there is no sequence: the
        # window would have an empty ORDER BY (AnalysisException) and
        # the oracle would emit invalid SQL — fail with the real reason
        raise ValueError(
            "merge_changes: no ordering available to pick the latest change "
            "(base has only key columns and no seq_col was given); pass "
            "seq_col or include a payload column"
        )
    w = Window.partitionBy(*keys).orderBy(*order)
    latest = (
        changes.withColumn("_x_rn", F.row_number().over(w))
        .filter(F.col("_x_rn") == 1)
        .drop("_x_rn")
    )

    touched = changes.select(*keys).distinct()
    survivors = base.join(touched, keys, "left_anti")
    upserts = latest
    if op_col:
        upserts = upserts.filter(
            ~F.coalesce(F.col(op_col) == F.lit(delete_value), F.lit(False))
        )
    return survivors.select(*out_cols).unionByName(upserts.select(*out_cols))


def merge_oracle_sql(
    base_sql: str,
    changes_sql: str,
    keys: list[str],
    out_cols: list[str],
    *,
    op_col: str | None = None,
    delete_value: str = "D",
    seq_col: str | None = None,
) -> str:
    """ANSI mirror of :func:`merge_changes` (DuckDB-ready), generated
    from the same parameters so the two cannot drift."""
    cols = ", ".join(out_cols)
    order = []
    if seq_col:
        order.append(f"{seq_col} DESC")
    order += [f"{c} DESC" for c in out_cols if c not in keys]
    if not order:
        raise ValueError(
            "merge_oracle_sql: no ordering available (keys-only schema, no "
            "seq_col) — same precondition as merge_changes"
        )
    keylist = ", ".join(keys)
    delete_filter = (
        f"AND COALESCE({op_col} = '{delete_value}', FALSE) = FALSE" if op_col else ""
    )
    join_cond = " AND ".join(f"b.{k} = t.{k}" for k in keys)
    return (
        f"WITH ch AS ({changes_sql}), "
        f"latest AS (SELECT *, ROW_NUMBER() OVER "
        f"(PARTITION BY {keylist} ORDER BY {', '.join(order)}) AS rn FROM ch) "
        f"SELECT {cols} FROM ({base_sql}) b "
        f"WHERE NOT EXISTS (SELECT 1 FROM ch t WHERE {join_cond}) "
        f"UNION ALL SELECT {cols} FROM latest WHERE rn = 1 {delete_filter}"
    )


def scd2_history(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    attr_cols: list[str],
    *,
    order_col: str | None = None,
    collapse: bool = True,
) -> DataFrame:
    """Build SCD2 validity intervals from a change log: one row per
    version with ``valid_from`` (the change's timestamp), ``valid_to``
    (the NEXT version's timestamp, NULL while current) and
    ``is_current``.

    ``collapse=True`` (the default, and standard SCD2) opens a new
    version only when an attribute actually changes — consecutive
    identical rows merge into one interval (null-safe comparison, so
    NULL→NULL is "no change" and NULL→value is a change).
    ``order_col`` breaks timestamp ties deterministically (same-instant
    changes resolve identically on any partitioning).

    One shuffle on the key; per-key state is a single lag/lead frame —
    bounded, streaming-friendly, skew only if one key dominates the log.
    """
    if not keys or not attr_cols:
        raise ValueError("scd2_history requires keys and attr_cols")
    order = [F.col(ts_col).asc()] + ([F.col(order_col).asc()] if order_col else [])
    w = Window.partitionBy(*keys).orderBy(*order)

    cur = df
    if collapse:
        changed = F.row_number().over(w) == 1
        for a in attr_cols:
            changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
        cur = df.withColumn("_x_chg", changed).filter(F.col("_x_chg")).drop("_x_chg")

    # Re-derive the window over the collapsed rows: valid_to must be the
    # next VERSION's start, not the next raw log row's.
    w2 = Window.partitionBy(*keys).orderBy(*order)
    out = (
        cur.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
    )
    return out.select(*keys, *attr_cols, "valid_from", "valid_to", "is_current")


def scd2_oracle_sql(
    source_sql: str,
    keys: list[str],
    ts_col: str,
    attr_cols: list[str],
    *,
    order_col: str | None = None,
    collapse: bool = True,
) -> str:
    """ANSI mirror of :func:`scd2_history` (DuckDB-ready)."""
    keylist = ", ".join(keys)
    order = ts_col + (f", {order_col}" if order_col else "")
    attrs = ", ".join(attr_cols)
    win = f"PARTITION BY {keylist} ORDER BY {order}"
    if collapse:
        change_terms = " OR ".join(
            f"{a} IS DISTINCT FROM lag({a}) OVER ({win})" for a in attr_cols
        )
        versions = (
            f"SELECT * FROM (SELECT *, "
            f"(ROW_NUMBER() OVER ({win}) = 1 OR {change_terms}) AS chg "
            f"FROM ({source_sql})) WHERE chg"
        )
    else:
        versions = f"SELECT * FROM ({source_sql})"
    return (
        f"SELECT {keylist}, {attrs}, {ts_col} AS valid_from, "
        f"lead({ts_col}) OVER ({win}) AS valid_to, "
        f"lead({ts_col}) OVER ({win}) IS NULL AS is_current "
        f"FROM ({versions})"
    )


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "annotate",
) -> DataFrame:
    """Append-batch deduplication: which rows of an incoming batch are
    already in the corpus, and which duplicate each other WITHIN the
    batch — the admission gate that keeps repeated crawls/ingests from
    re-adding known documents.  The match key is the engine's normalized
    text fingerprint (text.with_fingerprint: md5 over lowercased,
    whitespace-collapsed text), so formatting variants dedup too.

    The fingerprinted batch is eagerly materialized (it feeds both the
    fingerprint-set broadcast and the final join/window), so its blocks
    free when the returned DataFrame is garbage-collected instead of
    leaking executor storage for the session (``persist`` on a
    lazily-returned result can never be safely released).

    mode='annotate' returns the batch with ``is_known`` (fingerprint
    exists in the corpus) and ``is_batch_dup`` (a lower-id row of the
    batch has the same fingerprint); mode='filter' keeps only admissible
    rows (not known, not a batch dup) and returns them fingerprint-free.

    Scale shape (100 TB corpus, small batch): the batch's distinct
    fingerprint set broadcasts into a LEFT SEMI against the corpus
    fingerprints — a map-side filter, so the corpus is never shuffled —
    and only the surviving (batch-relevant, hence batch-bounded)
    fingerprints deduplicate and broadcast back onto the batch.  A
    plain batch-LEFT-JOIN-corpus would put the billion-row corpus set
    on the build side, which can never broadcast.  The within-batch
    check is one window over the batch.  This is the incremental
    complement of exact_dedup (one-shot corpus dedup): running it per
    append replaces re-deduplicating the whole corpus."""
    from .text import with_fingerprint

    if mode not in ("annotate", "filter"):
        raise ValueError(f"mode must be annotate/filter, got {mode!r}")
    batch = with_fingerprint(new_docs, text_col).transform(materialize)
    batch_fps = batch.select(F.col("fingerprint").alias("__fp__")).distinct()
    known = (
        with_fingerprint(corpus, text_col)
        .select(F.col("fingerprint").alias("__fp__"))
        .join(F.broadcast(batch_fps), "__fp__", "left_semi")
        .distinct()
        .withColumn("__known__", F.lit(1))
    )
    w = Window.partitionBy("fingerprint").orderBy(id_col)
    out = (
        batch.join(F.broadcast(known), batch["fingerprint"] == known["__fp__"], "left")
        .withColumn("is_known", F.col("__known__").isNotNull())
        .withColumn("is_batch_dup", F.row_number().over(w) > 1)
        .drop("__fp__", "__known__")
    )
    if mode == "annotate":
        return out.drop("fingerprint")
    return (
        out.filter(~F.col("is_known") & ~F.col("is_batch_dup"))
        .drop("fingerprint", "is_known", "is_batch_dup")
    )


def incremental_dedup_oracle_sql(
    batch_sql: str,
    corpus_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "annotate",
) -> str:
    """DuckDB mirror of incremental_dedup.  ``batch_sql``/``corpus_sql``
    are relation expressions; the fingerprint formula mirrors
    text.with_fingerprint exactly (md5 of the trimmed, lowercased,
    whitespace-collapsed text)."""

    def fp(qual: str) -> str:
        return f"md5(trim(regexp_replace(lower({qual}{text_col}), '\\s+', ' ', 'g')))"

    base = (
        f"SELECT b.*, "
        f"EXISTS (SELECT 1 FROM ({corpus_sql}) c WHERE {fp('c.')} = b.__fp__) AS is_known, "
        f"row_number() OVER (PARTITION BY b.__fp__ ORDER BY b.{id_col}) > 1 AS is_batch_dup "
        f"FROM (SELECT *, {fp('')} AS __fp__ FROM ({batch_sql})) b"
    )
    if mode == "annotate":
        return f"SELECT * EXCLUDE (__fp__) FROM ({base}) t"
    return (
        f"SELECT * EXCLUDE (__fp__, is_known, is_batch_dup) FROM ({base}) t "
        f"WHERE NOT is_known AND NOT is_batch_dup"
    )


def incremental_neardup(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "annotate",
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    seed: int = 42,
    max_bucket: int = 1000,
) -> DataFrame:
    """NEAR-duplicate admission gate — the paraphrase-level companion
    to :func:`incremental_dedup`, whose fingerprint key only catches
    formatting variants of KNOWN documents.  A lightly rewritten
    re-crawl passes the fingerprint gate; here it collides with the
    corpus in ≥1 MinHash band.

    mode='annotate' returns the batch with ``is_known_near`` (the row
    near-duplicates an existing corpus document at ``threshold``
    Jaccard) and ``is_batch_dup`` (a lower-id row of the batch is a
    near-dup of it); mode='filter' keeps only admissible rows.

    Shape: ONE banded MinHash pipeline over the tagged batch∪corpus
    (keyed on a (side, id) struct, cf. curation.near_contamination)
    yields BOTH verdicts — cross-side pairs mark known-near batch
    rows, batch-side pairs mark within-batch dups — so the signature/
    banding work is paid once; the (small) pair table persists and the
    two batch-bounded id-sets broadcast back onto the batch.  One
    consequence: the ``max_bucket`` degenerate-bucket cap applies to
    the UNION's buckets, one consistent banding space for both
    verdicts.  Ids must be unique across batch and corpus (the batch
    verdict reads plain ids back out of the struct keys).  At 100 TB
    the corpus signature/banding work should come from a PERSISTED
    band table maintained alongside the corpus (append each admitted
    batch's bands), not recomputed per batch — this function computes
    it inline, which is the correct semantics and the right shape for
    the recompute; the band-table reuse is a storage-layout decision
    (cf. sources/io.py write_bucketed) orthogonal to the operator.
    Every stage is engine-exact, so both verdicts hash-check against
    the generated oracle.  Rows with NULL text never pair, so they
    are admitted."""
    from .curation import side_tagged_pairs

    if mode not in ("annotate", "filter"):
        raise ValueError(f"mode must be annotate/filter, got {mode!r}")
    pairs = side_tagged_pairs(
        new_docs, corpus, id_col, text_col,
        n=shingle_size, threshold=threshold, bands=bands,
        rows_per_band=num_perm // bands, seed=seed, max_bucket=max_bucket,
    ).transform(materialize)  # consumed by both verdicts; tiny
    # (near-dup pairs only) — eager checkpoint, not persist: blocks
    # free on GC of the result instead of leaking for the session
    # struct ordering puts side 0 (batch) first in every cross pair
    known = (
        pairs.filter(F.col("id_a.s") != F.col("id_b.s"))
        .select(
            F.when(F.col("id_a.s") == 0, F.col("id_a.i"))
            .otherwise(F.col("id_b.i"))
            .alias(id_col)
        )
        .distinct()
        .withColumn("__kn__", F.lit(1))
    )
    dups = (
        pairs.filter((F.col("id_a.s") == 0) & (F.col("id_b.s") == 0))
        .select(F.col("id_b.i").alias(id_col))
        .distinct()
        .withColumn("__bd__", F.lit(1))
    )
    out = (
        new_docs.join(F.broadcast(known), id_col, "left")
        .join(F.broadcast(dups), id_col, "left")
        .withColumn("is_known_near", F.col("__kn__").isNotNull())
        .withColumn("is_batch_dup", F.col("__bd__").isNotNull())
        .drop("__kn__", "__bd__")
    )
    if mode == "annotate":
        return out
    return out.filter(~F.col("is_known_near") & ~F.col("is_batch_dup")).drop(
        "is_known_near", "is_batch_dup"
    )


def incremental_neardup_oracle_sql(
    union_table: str,
    batch_predicate: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    select_cols: list[str] | None = None,
    threshold: float = 0.5,
    bands: int = 16,
    rows_per_band: int = 4,
    shingle_size: int = 3,
    seed: int = 42,
    max_bucket: int = 1000,
) -> str:
    """DuckDB mirror of :func:`incremental_neardup` (annotate mode):
    ONE generated pair SQL (dedup.ngram_pairs_oracle_sql) over the
    union table — the same single banding space as the Spark plan —
    with EXISTS verdicts reading side membership off
    ``batch_predicate`` — an ``{id}``-placeholder SQL template, e.g.
    ``"{id} % 10 = 3"``.  The plain-id pairs orient by id while the
    Spark struct keys orient batch-first, so the cross verdict accepts
    both orientations; the batch verdict needs id_b only (within one
    side the orderings agree).  Assumes batch and corpus ids are
    DISJOINT (as the Spark operator requires)."""
    from .dedup import ngram_pairs_oracle_sql

    pair_sql = ngram_pairs_oracle_sql(
        table=union_table,
        id_col=id_col,
        text_col=text_col,
        n=shingle_size,
        threshold=threshold,
        bands=bands,
        rows_per_band=rows_per_band,
        seed=seed,
        max_bucket=max_bucket,
    )
    if "{id}" not in batch_predicate:
        raise ValueError(
            "batch_predicate must be an {id}-placeholder template, e.g. '{id} % 10 = 3'"
        )
    pa = batch_predicate.format(id="p.id_a")
    pb = batch_predicate.format(id="p.id_b")
    batch_table = (
        f"(SELECT * FROM {union_table} u "
        f"WHERE {batch_predicate.format(id=id_col)})"
    )
    cols = ", ".join(f"b.{c}" for c in (select_cols or [id_col]))
    return (
        f"WITH prs AS ({pair_sql}) "
        f"SELECT {cols}, "
        f"EXISTS (SELECT 1 FROM prs p WHERE "
        f"(({pa}) AND NOT ({pb}) AND p.id_a = b.{id_col}) OR "
        f"(NOT ({pa}) AND ({pb}) AND p.id_b = b.{id_col})) AS is_known_near, "
        f"EXISTS (SELECT 1 FROM prs p WHERE ({pa}) AND ({pb}) "
        f"AND p.id_b = b.{id_col}) AS is_batch_dup "
        f"FROM {batch_table} b"
    )


# --- persisted near-dup signature store -------------------------------------


def build_neardup_store(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 3,
    seed: int = 7,
    mode: str = "overwrite",
) -> None:
    """Materialize the corpus's banded MinHash keys — one (id, band,
    bkey) row per band per document — as a parquet BAND STORE.  This
    is the production layout for incremental near-dup admission at
    100 TB: the corpus signatures are computed ONCE when the store is
    built and APPENDED per admitted batch (``mode='append'``), so each
    new batch's gate costs only the batch's own shingling plus a join
    against the store — never a corpus re-scan (incremental_neardup
    recomputes the corpus side inline each call; same verdict
    semantics at band level, different cost model).

    The store is partitioned by ``band``: a gate probe for one band
    key touches one directory, and (band, bkey) locality makes the
    probe join a partition-pruned scan.  Band parameters are baked
    into the data — gate with the SAME (n, bands, rows_per_band,
    seed) or the keys are meaningless; callers should version the
    store path with its parameters."""
    from .dedup import ngram_band_table

    banded = ngram_band_table(
        corpus, id_col, text_col, n=n, bands=bands, rows_per_band=rows_per_band, seed=seed
    )
    banded.write.mode(mode).partitionBy("band").parquet(path)


def neardup_gate_from_store(
    batch: DataFrame,
    spark,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 3,
    seed: int = 7,
    mode: str = "annotate",
) -> DataFrame:
    """Admission gate against a persisted band store
    (:func:`build_neardup_store`): a batch document is flagged
    ``is_known_near`` when ANY of its band keys collides with a stored
    key, and ``is_batch_dup`` when it shares a band bucket with a
    LOWER-id document of the same batch (keep-first within the batch —
    without this, two near-dups arriving together would both pass a
    store that contains neither).  Band-collision gate semantics
    (candidate = caught; no exact-Jaccard verify pass — one semi-join,
    slightly conservative: collisions at Jaccard below the S-curve
    knee are rare by construction, and a dropped true-negative costs
    one document, not correctness).

    Scale shape — join DIRECTIONS matter here (cf. incremental_dedup):
    the batch's DISTINCT band keys broadcast into a LEFT SEMI against
    the corpus-scale STORE (a map-side filter: the store is scanned,
    never shuffled or collected — a batch-side semi join would put the
    whole store on the unbroadcastable build side); the surviving
    batch-relevant, hence batch-bounded, key set broadcasts back onto
    the batch's band table, and the verdict ids broadcast onto the
    batch.  mode='filter' keeps only unseen documents."""
    from .dedup import ngram_band_table

    if mode not in ("annotate", "filter"):
        raise ValueError(f"mode must be annotate/filter, got {mode!r}")
    # explicit schema: a store built from an EMPTY corpus (the valid
    # cold-start of the append-per-batch loop) has no footers to infer
    # from.  Only the two columns the gate consumes are declared (the
    # store's id column type belongs to whoever built it — declaring a
    # guessed type for an unread column is a latent mismatch); the band
    # partition column resolves from directory names.
    store = spark.read.schema("bkey long, band int").parquet(store_path).select(
        "band", "bkey"
    )
    bb = ngram_band_table(
        batch, id_col, text_col, n=n, bands=bands, rows_per_band=rows_per_band, seed=seed
    ).transform(materialize)  # feeds the key broadcast AND the
    # verdict join; blocks free on GC (module policy)
    batch_keys = bb.select("band", "bkey").distinct()
    collided = (
        store.join(F.broadcast(batch_keys), ["band", "bkey"], "left_semi")
        .select("band", "bkey")
        .distinct()
    )
    known = (
        bb.join(F.broadcast(collided), ["band", "bkey"], "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("__kn__", F.lit(1))
    )
    # WITHIN-batch near-dups (neither doc in the store yet): two batch
    # documents sharing a band bucket — keep the minimum id, flag the
    # rest, same keep-first policy as the exact gate's is_batch_dup.
    # Bucket table is batch-bounded; both sides of the join are the
    # batch's own bands.
    bucket_min = bb.groupBy("band", "bkey").agg(F.min(id_col).alias("__keep__"))
    dups = (
        bb.join(F.broadcast(bucket_min), ["band", "bkey"])
        .filter(F.col(id_col) > F.col("__keep__"))
        .select(id_col)
        .distinct()
        .withColumn("__bd__", F.lit(1))
    )
    out = (
        batch.join(F.broadcast(known), id_col, "left")
        .join(F.broadcast(dups), id_col, "left")
        .withColumn("is_known_near", F.col("__kn__").isNotNull())
        .withColumn("is_batch_dup", F.col("__bd__").isNotNull())
        .drop("__kn__", "__bd__")
    )
    if mode == "annotate":
        return out
    return out.filter(~F.col("is_known_near") & ~F.col("is_batch_dup")).drop(
        "is_known_near", "is_batch_dup"
    )


def neardup_store_oracle_sql(
    corpus_sql: str,
    batch_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    select_cols: list[str] | None = None,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 3,
    seed: int = 7,
) -> str:
    """DuckDB mirror of build_neardup_store + neardup_gate_from_store:
    derives BOTH band tables inline from the same shared SQL fragments
    (dedup._ngram_band_sql_parts — the same generator the pair oracle
    uses, so the store, the gate, and the pair miner share one band-key
    definition).  ``corpus_sql``/``batch_sql`` are relation
    expressions."""
    from .dedup import _ngram_band_sql_parts

    g_c, banded_c = _ngram_band_sql_parts(
        f"({corpus_sql})", id_col, text_col, n, bands, rows_per_band, seed, g_name="g_c"
    )
    g_b, banded_b = _ngram_band_sql_parts(
        f"({batch_sql})", id_col, text_col, n, bands, rows_per_band, seed, g_name="g_b"
    )
    cols = ", ".join(f"b.{c}" for c in (select_cols or [id_col]))
    return (
        f"WITH g_c AS ({g_c}), banded_c AS ({banded_c}), "
        f"g_b AS ({g_b}), banded_b AS ({banded_b}), "
        f"hits AS (SELECT DISTINCT x.did FROM banded_b x "
        f"JOIN banded_c c ON c.band = x.band AND c.bkey = x.bkey), "
        f"bdup AS (SELECT DISTINCT x.did FROM banded_b x "
        f"JOIN (SELECT band, bkey, min(did) AS mn FROM banded_b "
        f"GROUP BY band, bkey) m "
        f"ON x.band = m.band AND x.bkey = m.bkey AND x.did > m.mn) "
        f"SELECT {cols}, EXISTS (SELECT 1 FROM hits h WHERE h.did = b.{id_col}) "
        f"AS is_known_near, "
        f"EXISTS (SELECT 1 FROM bdup d WHERE d.did = b.{id_col}) "
        f"AS is_batch_dup FROM ({batch_sql}) b"
    )


# --- persisted exact-dedup fingerprint store --------------------------------


def build_fingerprint_store(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    mode: str = "overwrite",
) -> None:
    """Materialize the corpus's DISTINCT normalized-text fingerprints
    (text.with_fingerprint: md5 over lowercased, whitespace-collapsed
    text) as a parquet store — the exact-dedup sibling of
    :func:`build_neardup_store`.  Built once, appended per admitted
    batch; each batch's exact-dup admission check becomes one
    semi-join against the store instead of re-fingerprinting the
    corpus (incremental_dedup's inline cost model)."""
    from .text import with_fingerprint

    fps = (
        with_fingerprint(corpus.filter(F.col(text_col).isNotNull()), text_col)
        .select("fingerprint")
        .distinct()
    )
    fps.write.mode(mode).parquet(path)


def dedup_gate_from_store(
    batch: DataFrame,
    spark,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "annotate",
) -> DataFrame:
    """Exact-dup admission gate against a persisted fingerprint store:
    ``is_known`` = the batch row's normalized-text fingerprint exists
    in the store; ``is_batch_dup`` = a lower-id row of the SAME batch
    shares the fingerprint (identical semantics to incremental_dedup's
    two verdicts — only the corpus side comes from the store).

    Scale shape — the same join directions as incremental_dedup: the
    batch's distinct fingerprints BROADCAST into a LEFT SEMI against
    the corpus-scale store (map-side filter; the store is scanned, not
    shuffled — the reverse direction would put the store on the
    unbroadcastable build side), and the surviving batch-bounded set
    broadcasts back.  The within-batch check is one window over the
    batch.  The fingerprinted batch is eagerly localCheckpoint-ed (it
    feeds both the key broadcast and the output join; blocks free on
    GC — module policy)."""
    from .text import with_fingerprint

    if mode not in ("annotate", "filter"):
        raise ValueError(f"mode must be annotate/filter, got {mode!r}")
    # explicit schema: an empty cold-start store has no footers
    store = spark.read.schema("fingerprint string").parquet(store_path)
    fb = with_fingerprint(batch, text_col).transform(materialize)
    batch_fps = fb.select("fingerprint").distinct()
    known = (
        store.join(F.broadcast(batch_fps), "fingerprint", "left_semi")
        .distinct()
        .withColumn("__kn__", F.lit(1))
    )
    w = Window.partitionBy("fingerprint").orderBy(id_col)
    out = (
        fb.join(F.broadcast(known), "fingerprint", "left")
        .withColumn("is_known", F.col("__kn__").isNotNull())
        .withColumn("is_batch_dup", F.row_number().over(w) > 1)
        .drop("__kn__")
    )
    if mode == "annotate":
        return out.drop("fingerprint")
    return out.filter(~F.col("is_known") & ~F.col("is_batch_dup")).drop(
        "fingerprint", "is_known", "is_batch_dup"
    )


def dedup_store_oracle_sql(
    corpus_sql: str,
    batch_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "annotate",
) -> str:
    """DuckDB mirror of build_fingerprint_store + dedup_gate_from_store
    — same fingerprint formula as incremental_dedup_oracle_sql, with
    the corpus fingerprints derived inline (the store is just their
    parquet materialization)."""

    def fp(qual: str) -> str:
        return f"md5(trim(regexp_replace(lower({qual}{text_col}), '\\s+', ' ', 'g')))"

    base = (
        f"SELECT b.*, "
        f"EXISTS (SELECT 1 FROM ({corpus_sql}) c WHERE {fp('c.')} = b.__fp__) AS is_known, "
        f"row_number() OVER (PARTITION BY b.__fp__ ORDER BY b.{id_col}) > 1 AS is_batch_dup "
        f"FROM (SELECT *, {fp('')} AS __fp__ FROM ({batch_sql})) b"
    )
    if mode == "annotate":
        return f"SELECT * EXCLUDE (__fp__) FROM ({base}) t"
    return (
        f"SELECT * EXCLUDE (__fp__, is_known, is_batch_dup) FROM ({base}) t "
        f"WHERE NOT is_known AND NOT is_batch_dup"
    )


def scd2_snapshot(history: DataFrame, as_of, ts_col_prefix: str = "valid") -> DataFrame:
    """Point-in-time READ of an SCD2 history table — the consumer half
    :func:`scd2_history` was missing: the dimension exactly as it stood
    at ``as_of`` (each key's single interval with ``valid_from <=
    as_of < valid_to``, open intervals unbounded).  ``as_of`` is any
    Spark-castable timestamp (string / datetime / Column).

    Half-open semantics match the writer: a version that CLOSED at
    ``as_of`` is not visible (its successor, opening at the same tick,
    is) — so snapshot(t) composed over consecutive t never double-reads
    a key.  Scale: a partition-pruning-friendly pair of range
    predicates; no join, no window."""
    from_col = F.col(f"{ts_col_prefix}_from")
    to_col = F.col(f"{ts_col_prefix}_to")
    ts = as_of if isinstance(as_of, Column) else F.lit(as_of).cast("timestamp")
    return history.filter((from_col <= ts) & (to_col.isNull() | (ts < to_col)))
