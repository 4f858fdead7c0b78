"""Keyword retrieval over document tables: BM25-style ranked search and
inverted-index construction.

The reference engine (Antix5/OpenETLAgent) has no search vocabulary at
all (SURVEY §2.2 — its scalar surface is concat + a row lambda); these
extend the engine the same way the dedup/similarity families do, and
both are EXACTLY oracle-checkable:

- ``keyword_search_topk``: rank documents against a fixed list of query
  terms with the BM25 *rational-idf* variant — Robertson idf WITHOUT the
  log.  ``ln`` is not correctly-rounded IEEE (libm results differ in the
  last ulp across engines), so a log-based score could never hash-match
  a DuckDB oracle; the rational form ``(N - df + 0.5) / (df + 0.5)``
  keeps every operation inside +,-,*,/ — all correctly-rounded IEEE,
  bit-identical across engines — and preserves the idf ordering (the
  log is monotonic).  Term scores sum in the fixed query-term order
  (left-associated), so the whole score is deterministic per row.

- ``inverted_index``: term → document frequency, total term frequency,
  and an id-sorted posting-list string ``"id:tf id:tf ..."`` (strings,
  not nested arrays, so the driver's value hash is engine-neutral).
  Terms with ``df > max_df`` keep their statistics but skip posting
  materialization — and the skip happens BEFORE the collect (a
  broadcast ANTI-join against the over-cap term set, which is
  stopword-sized by construction and therefore always broadcastable,
  unlike the vocabulary-sized under-cap set), so a 100 TB "the" never
  gathers a billion-element list on one reducer.

Scale shapes (100 TB):
- search: per-doc dl + all query-term tfs come from ONE fold over the
  token array (a single regex split per row, no explode, no shuffle);
  corpus stats (N, Σdl, per-term df) reduce to ONE row that broadcasts
  back; ranking is a TakeOrdered top-k.  ZERO wide shuffles.
- index: explode → one map-side-combined (term, doc) count,
  ``localCheckpoint``-ed so both consumer branches read the
  materialized copy → vocabulary-sized stats → anti-join-guarded
  posting collect.  Three wide exchanges total.

Cache lifetime: every operator here materializes its reused
intermediate through ``session.materialize`` (a ``localCheckpoint`` by
default) — never ``persist`` — so the blocks free when the returned
DataFrame is garbage-collected instead of leaking executor storage for
the session (a lazily-returned result can never safely ``unpersist``
its own inputs).  Cluster note: ``localCheckpoint`` blocks live on the
executors that computed them, so with aggressive dynamic
de-allocation set the session's materialization mode to
``checkpoint`` (see ``session.materialize``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from ..session import materialize
from pyspark.sql import functions as F

from .text import _tokens, _toks_sql


def _normalized_terms(query_terms: list[str]) -> list[str]:
    """Lowercase and validate: non-empty, and unique AFTER folding —
    ['Hash', 'hash'] would otherwise produce two identical tf_hash
    columns and silently double-count the term in the score."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]
    if any(not t.strip() for t in terms):
        raise ValueError(f"query_terms must be non-blank, got {query_terms!r}")
    if len(set(terms)) != len(terms):
        raise ValueError(f"query_terms must be unique (case-folded), got {query_terms!r}")
    if len({_tf_col(t) for t in terms}) != len(terms):
        raise ValueError(
            f"query_terms collide after identifier-sanitizing, got {query_terms!r}"
        )
    return terms


def _tf_col(term: str) -> str:
    """Output-column name for a term's tf: non-identifier characters
    become '_' so the name is a valid unquoted identifier in BOTH
    engines (a term like \"don't\" would otherwise break the oracle)."""
    import re

    return "tf_" + re.sub(r"[^a-z0-9_]", "_", term)


def keyword_search_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents for ``query_terms`` under rational-idf BM25
    (see module docstring).  Ties break on ascending id so the result
    SET is deterministic.  Returns (id, dl, tf_<term>..., score).

    dl and every per-term tf are computed in ONE ``aggregate`` fold over
    the token array, so the regex split runs exactly once per row even
    after Catalyst's projection collapse (T separate ``filter`` calls
    would each re-inline the split — the with_repetition lesson).  The
    per-doc branch then feeds both the corpus-stats aggregate and the
    scoring projection.  That branch is eagerly materialized — (id, dl,
    T ints), a few bytes per document, NOT the token arrays — so the
    second consumer reads the narrow copy instead of re-splitting the
    corpus (see module docstring)."""
    terms = _normalized_terms(query_terms)

    # One fold computes dl plus every tf: acc is a (T+1)-field struct of
    # counters; each token increments the dl counter and at most one
    # term counter.  The token array is referenced exactly once, so the
    # split cannot be re-inlined per counter.
    zero = F.struct(
        F.lit(0).alias("dl"), *[F.lit(0).alias(f"tf_{i}") for i in range(len(terms))]
    )

    def step(acc: Column, x: Column) -> Column:
        return F.struct(
            (acc["dl"] + F.lit(1)).alias("dl"),
            *[
                (acc[f"tf_{i}"] + F.when(x == F.lit(t), 1).otherwise(0)).alias(f"tf_{i}")
                for i, t in enumerate(terms)
            ],
        )

    counts = F.aggregate(_tokens(F.col(text_col)), zero, step)
    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("__id__"), counts.alias("__c__"))
        .select(
            "__id__",
            F.col("__c__")["dl"].alias("dl"),
            *[F.col("__c__")[f"tf_{i}"].alias(f"tf_{i}") for i in range(len(terms))],
        )
        .transform(materialize)
    )

    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )

    scored = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs").cast("double")
    norm = F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("dl").cast("double") / avgdl)
    )
    score = None
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}").cast("double")
        idf = (
            F.col("n_docs").cast("double") - F.col(f"df_{i}").cast("double") + F.lit(0.5)
        ) / (F.col(f"df_{i}").cast("double") + F.lit(0.5))
        ts = (idf * (tf * F.lit(k1 + 1.0))) / (tf + norm)
        score = ts if score is None else score + ts
    return (
        scored.select(
            F.col("__id__").alias(id_col),
            "dl",
            *[F.col(f"tf_{i}").alias(_tf_col(t)) for i, t in enumerate(terms)],
            score.alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def keyword_search_oracle_sql(
    query_terms: list[str],
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB mirror of keyword_search_topk.  Float literals are emitted
    with ``repr`` of the SAME Python-computed values the Spark plan
    embeds (e.g. ``k1 + 1.0``), so both engines run identical bit
    patterns through identical correctly-rounded IEEE operation trees.
    The tokenizer fragment comes from :func:`text._toks_sql` — the one
    shared definition every generated oracle must use.

    Output integer columns (dl, tf_*) are DuckDB BIGINT from ``len``;
    the corpus-stats SUMs live only INSIDE double casts, so no HUGEINT
    ever reaches an output column (the driver's pandas bridge turns
    HUGEINT into float64, which hash-mismatches Spark's BIGINT)."""
    terms = _normalized_terms(query_terms)
    toks = _toks_sql(text_col)
    tf_cols = ", ".join(
        "len(list_filter({}, x -> x = '{}')) AS tf_{}".format(toks, t.replace("'", "''"), i)
        for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms))
    )
    avgdl = "(CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    norm = f"({k1!r} * (1.0 - {b!r} + {b!r} * (CAST(dl AS DOUBLE) / {avgdl})))"
    parts = []
    for i in range(len(terms)):
        tf = f"CAST(tf_{i} AS DOUBLE)"
        idf = f"((CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5) / (CAST(df_{i} AS DOUBLE) + 0.5))"
        parts.append(f"(({idf} * ({tf} * {k1 + 1.0!r})) / ({tf} + {norm}))")
    score = parts[0]
    for p in parts[1:]:
        score = f"({score} + {p})"
    out_tfs = ", ".join(f"tf_{i} AS {_tf_col(t)}" for i, t in enumerate(terms))
    return (
        f"WITH base AS (SELECT {id_col} AS did, len({toks}) AS dl, {tf_cols} "
        f"FROM {table} WHERE {text_col} IS NOT NULL), "
        f"stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl, {df_cols} FROM base) "
        f"SELECT did AS {id_col}, dl, {out_tfs}, {score} AS score "
        f"FROM base CROSS JOIN stats "
        f"ORDER BY score DESC, did LIMIT {k}"
    )


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Term-level index: ``df`` (document frequency), ``tf_total``
    (corpus term frequency), and ``postings`` — the id-ascending
    ``"id:tf id:tf ..."`` string, NULL for terms with ``df > max_df``
    (stopword-class terms whose lists would be unbounded; their
    statistics still report).  See module docstring for the anti-join
    guard that keeps the collect bounded at scale.

    Shuffle shape: exactly THREE wide exchanges run end to
    end — (1) the map-side-combined (term, doc) tf count, (2) the
    per-term stats aggregate, (3) the posting aggregation.  tf and
    stats are ``localCheckpoint``-ed (eager): each is computed ONCE and
    every consumer branch (cap filter, anti-join gate, over-cap stats
    rows) reads the materialized copy — no diamond recompute, and no
    session-lifetime cache leak (checkpoint blocks are freed when the
    returned DataFrame is garbage-collected, unlike ``persist``, which
    a lazily-returned result can never safely unpersist).  The over-cap
    rows re-enter the result via a UNION of the stats branch — no
    stats⋈postings join at all (the previous shape spent 9 exchanges
    on separate shuffle chains plus a sort-merge join)."""
    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("__id__"), F.explode(_tokens(F.col(text_col))).alias("term"))
    )
    # exchange 1: partial-aggregated (term, doc) counts
    tf = toks.groupBy("term", "__id__").agg(F.count(F.lit(1)).alias("tf")).transform(
        materialize, False
    )

    posting_expr = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__id__", "tf"))),
            lambda s: F.concat_ws(":", s["__id__"].cast("string"), s["tf"].cast("string")),
        ),
        " ",
    ).alias("postings")

    if max_df is None:
        return tf.groupBy("term").agg(
            F.count(F.lit(1)).alias("df"), F.sum("tf").alias("tf_total"), posting_expr
        )

    # exchange 2: vocabulary-sized term statistics
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("tf_total")
    ).transform(materialize, False)
    # anti-join against the OVER-cap set: hot terms are few by
    # construction (stopword-class), so that side always broadcasts;
    # the under-cap set is vocabulary-sized and must never be the
    # broadcast side at corpus scale.
    hot = stats.filter(F.col("df") > max_df)
    eligible = tf.join(F.broadcast(hot.select("term")), "term", "left_anti")
    # exchange 3: the posting aggregation (the inherent data movement)
    under = eligible.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("tf_total"), posting_expr
    )
    # over-cap terms keep their FULL-corpus stats (the anti-join removes
    # whole terms, never partial rows, so under-cap stats are identical
    # to full-corpus stats for the terms that survive).
    over = hot.withColumn("postings", F.lit(None).cast("string"))
    return under.unionByName(over)


def inverted_index_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> str:
    """DuckDB mirror of inverted_index: string_agg ORDER BY did gives
    the same id-ascending posting string; the max_df gate reproduces the
    NULL-postings branch.  Tokenizer fragment from :func:`text._toks_sql`
    (shared, cannot drift); tf_total is CAST to BIGINT because DuckDB's
    integer SUM yields HUGEINT, which the driver's pandas bridge turns
    into float64 — a guaranteed hash mismatch against Spark's BIGINT."""
    toks = _toks_sql(text_col)
    agg = f"string_agg(did || ':' || tf, ' ' ORDER BY did)"
    postings = agg if max_df is None else f"CASE WHEN COUNT(*) <= {max_df} THEN {agg} END"
    return (
        f"WITH e AS (SELECT {id_col} AS did, unnest({toks}) AS term "
        f"FROM {table} WHERE {text_col} IS NOT NULL), "
        f"tf AS (SELECT term, did, COUNT(*) AS tf FROM e GROUP BY term, did) "
        f"SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS tf_total, "
        f"{postings} AS postings "
        f"FROM tf GROUP BY term"
    )


def tfidf_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms: (id, rank, term, tfidf),
    rank 1..k by (weight desc, term asc) — the deterministic tie-break
    makes the result SET engine-exact.

    Same rational-idf rationale as keyword_search_topk: the weight is
    ``tf * ((N - df + 0.5) / (df + 0.5))`` — Robertson idf without the
    log — computed in the identical +,-,*,/ operation tree on both
    engines, so the doubles are bit-identical and hash-match the DuckDB
    oracle (a log-based weight never could; the log is monotonic, so
    rankings agree with the classic formula).

    Scale shape (100 TB): explode → ONE map-side-combined (term, doc)
    tf shuffle; per-term df re-aggregates from tf (vocabulary-sized);
    corpus N reduces to one broadcast row; the tf⋈df join shuffles on
    term (df side is vocabulary-sized — broadcastable for bounded
    vocabularies, shuffle join beyond); the top-k window shuffles on
    doc id.  No collects, no UDFs."""
    if k <= 0:
        raise ValueError(f"tfidf_topk k must be positive, got {k!r}")
    from pyspark.sql import Window

    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("__id__"), F.explode(_tokens(F.col(text_col))).alias("term"))
    )
    # same diamond as inverted_index: tf feeds both the df aggregate
    # and the weighting join; a localCheckpoint materializes the
    # explode+count ONCE (Catalyst's per-branch column pruning makes the
    # two subtrees non-identical, so exchange reuse cannot dedupe them),
    # and its blocks free on garbage collection
    tf = toks.groupBy("term", "__id__").agg(F.count(F.lit(1)).alias("tf")).transform(
        materialize, False
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.filter(F.col(text_col).isNotNull()).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    idf = (
        F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    weighted = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.col("tf").cast("double") * idf)
    )
    w = Window.partitionBy("__id__").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        weighted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("__id__").alias(id_col), "rank", "term", "tfidf")
    )


def tfidf_topk_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> str:
    """DuckDB mirror of tfidf_topk — same tokenizer fragment
    (:func:`text._toks_sql`), same rational-idf double operation tree,
    same (weight desc, term asc) tie-break."""
    toks = _toks_sql(text_col)
    return f"""
WITH e AS (SELECT {id_col} AS did, unnest({toks}) AS term
           FROM {table} WHERE {text_col} IS NOT NULL),
tf AS (SELECT term, did, COUNT(*) AS tf FROM e GROUP BY term, did),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM {table} WHERE {text_col} IS NOT NULL),
w AS (SELECT did, tf.term,
             CAST(tf AS DOUBLE)
               * ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                  / (CAST(df AS DOUBLE) + 0.5)) AS tfidf
      FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n)
SELECT did AS {id_col}, CAST(rank AS INTEGER) AS rank, term, tfidf
FROM (SELECT did, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY did ORDER BY tfidf DESC, term) AS rank
      FROM w)
WHERE rank <= {k}
"""
