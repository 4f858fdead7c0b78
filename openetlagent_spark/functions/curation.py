"""Training-data curation operators: benchmark-contamination checking
and sequence packing (concat-and-chunk into fixed context windows).

Both are standard stages of an LLM pretraining pipeline that the
reference engine (Antix5/OpenETLAgent) has no vocabulary for — they
extend the engine the same way the dedup/similarity families do
(SURVEY §2 extension surface), and both are EXACTLY oracle-checkable:

- ``contamination_check``: flag corpus documents whose word-n-gram
  shingles overlap an evaluation/benchmark set.  Shingle codes are the
  engine-exact md5-prefix folds shared with ``dedup.word_ngram_codes``
  (Spark ``conv(substring(md5(w),1,8),16,10)`` == DuckDB
  ``('0x'||substr(md5(w),1,8))::BIGINT``), so the whole check — set
  build, overlap counts, contamination rates — hash-matches a plain
  SQL oracle.

- ``pack_sequences``: assign each document a global token offset and
  context-window chunk id (the concat-and-chunk layout used to build
  fixed-length training batches).  The global prefix sum runs as a
  DISTRIBUTED two-phase scan — per-range-partition local cumulative
  sums plus a tiny per-partition base-offset table — never a
  single-partition global window.  Integer token counts make the
  result bit-identical to the oracle's ``SUM() OVER (ORDER BY ...)``.

Scale notes (100 TB):
- contamination: the benchmark side is small by nature (eval sets);
  its distinct shingle-code set BROADCASTS into a left-semi join
  against the exploded corpus shingles — the corpus never shuffles at
  full text width, only (id, code) pairs into one per-doc count.
- packing: phase 1 aggregates one BIGINT per range partition (a
  driver-side list bounded by the partition count — same bounded
  -collect class as IVF centroid sampling); phase 2 is a window
  PARTITIONED BY the range partition id, so every partition computes
  its local cumulative sum in parallel.  This is the textbook
  distributed prefix scan, expressed in DataFrame ops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from ..session import materialize
from pyspark.sql import functions as F

from .dedup import word_ngram_codes
from .text import _toks_sql

# --- benchmark contamination ------------------------------------------------


def contamination_check(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    n: int = 3,
    rate_threshold: float = 0.3,
) -> DataFrame:
    """Per-document benchmark overlap: ``n_shingles`` (distinct word
    n-grams), ``n_hits`` (of those, how many appear anywhere in the
    benchmark set), ``contamination_rate`` = hits/shingles, and the
    ``contaminated`` flag at ``rate_threshold``.

    Word shingles (not char grams) are the overlap signal for the same
    reason as near-dup mining: random word-3-gram collision is ~0.004
    while true contamination (copied/near-copied text) sits ~0.9 — see
    dedup.word_ngram_codes.  Zero-hit documents are preserved with
    rate 0.0 (left join back onto the full corpus)."""
    bench_text = bench_text_col or text_col
    bench_codes = (
        bench.select(F.explode(word_ngram_codes(F.col(bench_text), n)).alias("code"))
        .distinct()
    )
    base = docs.select(
        F.col(id_col).alias("__id__"),
        word_ngram_codes(F.col(text_col), n).alias("__codes__"),
    ).transform(materialize)  # feeds the explode AND the per-doc
    # shingle counts — without the boundary the md5 shingling runs
    # twice (Catalyst does no CSE across plan branches; measured ~2× at
    # sf1).  Eager checkpoint, not persist: blocks free on GC.
    exploded = base.select("__id__", F.explode(F.col("__codes__")).alias("code"))
    hits = (
        exploded.join(F.broadcast(bench_codes), "code", "left_semi")
        .groupBy("__id__")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    out = (
        base.select("__id__", F.size("__codes__").alias("n_shingles"))
        .join(hits, "__id__", "left")
        .withColumn("n_hits", F.coalesce(F.col("n_hits"), F.lit(0)))
    )
    rate = F.col("n_hits").cast("double") / F.col("n_shingles").cast("double")
    return out.select(
        F.col("__id__").alias(id_col),
        "n_shingles",
        "n_hits",
        rate.alias("contamination_rate"),
        (rate >= F.lit(rate_threshold)).alias("contaminated"),
    )


def contamination_oracle_sql(
    corpus_sql: str,
    bench_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    rate_threshold: float = 0.3,
) -> str:
    """DuckDB oracle for contamination_check, generated from the same
    shingle formulas (cf. dedup.ngram_pairs_oracle_sql) so the Spark
    plan and the oracle cannot drift.  ``corpus_sql``/``bench_sql`` are
    relation expressions (table names or parenthesized subqueries)."""
    from .dedup import _FOLD_PRIME, _MERSENNE  # same constants as the plan

    toks = _toks_sql(text_col)
    wcodes = f"list_transform({toks}, w -> CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT))"

    def code_at(off: int) -> str:
        return f"COALESCE(wc[CAST(i AS INTEGER) + {off}], 0)"

    shingle = code_at(0)
    for j in range(1, n):
        shingle = f"(({shingle}) * {_FOLD_PRIME} + {code_at(j)}) % {_MERSENNE}"
    grams = (
        f"list_distinct(list_transform(generate_series(1, greatest(len(wc) - {n - 1}, 1)), "
        f"i -> {shingle}))"
    )
    return f"""
WITH corpus AS (SELECT {id_col} AS did, {grams} AS grams
                FROM (SELECT {id_col}, {wcodes} AS wc FROM {corpus_sql})),
bench_set AS (SELECT DISTINCT code
              FROM (SELECT unnest(grams) AS code
                    FROM (SELECT {grams} AS grams
                          FROM (SELECT {wcodes} AS wc FROM {bench_sql})))),
hits AS (SELECT did, COUNT(*) AS n_hits
         FROM (SELECT did, unnest(grams) AS code FROM corpus) e
         JOIN bench_set b ON e.code = b.code
         GROUP BY did)
SELECT c.did AS {id_col},
       len(c.grams) AS n_shingles,
       COALESCE(h.n_hits, 0) AS n_hits,
       COALESCE(h.n_hits, 0)::DOUBLE / len(c.grams)::DOUBLE AS contamination_rate,
       COALESCE(h.n_hits, 0)::DOUBLE / len(c.grams)::DOUBLE >= {rate_threshold}
         AS contaminated
FROM corpus c LEFT JOIN hits h ON c.did = h.did
"""


# --- corpus-wide boilerplate line removal -----------------------------------


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_docs: int = 1,
    out_col: str = "text_clean",
    group_col: str | None = None,
    min_df: int | None = None,
) -> DataFrame:
    """C4-style boilerplate LINE removal: any normalized (lowercased,
    trimmed) non-blank line that occurs in MORE THAN ``max_docs``
    distinct documents is removed from every document — the classic
    nav-bar / cookie-banner / footer strip that line-level frequency
    catches and whole-document dedup cannot.  Blank lines are never
    counted or removed (document structure is preserved).

    Returns (id, ``out_col`` = surviving lines re-joined with newlines,
    n_lines, n_removed) — one row per non-NULL-text input row; a
    document whose every line is boilerplate comes back with ''.

    Scale shape (100 TB): lines explode scan-locally into ONE
    materialized frame (eager localCheckpoint — the frame feeds the
    boilerplate count, the anti-join probe, and the per-doc line
    totals; without the boundary the split+md5 runs once per consumer,
    the same two-consumer diamond contamination guards against).  ONE line-key count shuffle finds the boilerplate
    set (HAVING df > max_docs cuts it to the boilerplate lines only —
    a tiny fraction of distinct lines); the anti-join shuffles by line
    key (AQE broadcasts the boilerplate side when it is small, the
    common case); one final regroup by document rebuilds the text.  No
    driver state, no UDF — the rebuild is an array_sort + array_join
    JVM expression.  Exactness: position-sorted reassembly matches
    DuckDB's ``string_agg(line ORDER BY pos)`` (positions are unique
    per doc), md5 line keys are bit-identical, counts are integers.

    ``group_col`` (e.g. language): document frequency is counted and
    applied WITHIN each group — CCNet runs its line dedup per language
    shard because a legal boilerplate phrase in one language can be a
    rare legitimate sentence in another; the candidate shuffle key
    becomes (group, line key), which also spreads hot universal lines
    across partitions.  ``min_df``: a line is stripped only when its
    document frequency ALSO reaches ``min_df`` — the floor that stops
    small corpora / small groups from shedding rare legitimate repeats
    (C4's rule is an absolute ≥3 occurrences for the same reason).
    Effective rule: strip ⟺ df > max(max_docs, min_df − 1)."""
    if max_docs < 1:
        raise ValueError(f"line_dedup max_docs must be >= 1, got {max_docs!r}")
    threshold = max(max_docs, (min_df - 1) if min_df is not None else 0)
    gsel = [F.col(group_col).alias("__g__")] if group_col else []
    gkey = ["__g__"] if group_col else []
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id__"), F.col(text_col).alias("__t__"), *gsel
    )
    split = F.split(F.col("__t__"), "\n")
    lines = base.select(
        "__id__",
        *gkey,
        F.size(split).cast("bigint").alias("__n_lines__"),
        F.posexplode(split).alias("__pos__", "__line__"),
    ).withColumn("__k__", F.md5(F.trim(F.lower(F.col("__line__"))))).transform(materialize)
    common = (
        lines.filter(F.trim(F.col("__line__")) != "")
        .groupBy(*gkey, "__k__")
        .agg(F.countDistinct("__id__").alias("__df__"))
        .filter(F.col("__df__") > threshold)
        .select(*gkey, "__k__")
    )
    kept = lines.join(common, [*gkey, "__k__"], "left_anti")
    rebuilt = kept.groupBy("__id__").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos__", "__line__"))),
                lambda s: s["__line__"],
            ),
            "\n",
        ).alias("__clean__"),
        F.count(F.lit(1)).alias("__n_kept__"),
    )
    # every document appears in `lines` (an empty text still explodes
    # to one blank line), so the all-docs frame with line totals comes
    # from the SAME materialized lines — the source is never re-scanned
    docs_all = lines.groupBy("__id__").agg(F.max("__n_lines__").alias("__n_lines__"))
    return (
        docs_all.join(rebuilt, "__id__", "left")
        .select(
            F.col("__id__").alias(id_col),
            F.coalesce(F.col("__clean__"), F.lit("")).alias(out_col),
            F.col("__n_lines__").alias("n_lines"),
            (
                F.col("__n_lines__") - F.coalesce(F.col("__n_kept__"), F.lit(0))
            ).cast("bigint").alias("n_removed"),
        )
    )


def line_dedup_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_docs: int = 1,
    out_col: str = "text_clean",
    group_col: str | None = None,
    min_df: int | None = None,
) -> str:
    """DuckDB mirror of :func:`line_dedup` — same normalization, same
    md5 keys, same strip threshold (``df > max(max_docs, min_df-1)``,
    per ``group_col`` when set), position-ordered ``string_agg``
    reassembly."""
    threshold = max(max_docs, (min_df - 1) if min_df is not None else 0)
    g_sel = f", {group_col} AS g" if group_col else ""
    g_carry = ", g" if group_col else ""
    g_grp = "g, " if group_col else ""
    g_match = "c.g = l.g AND " if group_col else ""
    return f"""
WITH d AS (SELECT {id_col} AS id, {text_col} AS t{g_sel} FROM {table}
           WHERE {text_col} IS NOT NULL),
s AS (SELECT id{g_carry}, string_split(t, chr(10)) AS ls FROM d),
l AS (SELECT id{g_carry}, CAST(i AS BIGINT) AS pos, ls[CAST(i AS INTEGER)] AS line
      FROM s, unnest(generate_series(1, len(ls))) AS u(i)),
common AS (SELECT {g_grp}md5(trim(lower(line))) AS k FROM l
           WHERE trim(line) <> ''
           GROUP BY {g_grp}k HAVING count(DISTINCT id) > {threshold}),
kept AS (SELECT id, pos, line FROM l
         WHERE NOT EXISTS (SELECT 1 FROM common c
                           WHERE {g_match}c.k = md5(trim(lower(l.line))))),
agg AS (SELECT id, string_agg(line, chr(10) ORDER BY pos) AS clean,
               count(*) AS n_kept
        FROM kept GROUP BY id)
SELECT d.id AS {id_col},
       COALESCE(a.clean, '') AS {out_col},
       CAST(len(string_split(d.t, chr(10))) AS BIGINT) AS n_lines,
       CAST(len(string_split(d.t, chr(10))) - COALESCE(a.n_kept, 0) AS BIGINT)
         AS n_removed
FROM d LEFT JOIN agg a ON a.id = d.id
"""


# --- text scrubbing / redaction --------------------------------------------

# Default redaction rules, applied IN ORDER (order matters: IPs must be
# rewritten before bare digit runs).  Patterns stay within the regex
# subset Java (Spark) and RE2 (DuckDB) interpret identically — character
# classes, bounded/unbounded repeats, \b, alternation; no lookaround,
# no backreferences — so the scrub is exactly oracle-checkable.
DEFAULT_SCRUB_RULES: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\d+", "<NUM>"),
]


def scrub_text(
    text_col: Column, rules: list[tuple[str, str]] | None = None
) -> Column:
    """Chain of regexp_replace redactions over a string column — all
    JVM-side (whole-stage codegen), no UDF.  Spark's regexp_replace
    replaces every match (DuckDB needs the explicit 'g' flag — the
    generated oracle sets it)."""
    out = text_col
    for pattern, repl in rules or DEFAULT_SCRUB_RULES:
        out = F.regexp_replace(out, pattern, repl)
    return out


def scrub_oracle_expr(
    col_sql: str, rules: list[tuple[str, str]] | None = None
) -> str:
    """DuckDB expression equivalent of scrub_text, generated from the
    SAME rule list so the two cannot drift."""
    out = col_sql
    for pattern, repl in rules or DEFAULT_SCRUB_RULES:
        p = pattern.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{repl}', 'g')"
    return out


# --- sequence packing -------------------------------------------------------


def _ws_token_count(text_col: Column) -> Column:
    # Same whitespace tokenizer as text.with_token_counts (oracle:
    # CASE WHEN trim(t)='' THEN 0 ELSE len(string_split_regex(...)) END).
    return F.when(F.trim(text_col) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(text_col), r"\s+"))
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ctx: int = 512,
) -> DataFrame:
    """Concat-and-chunk packing layout: documents are laid end-to-end
    in ``id_col`` order and cut into ``ctx``-token context windows.
    Returns per document: ``n_tokens``, ``start_offset`` (global token
    position), ``chunk_id`` (window containing the first token), and
    ``n_chunks`` (windows the document spans).

    The global prefix sum is a two-phase distributed scan:

    1. range-repartition by id, local per-partition token sums →
       exclusive per-partition base offsets (one BIGINT per partition,
       computed on the driver — bounded by the partition count);
    2. a window PARTITIONED BY the range-partition id adds the local
       cumulative sum in parallel.

    Any order-preserving range split yields the same global offsets
    (integer addition is associative), so the result is independent of
    partition boundaries — asserted against a single-window reference
    in tests."""
    base = df.select(
        F.col(id_col).alias("__oid__"), _ws_token_count(F.col(text_col)).alias("n_tokens")
    )
    parts = (
        base.repartitionByRange(F.col("__oid__"))
        .withColumn("__pid__", F.spark_partition_id())
        .transform(materialize)  # consumed by the phase-1
        # sums AND the phase-2 window: both phases MUST see the SAME
        # range partitioning (the driver collects the per-pid base
        # offsets, so a re-run of the sampled exchange with different
        # range bounds would silently mis-join them)
    )
    # Phase 1: one row per partition → exclusive prefix of partition sums.
    psums = (
        parts.groupBy("__pid__").agg(F.sum("n_tokens").alias("psum")).collect()
    )
    bases: dict[int, int] = {}
    running = 0
    for row in sorted(psums, key=lambda r: r["__pid__"]):
        bases[row["__pid__"]] = running
        running += row["psum"] or 0
    base_map = F.create_map(
        *[F.lit(x) for kv in sorted(bases.items()) for x in kv]
    ) if bases else F.create_map()
    # Phase 2: parallel local cumulative sums + the broadcast base.
    local = (
        Window.partitionBy("__pid__")
        .orderBy("__oid__")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = parts.withColumn(
        "start_offset",
        (
            F.element_at(base_map, F.col("__pid__"))
            + F.sum("n_tokens").over(local)
            - F.col("n_tokens")
        ).cast("long"),
    )
    chunk_id = F.floor(F.col("start_offset") / F.lit(float(ctx))).cast("long")
    last_chunk = F.floor(
        (F.col("start_offset") + F.col("n_tokens") - F.lit(1)) / F.lit(float(ctx))
    ).cast("long")
    return packed.select(
        F.col("__oid__").alias(id_col),
        "n_tokens",
        "start_offset",
        chunk_id.alias("chunk_id"),
        F.when(F.col("n_tokens") == 0, F.lit(0).cast("long"))
        .otherwise(last_chunk - chunk_id + F.lit(1))
        .alias("n_chunks"),
    )


def pack_sequences_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    ctx: int = 512,
) -> str:
    """DuckDB oracle for pack_sequences — the single-window reference
    formulation of the same prefix sum (exact: integer token counts)."""
    ntok = (
        f"CASE WHEN trim({text_col}) = '' THEN 0 "
        f"ELSE len(string_split_regex(trim({text_col}), '\\s+')) END"
    )
    return f"""
WITH toks AS (SELECT {id_col}, {ntok} AS n_tokens FROM {table}),
offs AS (SELECT {id_col}, n_tokens,
                CAST(SUM(n_tokens) OVER (ORDER BY {id_col}
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
                  AS BIGINT) AS start_offset
         FROM toks)
SELECT {id_col}, n_tokens, start_offset,
       CAST(FLOOR(start_offset / {ctx}.0) AS BIGINT) AS chunk_id,
       CASE WHEN n_tokens = 0 THEN 0
            ELSE CAST(FLOOR((start_offset + n_tokens - 1) / {ctx}.0) AS BIGINT)
                 - CAST(FLOOR(start_offset / {ctx}.0) AS BIGINT) + 1 END
         AS n_chunks
FROM offs
"""

# --- dataset mixture weighting ---------------------------------------------

MIX_BUCKETS = 10_000  # basis-point granularity of the mixture hash


def _mix_weight_parts(weight: float) -> tuple[int, int]:
    """Split a non-negative sampling weight into (whole copies,
    fractional basis points).  All downstream arithmetic is integer —
    the Spark plan and the generated oracle share these exact ints, so
    no float rounding can ever diverge between engines."""
    if weight < 0:
        raise ValueError(f"mixture weight must be >= 0, got {weight!r}")
    base = int(weight)
    frac_bp = int(round((weight - base) * MIX_BUCKETS))
    if frac_bp == MIX_BUCKETS:  # e.g. 1.99999 rounds up to the next whole copy
        base, frac_bp = base + 1, 0
    return base, frac_bp


def _mix_bucket(key_col: str, seed: int) -> Column:
    # Same md5 basis-point bucket as operators.extensions.apply_sample
    # (the split_assign hashing contract): deterministic on the KEY, so
    # the selected subset is stable across engines, partitionings, and
    # reruns with the same seed.
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f":{seed}"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % MIX_BUCKETS
    )


def weighted_mixture(
    df: DataFrame,
    group_col: str,
    weights: dict[str, float],
    key_col: str,
    seed: int = 42,
    default_weight: float = 1.0,
    copy_col: str = "copy",
) -> DataFrame:
    """Deterministic per-group dataset mixing — the domain/epoch
    re-weighting stage of an LLM pretraining pipeline (downsample
    over-represented sources, repeat under-represented ones).  Each row
    in group ``g`` with weight ``w`` appears ``floor(w)`` times, plus
    once more iff its md5 bucket falls under ``frac(w)`` of the key
    space; ``copy_col`` numbers the replicas 1..n.  ``w = 0`` drops the
    group, ``w = 1`` keeps it verbatim, ``w = 2.5`` repeats every row
    twice and half the rows (a deterministic, hash-chosen half) a third
    time.  Groups absent from ``weights`` (and NULL groups) get
    ``default_weight``.

    The realized rate is exact at basis-point granularity over the
    hashed key population, and the SAME key subset survives a
    downsample or gains the extra replica (the hash plays the role of a
    per-key uniform draw, cf. SampleOperation.key_column).

    Scale: one narrow projection + explode — no shuffle, no UDF; the
    replication factor applies BEFORE any downstream shuffle, so a 0.1×
    group costs 0.1× everywhere downstream.  This is ``df.sampleBy``
    plus replication, made engine-exact (sampleBy's Bernoulli draw is
    partitioning-dependent and can't be oracle-checked).

    Reference parity: none — the reference engine (Antix5/OpenETLAgent)
    has no sampling vocabulary at all (SURVEY §2.2); this extends the
    engine the way dedup/contamination do."""
    parts = {g: _mix_weight_parts(w) for g, w in weights.items()}
    dbase, dfrac = _mix_weight_parts(default_weight)
    bucket = _mix_bucket(key_col, seed)

    def n_for(base: int, frac_bp: int) -> Column:
        n = F.lit(base).cast("long")
        if frac_bp:
            n = n + (bucket < F.lit(frac_bp)).cast("long")
        return n

    n_copies = None
    for g, (base, frac_bp) in parts.items():
        cond = F.col(group_col) == F.lit(g)
        n_copies = (
            F.when(cond, n_for(base, frac_bp))
            if n_copies is None
            else n_copies.when(cond, n_for(base, frac_bp))
        )
    default_n = n_for(dbase, dfrac)
    n_copies = default_n if n_copies is None else n_copies.otherwise(default_n)

    return (
        df.withColumn("__n_copies__", n_copies)
        .filter(F.col("__n_copies__") > 0)
        .withColumn(
            copy_col,
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("__n_copies__"))),
        )
        .drop("__n_copies__")
    )


def mixture_oracle_sql(
    table: str,
    group_col: str,
    weights: dict[str, float],
    key_col: str,
    seed: int = 42,
    default_weight: float = 1.0,
    copy_col: str = "copy",
    select_cols: list[str] | None = None,
) -> str:
    """DuckDB oracle for weighted_mixture, generated from the same
    (base, frac_bp) integer pairs and the same md5 bucket formula, so
    the two cannot drift.  ``generate_series(1, 0)`` is empty in DuckDB
    and ``unnest`` of an empty list yields no rows — the n = 0 case
    drops rows exactly like the Spark filter."""
    parts = {g: _mix_weight_parts(w) for g, w in weights.items()}
    dbase, dfrac = _mix_weight_parts(default_weight)
    bucket = (
        f"(CAST(('0x' || substr(md5(CAST({key_col} AS VARCHAR) || ':{seed}'), 1, 8)) "
        f"AS BIGINT) % {MIX_BUCKETS})"
    )

    def n_for(base: int, frac_bp: int) -> str:
        if frac_bp:
            return f"{base} + CASE WHEN {bucket} < {frac_bp} THEN 1 ELSE 0 END"
        return str(base)

    branches = " ".join(
        f"WHEN {group_col} = '{g}' THEN {n_for(b, f)}" for g, (b, f) in parts.items()
    )
    case = f"CASE {branches} ELSE {n_for(dbase, dfrac)} END" if branches else n_for(dbase, dfrac)
    cols = ", ".join(select_cols) if select_cols else "*"
    return (
        f"WITH n AS (SELECT {cols}, CAST({case} AS BIGINT) AS __n__ FROM {table}) "
        f"SELECT * EXCLUDE (__n__), CAST(unnest(generate_series(1, __n__)) AS BIGINT) "
        f"AS {copy_col} FROM n WHERE __n__ > 0"
    )


# --- stratified sampling ----------------------------------------------------


def stratified_sample(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    k: int,
    seed: int = 42,
    rank_column: str | None = None,
) -> DataFrame:
    """Deterministic exact-``k``-per-group sample: within each group the
    rows are ranked by ``md5(key || '-' || seed)`` (key as tiebreak) and
    the first ``k`` survive.

    This is the curation-grade replacement for ``sampleBy``: the
    fraction-based sampler gives only EXPECTED counts and reshuffles
    membership when the data is re-partitioned, while the hash rank is
    an exact per-group quota, independent of partitioning and of
    engine, and REPRODUCIBLE — the same (key, seed) always lands on the
    same side.  One shuffle on the group key; per-group state is a
    top-k heap-sized window.  For heavily skewed groups at 100 TB, the
    rank window is the same shape Spark uses for any top-k-per-group —
    AQE skew-split applies.

    ``rank_column`` optionally exposes the 1-based rank in the output
    (e.g. to take nested subsamples downstream without re-hashing).
    """
    if k <= 0:
        raise ValueError(f"stratified_sample k must be positive, got {k}")
    if not group_cols:
        raise ValueError("stratified_sample requires group_cols")
    if rank_column and rank_column in df.columns:
        # withColumnRenamed would silently produce two same-named
        # columns and ambiguous references downstream (the
        # classifier_score keep_all clash guard)
        raise ValueError(
            f"stratified_sample rank_column {rank_column!r} already exists in input"
        )
    # coalesce the key to '' BEFORE hashing: concat_ws silently skips
    # NULL args (md5('42')) while the oracle's || propagates NULL
    # (md5(NULL) = NULL) — the explicit coalesce makes both engines
    # hash the identical string for NULL keys, and NULLS FIRST is
    # pinned on the tie-break (Spark's asc default; DuckDB defaults to
    # NULLS LAST and must be told).
    key_str = F.coalesce(F.col(key_col).cast("string"), F.lit(""))
    h = F.md5(F.concat_ws("-", key_str, F.lit(str(seed))))
    w = Window.partitionBy(*group_cols).orderBy(h.asc(), F.col(key_col).asc_nulls_first())
    ranked = df.withColumn("_x_rank", F.row_number().over(w))
    out = ranked.filter(F.col("_x_rank") <= k)
    if rank_column:
        return out.withColumnRenamed("_x_rank", rank_column)
    return out.drop("_x_rank")


def stratified_sample_oracle_sql(
    source_sql: str,
    group_cols: list[str],
    key_col: str,
    k: int,
    seed: int = 42,
    out_cols: list[str] | None = None,
) -> str:
    """ANSI mirror of :func:`stratified_sample` (DuckDB md5 is
    bit-identical to Spark's, so the rank order matches exactly)."""
    groups = ", ".join(group_cols)
    cols = ", ".join(out_cols) if out_cols else "* EXCLUDE (rnk)"
    return (
        f"SELECT {cols} FROM ("
        f"SELECT *, ROW_NUMBER() OVER (PARTITION BY {groups} "
        f"ORDER BY md5(COALESCE(CAST({key_col} AS VARCHAR), '') || '-' || '{seed}'), "
        f"{key_col} NULLS FIRST) AS rnk "
        f"FROM ({source_sql})) WHERE rnk <= {k}"
    )


def weighted_sample(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    weight_col: str,
    k: int,
    seed: int = 42,
    rank_column: str | None = None,
) -> DataFrame:
    """Deterministic WEIGHTED ``k``-per-group sample — sequential
    Poisson sampling (Ohlsson 1998, the PPS scheme survey statisticians
    use for probability-proportional-to-size estimation): each row gets
    rank ``h / w`` where ``h`` is the 52-bit md5 prefix of
    ``(key ∥ seed)`` (13 hex chars — exactly representable as a
    double) and ``w`` its weight; the ``k`` smallest ranks per group
    survive.  Inclusion probability is ≈ proportional to weight — the
    training-data mixing primitive (sample by quality score, token
    count, or source priority) that uniform hash sampling
    (:func:`stratified_sample`, the w=const special case) cannot
    express.

    Engine-exact: ``h`` is an exact integer-valued double, ``h / w``
    is ONE IEEE division (bit-identical in any engine), and ties break
    on (h, key) — so the sampled SET is reproducible across engines,
    runs, and partitionings.  Rows with NULL or non-positive weight are
    EXCLUDED (they have no defined inclusion probability); NULL keys
    hash as '' (the stratified_sample convention).

    Scale: one shuffle on the group key; per-group state is the top-k
    window heap.  Weights need no normalization pass — ranks compare
    within the group without knowing the group's weight total, which is
    what makes this a one-pass distributed PPS sample."""
    if k <= 0:
        raise ValueError(f"weighted_sample k must be positive, got {k}")
    if not group_cols:
        raise ValueError("weighted_sample requires group_cols")
    if rank_column and rank_column in df.columns:
        raise ValueError(
            f"weighted_sample rank_column {rank_column!r} already exists in input"
        )
    key_str = F.coalesce(F.col(key_col).cast("string"), F.lit(""))
    h = (
        F.conv(
            F.substring(F.md5(F.concat_ws("-", key_str, F.lit(str(seed)))), 1, 13),
            16,
            10,
        )
        .cast("long")
        .cast("double")
    )
    w = F.col(weight_col).cast("double")
    r = h / w
    wnd = Window.partitionBy(*group_cols).orderBy(
        r.asc(), h.asc(), F.col(key_col).asc_nulls_first()
    )
    ranked = df.where(w > 0).withColumn("_x_wrank", F.row_number().over(wnd))
    out = ranked.filter(F.col("_x_wrank") <= k)
    if rank_column:
        return out.withColumnRenamed("_x_wrank", rank_column)
    return out.drop("_x_wrank")


def weighted_sample_oracle_sql(
    source_sql: str,
    group_cols: list[str],
    key_col: str,
    weight_col: str,
    k: int,
    seed: int = 42,
    out_cols: list[str] | None = None,
) -> str:
    """ANSI mirror of :func:`weighted_sample` — same 52-bit hash, same
    single division, same tiebreaks."""
    groups = ", ".join(group_cols)
    cols = ", ".join(out_cols) if out_cols else "* EXCLUDE (rnk)"
    h = (
        f"CAST(('0x' || substr(md5(COALESCE(CAST({key_col} AS VARCHAR), '') "
        f"|| '-' || '{seed}'), 1, 13)) AS BIGINT)"
    )
    return (
        f"SELECT {cols} FROM ("
        f"SELECT *, ROW_NUMBER() OVER (PARTITION BY {groups} "
        f"ORDER BY CAST({h} AS DOUBLE) / CAST({weight_col} AS DOUBLE), "
        f"{h}, {key_col} NULLS FIRST) AS rnk "
        f"FROM ({source_sql}) WHERE CAST({weight_col} AS DOUBLE) > 0"
        f") WHERE rnk <= {k}"
    )


# --- overlapping chunking ---------------------------------------------------


def chunk_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int = 512,
    overlap: int = 0,
) -> DataFrame:
    """Split each document into whitespace-token windows of
    ``chunk_size`` tokens advancing by ``chunk_size - overlap`` — the
    RAG/embedding chunking layout (overlap keeps context that straddles
    a boundary retrievable from both sides).  Returns one row per chunk:
    ``(id, chunk_idx, chunk_text, chunk_tokens)``; documents with NULL
    or empty/whitespace-only text yield no rows.

    Pure JVM expressions: the token split binds ONCE per row as a
    lambda variable (same pattern as text.with_repetition), chunk
    starts come from a stride ``sequence``, and each window is an
    ``slice`` + join — no shuffle, no Python, embarrassingly parallel.
    The trailing window is included even when shorter than
    ``chunk_size`` (it holds the document's tail tokens).
    """
    if chunk_size <= 0:
        raise ValueError(f"chunk_text chunk_size must be positive, got {chunk_size}")
    if not (0 <= overlap < chunk_size):
        raise ValueError(
            f"chunk_text overlap must be in [0, chunk_size), got {overlap}"
        )
    stride = chunk_size - overlap

    def _chunks(toks: Column) -> Column:
        n = F.size(toks)
        starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride))
        return F.transform(
            F.filter(starts, lambda s: s <= n),
            lambda s: F.struct(
                F.floor((s - 1) / stride).cast("long").alias("idx"),
                F.concat_ws(" ", F.slice(toks, s, chunk_size)).alias("txt"),
                F.least(n - s + 1, F.lit(chunk_size)).cast("long").alias("ntok"),
            ),
        )

    # empty/whitespace-only text must chunk to NOTHING: split('')
    # yields [''] (size 1), which would emit a phantom 1-token empty
    # chunk — the same special case with_token_counts makes for
    # token_count = 0.
    trimmed = F.trim(F.lower(F.col(text_col)))
    toks_expr = F.when(
        trimmed == F.lit(""), F.array().cast("array<string>")
    ).otherwise(F.split(trimmed, r"\s+"))
    chunks = F.element_at(F.transform(F.array(toks_expr), _chunks), 1)
    return (
        df.select(F.col(id_col), F.explode(chunks).alias("_x_c"))
        .select(
            id_col,
            F.col("_x_c.idx").alias("chunk_idx"),
            F.col("_x_c.txt").alias("chunk_text"),
            F.col("_x_c.ntok").alias("chunk_tokens"),
        )
    )


def chunk_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    chunk_size: int = 512,
    overlap: int = 0,
) -> str:
    """DuckDB mirror of :func:`chunk_text`, generated from the same
    geometry so the two cannot drift."""
    stride = chunk_size - overlap
    toks = (
        f"CASE WHEN trim(lower({text_col})) = '' THEN []::VARCHAR[] "
        f"ELSE {_toks_sql(text_col)} END"
    )
    return (
        f"SELECT {id_col}, "
        f"CAST((s - 1) // {stride} AS BIGINT) AS chunk_idx, "
        f"array_to_string(t[s : s + {chunk_size} - 1], ' ') AS chunk_text, "
        f"CAST(least(len(t) - s + 1, {chunk_size}) AS BIGINT) AS chunk_tokens "
        f"FROM (SELECT {id_col}, t, unnest(range(1, len(t) + 1, {stride})) AS s "
        f"FROM (SELECT {id_col}, {toks} AS t FROM {table}) base)"
    )


# --- global training-order shuffle ------------------------------------------


def _two_phase_global_rank(
    df: DataFrame, sort_cols: list[Column], position_column: str
) -> DataFrame:
    """Exact 1-based global rank by ``sort_cols`` via the two-phase
    distributed prefix scan — never a single-partition window (the one
    place this pattern lives; global_shuffle and curriculum_order both
    rank through it).  Range-repartition on the sort columns; one
    BIGINT per partition of driver state folds into exclusive base
    offsets; a pid-partitioned window ranks locally; local rank +
    broadcast base = exact global position.  Range bounds come from
    sampling and may vary run to run — positions do NOT (offsets are
    computed from actual counts).  The repartitioned frame is eagerly
    localCheckpoint-ed: both phases see ONE sampled split and the
    blocks free with the result."""
    parts = (
        df.repartitionByRange(*sort_cols)
        .withColumn("_x_pid", F.spark_partition_id())
        # phase 2 joins the driver-collected per-pid bases — the
        # sampled range exchange must never re-run
        .transform(materialize)
    )
    psums = parts.groupBy("_x_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    bases: dict[int, int] = {}
    running = 0
    for row in sorted(psums, key=lambda r: r["_x_pid"]):
        bases[row["_x_pid"]] = running
        running += row["n"]
    base_map = (
        F.create_map(*[F.lit(x) for kv in sorted(bases.items()) for x in kv])
        if bases
        else F.create_map()
    )
    local = Window.partitionBy("_x_pid").orderBy(*sort_cols)
    return parts.withColumn(
        position_column,
        (F.element_at(base_map, F.col("_x_pid")) + F.row_number().over(local)).cast(
            "long"
        ),
    ).drop("_x_pid")


def two_phase_group_rank(
    df: DataFrame,
    group_cols: list[str],
    sort_cols: list[Column],
    rank_column: str,
    count_column: str | None = None,
) -> DataFrame:
    """Exact 1-based rank WITHIN each group by ``sort_cols`` — the
    grouped sibling of :func:`_two_phase_global_rank`, for when the
    grouping key has BOUNDED cardinality far below the partition count
    (3-value flags, sources, shards).  A plain
    ``Window.partitionBy(group)`` there is the classic skew trap: each
    window partition is a corpus-sized single-task sort.  Instead:

    1. range-repartition on (group_cols ++ sort_cols) — range splits
       respect the group-major order, so each group occupies a
       contiguous pid range and every partition sorts locally in
       parallel;
    2. per-(pid, group) row counts collect to the driver (bounded by
       partitions × groups BIGINTs) and fold, in pid order within each
       group, into exclusive base offsets;
    3. a (pid, group)-partitioned window ranks locally; local rank +
       broadcast base = exact within-group rank.

    ``count_column`` optionally also emits the group's total row count
    (summed from the same driver-side counts — no second pass), which
    rank-based discretizers (NTILE semantics) need.

    Range bounds come from sampling and may vary run to run — ranks do
    NOT (offsets fold actual counts).  The repartitioned frame is
    eagerly localCheckpoint-ed: phase 3 joins
    driver-collected bases, so the sampled exchange must never re-run.
    NULL group values take the '' map key (groups whose string forms
    collide would share ranks — callers with NULLable groups must
    pre-coalesce distinctly)."""
    gcols = [F.col(g) for g in group_cols]
    gkey = F.concat_ws(
        "\x1f", *[F.coalesce(g.cast("string"), F.lit("")) for g in gcols]
    )
    parts = (
        df.repartitionByRange(*gcols, *sort_cols)
        .withColumn("_x_pid", F.spark_partition_id())
        .withColumn("_x_gkey", gkey)
        .transform(materialize)
    )
    psums = (
        parts.groupBy("_x_pid", "_x_gkey").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    if len(psums) > 50_000:
        raise ValueError(
            f"two_phase_group_rank: {len(psums)} (partition, group) count "
            "rows — the group key is not bounded-cardinality (the contract "
            "above); a create_map literal this size would blow up the "
            "analyzer. Use _two_phase_global_rank per group subset, or a "
            "plain window when groups are numerous and small."
        )
    bases: dict[tuple[int, str], int] = {}
    totals: dict[str, int] = {}
    for row in sorted(psums, key=lambda r: (r["_x_gkey"], r["_x_pid"])):
        bases[(row["_x_pid"], row["_x_gkey"])] = totals.get(row["_x_gkey"], 0)
        totals[row["_x_gkey"]] = totals.get(row["_x_gkey"], 0) + row["n"]
    base_map = (
        F.create_map(
            *[
                x
                for (pid, gk), base in sorted(bases.items())
                for x in (F.lit(f"{pid}\x1f{gk}"), F.lit(base))
            ]
        )
        if bases
        else F.create_map()
    )
    local = Window.partitionBy("_x_pid", "_x_gkey").orderBy(*sort_cols)
    out = parts.withColumn(
        rank_column,
        (
            F.element_at(
                base_map,
                F.concat_ws("\x1f", F.col("_x_pid").cast("string"), F.col("_x_gkey")),
            )
            + F.row_number().over(local)
        ).cast("long"),
    )
    if count_column is not None:
        total_map = (
            F.create_map(
                *[x for gk, n in sorted(totals.items()) for x in (F.lit(gk), F.lit(n))]
            )
            if totals
            else F.create_map()
        )
        out = out.withColumn(
            count_column, F.element_at(total_map, F.col("_x_gkey")).cast("long")
        )
    return out.drop("_x_pid", "_x_gkey")


def curriculum_order(
    df: DataFrame,
    score_col: str,
    id_col: str,
    ascending: bool = False,
    position_column: str = "position",
    batch_size: int | None = None,
    batch_column: str = "batch_id",
) -> DataFrame:
    """Deterministic global CURRICULUM order: rank the whole dataset by
    a quality/difficulty signal (highest-quality first by default —
    the standard quality-curriculum; ``ascending=True`` for
    easy-to-hard by a difficulty score), ties broken by ``id_col`` so
    the order is total and reproducible on any partitioning.  With
    ``batch_size``, also assign ``batch_column`` = (position-1) //
    batch_size — the consumption order a curriculum dataloader reads.

    NULL scores order LAST in both directions (no evidence → end of
    curriculum), spelled out identically in the SQL mirror.  Same
    two-phase prefix-rank shape as global_shuffle: one range exchange,
    one BIGINT per partition of driver state, pid-local windows."""
    score = F.col(score_col)
    sort_cols = [
        score.asc_nulls_last() if ascending else score.desc_nulls_last(),
        F.col(id_col).asc(),
    ]
    out = _two_phase_global_rank(df, sort_cols, position_column)
    if batch_size is not None:
        if batch_size <= 0:
            raise ValueError(f"curriculum_order batch_size must be positive, got {batch_size!r}")
        out = out.withColumn(
            batch_column,
            # integer DIV, not double `/`: bit-exact at any position
            F.expr(f"CAST((`{position_column}` - 1) DIV {batch_size} AS BIGINT)"),
        )
    return out


def curriculum_order_oracle_sql(
    table: str,
    score_col: str,
    id_col: str,
    ascending: bool = False,
    position_column: str = "position",
    batch_size: int | None = None,
    batch_column: str = "batch_id",
    select_cols: list[str] | None = None,
) -> str:
    """DuckDB mirror of :func:`curriculum_order` — same direction,
    same NULLS LAST, same tie-break, same integer batch math."""
    direction = "ASC" if ascending else "DESC"
    cols = ", ".join(select_cols or ["*"])
    pos = (
        f"CAST(row_number() OVER (ORDER BY {score_col} {direction} NULLS LAST, "
        f"{id_col}) AS BIGINT) AS {position_column}"
    )
    inner = f"SELECT {cols}, {pos} FROM {table}"
    if batch_size is None:
        return inner
    return (
        f"SELECT *, CAST(({position_column} - 1) // {batch_size} AS BIGINT) "
        f"AS {batch_column} FROM ({inner}) t"
    )


def global_shuffle(
    df: DataFrame,
    key_col: str,
    seed: int = 42,
    key_column: str = "shuffle_key",
    position_column: str = "position",
) -> DataFrame:
    """Deterministic global permutation — the training-order shuffle
    every pretraining run needs before sequence packing (local
    per-partition shuffles leave source/time runs intact; a biased
    order measurably hurts early training).  Each row gets
    ``md5(key || '-' || seed)`` as its shuffle key and the 1-based rank
    of that key over the WHOLE dataset as ``position`` — reproducible
    from (key, seed) alone, independent of engine, partitioning, and
    input order, and changing ``seed`` draws a fresh permutation.

    The global rank is the same two-phase distributed prefix scan as
    :func:`pack_sequences` — never a single-partition window:

    1. range-repartition on (shuffle_key, key); per-partition row
       counts collect to the driver (one BIGINT per partition) and
       fold into exclusive base offsets;
    2. a window PARTITIONED BY the range-partition id ranks locally in
       parallel; local rank + broadcast base = exact global position.

    Range boundaries come from sampling and may vary run to run —
    positions do NOT: offsets are computed from the actual counts, so
    any order-preserving split yields the identical permutation
    (asserted against a single-window reference in tests).

    The repartitioned frame is eagerly localCheckpoint-ed: it feeds
    both phases, the truncated lineage pins one sampled range split
    (a re-executed exchange could sample different bounds), and the
    blocks free when the returned DataFrame is garbage-collected —
    no session-lifetime cache leak, cf. incremental_dedup.
    """
    key_str = F.coalesce(F.col(key_col).cast("string"), F.lit(""))
    h = F.md5(F.concat_ws("-", key_str, F.lit(str(seed))))
    ranked = _two_phase_global_rank(
        df.withColumn("_x_shuf", h),
        [F.col("_x_shuf").asc(), F.col(key_col).asc_nulls_first()],
        position_column,
    )
    return ranked.withColumnRenamed("_x_shuf", key_column)


def global_shuffle_oracle_sql(
    table: str,
    key_col: str,
    seed: int = 42,
    key_column: str = "shuffle_key",
    position_column: str = "position",
    select_cols: list[str] | None = None,
) -> str:
    """DuckDB mirror of :func:`global_shuffle` — the single-window
    reference formulation of the same rank (md5 strings are identical
    across engines, so the permutation matches exactly)."""
    cols = ", ".join(select_cols) if select_cols else "*"
    h = f"md5(COALESCE(CAST({key_col} AS VARCHAR), '') || '-' || '{seed}')"
    return (
        f"SELECT {cols}, {h} AS {key_column}, "
        f"CAST(ROW_NUMBER() OVER (ORDER BY {h}, {key_col} NULLS FIRST) AS BIGINT) "
        f"AS {position_column} FROM {table}"
    )


# --- per-group quantile filtering -------------------------------------------


def quantile_filter(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    q: float = 0.75,
    threshold_column: str | None = None,
) -> DataFrame:
    """Keep rows whose ``value_col`` is at or above their group's
    ``q``-quantile — the relative quality-gate stage of a curation
    pipeline (e.g. keep each source's top quartile by quality score,
    so no source is wiped out by a global absolute threshold).

    Two narrow passes: an exact grouped PERCENTILE_CONT aggregate
    (group-cardinality-sized — sources/domains/languages are bounded)
    BROADCASTS back onto the corpus, so the corpus itself never
    shuffles; the filter prunes before anything downstream.  Rows with
    NULL group keys or NULL values drop (no group / no evidence), same
    as the SQL mirror's join + comparison semantics.

    ``threshold_column`` optionally exposes the group threshold on the
    surviving rows.  Exactness: the interpolated quantile is the same
    double in both engines (cf. the `percentile` harness query), and
    the comparison is per-row — no accumulation."""
    if not group_cols:
        raise ValueError("quantile_filter requires group_cols")
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile_filter q must be in (0, 1), got {q!r}")
    thr = df.groupBy(*group_cols).agg(
        F.percentile(F.col(value_col), F.lit(q)).alias("_x_thr")
    )
    out = df.join(F.broadcast(thr), group_cols, "inner").filter(
        F.col(value_col).cast("double") >= F.col("_x_thr")
    )
    if threshold_column:
        return out.withColumnRenamed("_x_thr", threshold_column)
    return out.drop("_x_thr")


def quantile_filter_oracle_sql(
    table: str,
    group_cols: list[str],
    value_col: str,
    q: float = 0.75,
    threshold_column: str = "threshold",
    select_cols: list[str] | None = None,
) -> str:
    """DuckDB mirror of :func:`quantile_filter`, generated from the
    same (group_cols, value_col, q) so the two cannot drift."""
    groups = ", ".join(group_cols)
    on = " AND ".join(f"d.{g} = t.{g}" for g in group_cols)
    cols = (
        ", ".join(f"d.{c}" for c in select_cols)
        if select_cols
        else "d.*"
    )
    return (
        f"SELECT {cols}, t._x_thr AS {threshold_column} FROM {table} d "
        f"JOIN (SELECT {groups}, quantile_cont({value_col}, {q}) AS _x_thr "
        f"FROM {table} GROUP BY {groups}) t ON {on} "
        f"WHERE CAST(d.{value_col} AS DOUBLE) >= t._x_thr"
    )


# --- near-duplicate contamination (cross-corpus minhash) --------------------


def side_tagged_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    **minhash_kwargs,
) -> DataFrame:
    """Banded MinHash pairs over the union of two sides, keyed on a
    (side, id) STRUCT — the shared core of :func:`near_contamination`
    and incremental.incremental_neardup.  The struct key matters
    twice: distinct keys across sides even when ids collide (a plain
    id could never pair a row with its same-id counterpart — the
    exact-contamination case — because pairing requires
    ``key_a < key_b``), and struct ordering compares side first, so a
    cross pair always carries the left/batch row in ``id_a``.  Returns
    the raw pair table (id_a, id_b structs with fields s/i, jaccard);
    callers filter sides.  One banding shuffle; shared here so the key
    construction cannot drift between the two gates."""
    from .dedup import minhash_lsh_pairs

    tagged = (
        left.select(F.col(id_col), F.col(text_col), F.lit(0).alias("__side__"))
        .unionByName(
            right.select(F.col(id_col), F.col(text_col), F.lit(1).alias("__side__"))
        )
        .select(
            F.struct(
                F.col("__side__").alias("s"), F.col(id_col).alias("i")
            ).alias("__cid__"),
            F.col(text_col),
        )
    )
    return minhash_lsh_pairs(tagged, "__cid__", text_col, **minhash_kwargs)


def near_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    seed: int = 42,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate decontamination: (corpus_id, bench_id, jaccard)
    pairs whose word-shingle Jaccard meets ``threshold`` — the
    paraphrase-level companion to :func:`contamination_check`, which
    only catches EXACT shingle overlap.  A benchmark item lightly
    rewritten into the training corpus passes the exact check but
    collides here in ≥1 MinHash band.

    Implementation: tag sides, union, and run the SAME banded MinHash
    pipeline as dedup (functions/dedup.py minhash_lsh_pairs — scan →
    signature → one (band,hash) shuffle → capped bucket pairing →
    exact-Jaccard verify) keyed on a (side, id) STRUCT, then keep only
    the cross-side pairs.  The struct key matters: pairing requires
    ``key_a < key_b``, so with a plain id a benchmark row sharing its
    id with a corpus row could never pair with it — the exact
    contamination case — and would be missed silently; (side, id)
    keys are distinct across sides by construction, and the side
    embeds in the pair, so no join-back is needed.  Reusing the union
    keeps the candidate geometry identical to the dedup family (and
    its generated oracle); the corpus–corpus pairs it also surfaces
    are dropped by the side filter after the (small) pair set exists,
    so no extra wide work.  Every stage is engine-exact, so the full
    check hash-matches the generated oracle; rows with NULL text never
    pair."""
    pairs = side_tagged_pairs(
        corpus, bench, id_col, text_col,
        n=shingle_size, threshold=threshold, bands=bands,
        rows_per_band=num_perm // bands, seed=seed, max_bucket=max_bucket,
    )
    # struct ordering puts the corpus row in id_a of every cross pair —
    # the CASE below still handles both orientations for robustness
    out = pairs.filter(F.col("id_a.s") != F.col("id_b.s"))
    corpus_id = F.when(F.col("id_a.s") == 0, F.col("id_a.i")).otherwise(F.col("id_b.i"))
    bench_id = F.when(F.col("id_a.s") == 1, F.col("id_a.i")).otherwise(F.col("id_b.i"))
    return out.select(
        corpus_id.alias("corpus_id"), bench_id.alias("bench_id"), F.col("jaccard")
    )


def near_contamination_oracle_sql(
    union_table: str,
    bench_predicate: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    bands: int = 16,
    rows_per_band: int = 4,
    shingle_size: int = 3,
    seed: int = 42,
    max_bucket: int = 1000,
) -> str:
    """DuckDB mirror of :func:`near_contamination`, built
    on the SAME generated pair SQL as the dedup family
    (dedup.ngram_pairs_oracle_sql, same band geometry) over the union
    table, with side membership decided by ``bench_predicate`` — a SQL
    predicate TEMPLATE over the id written with an ``{id}``
    placeholder, e.g. ``"{id} % 20 = 0"`` (a naive textual
    id-column substitution would corrupt predicates where the column
    name appears inside another identifier).  Assumes the predicate
    splits the union into DISJOINT id sets (a plain-id pair
    formulation cannot express the same-id cross pair the Spark
    struct-keyed implementation additionally catches)."""
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
    if "{id}" not in bench_predicate:
        raise ValueError(
            "bench_predicate must be an {id}-placeholder template, e.g. '{id} % 20 = 0'"
        )
    pa = bench_predicate.format(id="id_a")
    pb = bench_predicate.format(id="id_b")
    return (
        f"WITH prs AS ({pair_sql}) "
        f"SELECT CASE WHEN NOT ({pa}) THEN id_a ELSE id_b END AS corpus_id, "
        f"CASE WHEN ({pa}) THEN id_a ELSE id_b END AS bench_id, jaccard "
        f"FROM prs WHERE ({pa}) != ({pb})"
    )


# --- corpus novelty & cross-source overlap -----------------------------------


def doc_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document NOVELTY: the fraction of a document's distinct
    word-``n``-gram shingles that appear in NO other document — the
    inverse signal of contamination/duplication (novelty ≈ 1 for
    original text, → 0 for boilerplate and templates), used to
    prioritize genuinely new material in a crawl.

    Returns (id, n_shingles, n_unique, novelty_rate).  Documents whose
    text is NULL drop; a document with zero shingles reports NULL rate.

    Scale shape (100 TB): shingle codes materialize once (eager
    localCheckpoint — they feed the corpus df counts AND the join-back,
    the contamination_check diamond); the df count is ONE map-side-
    combined shuffle on the 8-byte code; the verdict join returns only
    (code, df=1) rows.  Exactness: integer counts, one division."""
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id__"),
        word_ngram_codes(F.col(text_col), n).alias("__codes__"),
    ).transform(materialize)
    exploded = base.select("__id__", F.explode("__codes__").alias("code"))
    # (id, code) pairs are distinct (word_ngram_codes dedups per doc),
    # so COUNT(*) per code IS the document frequency
    singles = (
        exploded.groupBy("code")
        .agg(F.count(F.lit(1)).alias("__df__"))
        .filter(F.col("__df__") == 1)
        .select("code")
    )
    uniq = (
        exploded.join(singles, "code", "left_semi")
        .groupBy("__id__")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    out = (
        base.select("__id__", F.size("__codes__").cast("bigint").alias("n_shingles"))
        .join(uniq, "__id__", "left")
        .withColumn("n_unique", F.coalesce(F.col("n_unique"), F.lit(0)).cast("bigint"))
    )
    return out.select(
        F.col("__id__").alias(id_col),
        "n_shingles",
        "n_unique",
        F.when(
            F.col("n_shingles") > 0,
            F.col("n_unique").cast("double") / F.col("n_shingles").cast("double"),
        ).alias("novelty_rate"),
    )


def doc_novelty_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> str:
    """DuckDB mirror of :func:`doc_novelty` — same shingle formula as
    the contamination/dedup oracles, same df==1 verdict."""
    from .dedup import _FOLD_PRIME, _MERSENNE

    toks = _toks_sql(text_col)
    wcodes = f"list_transform({toks}, w -> CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT))"

    def code_at(off: int) -> str:
        return f"COALESCE(wc[CAST(i AS INTEGER) + {off}], 0)"

    shingle = code_at(0)
    for j in range(1, n):
        shingle = f"(({shingle}) * {_FOLD_PRIME} + {code_at(j)}) % {_MERSENNE}"
    grams = (
        f"list_distinct(list_transform(generate_series(1, greatest(len(wc) - {n - 1}, 1)), "
        f"i -> {shingle}))"
    )
    return f"""
WITH g AS (SELECT {id_col} AS did, {grams} AS grams
           FROM (SELECT {id_col}, {wcodes} AS wc FROM {table}
                 WHERE {text_col} IS NOT NULL)),
e AS (SELECT did, unnest(grams) AS code FROM g),
singles AS (SELECT code FROM e GROUP BY code HAVING count(*) = 1),
u AS (SELECT did, CAST(count(*) AS BIGINT) AS n_unique
      FROM e JOIN singles USING (code) GROUP BY did)
SELECT g.did AS {id_col},
       CAST(len(g.grams) AS BIGINT) AS n_shingles,
       COALESCE(u.n_unique, 0) AS n_unique,
       CASE WHEN len(g.grams) > 0
            THEN COALESCE(u.n_unique, 0)::DOUBLE / len(g.grams)::DOUBLE
       END AS novelty_rate
FROM g LEFT JOIN u ON g.did = u.did
"""


def source_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Cross-SOURCE content overlap: Jaccard similarity between every
    pair of sources' distinct shingle sets — the corpus-composition
    audit that catches mirror sites, syndicated feeds, and duplicated
    crawl slices BEFORE per-document dedup spends compute on them.

    Returns (source_a, source_b, n_a, n_b, n_common, jaccard) for
    source_a < source_b.  Scale shape: distinct (source, code) pairs
    (one distinct shuffle), one collect_list per code — the list is
    bounded by the SOURCE count, never document count — pair expansion
    as a JVM array expression (the dedup-bucket pattern), and set
    sizes broadcast back.  Exactness: integer intersection counts and
    the same i/(a+b-i) division the dedup verifiers hash-match."""
    s = (
        df.filter(F.col(text_col).isNotNull() & F.col(group_col).isNotNull())
        .select(
            F.col(group_col).alias("src"),
            F.explode(word_ngram_codes(F.col(text_col), n)).alias("code"),
        )
        .distinct()
    )
    sizes = s.groupBy("src").agg(F.count(F.lit(1)).alias("n_set"))
    buckets = s.groupBy("code").agg(F.collect_list("src").alias("srcs"))
    srcs = F.col("srcs")
    pair_expr = F.flatten(
        F.transform(
            srcs,
            lambda a: F.transform(
                F.filter(srcs, lambda b: b > a),
                lambda b: F.struct(a.alias("source_a"), b.alias("source_b")),
            ),
        )
    )
    common = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .groupBy("p.source_a", "p.source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(
            F.broadcast(sizes.select(F.col("src").alias("source_a"), F.col("n_set").alias("n_a"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("src").alias("source_b"), F.col("n_set").alias("n_b"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


def source_overlap_oracle_sql(
    table: str = "documents",
    group_col: str = "source",
    text_col: str = "text",
    n: int = 3,
) -> str:
    """DuckDB mirror of :func:`source_overlap` — same shingles, same
    pair orientation, same Jaccard operands."""
    from .dedup import _FOLD_PRIME, _MERSENNE

    toks = _toks_sql(text_col)
    wcodes = f"list_transform({toks}, w -> CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT))"

    def code_at(off: int) -> str:
        return f"COALESCE(wc[CAST(i AS INTEGER) + {off}], 0)"

    shingle = code_at(0)
    for j in range(1, n):
        shingle = f"(({shingle}) * {_FOLD_PRIME} + {code_at(j)}) % {_MERSENNE}"
    grams = (
        f"list_distinct(list_transform(generate_series(1, greatest(len(wc) - {n - 1}, 1)), "
        f"i -> {shingle}))"
    )
    return f"""
WITH s AS (SELECT DISTINCT src, code FROM
           (SELECT {group_col} AS src, unnest(grams) AS code FROM
            (SELECT {group_col}, {grams} AS grams FROM
             (SELECT {group_col}, {wcodes} AS wc FROM {table}
              WHERE {text_col} IS NOT NULL AND {group_col} IS NOT NULL)))),
sizes AS (SELECT src, CAST(count(*) AS BIGINT) AS n_set FROM s GROUP BY src),
common AS (SELECT a.src AS source_a, b.src AS source_b,
                  CAST(count(*) AS BIGINT) AS n_common
           FROM s a JOIN s b ON a.code = b.code AND a.src < b.src
           GROUP BY a.src, b.src)
SELECT c.source_a, c.source_b,
       sa.n_set AS n_a, sb.n_set AS n_b, c.n_common,
       c.n_common::DOUBLE / (sa.n_set + sb.n_set - c.n_common)::DOUBLE AS jaccard
FROM common c
JOIN sizes sa ON sa.src = c.source_a
JOIN sizes sb ON sb.src = c.source_b
"""


# --- HTML → text extraction -------------------------------------------------

# Applied IN ORDER (order matters: block strips before generic tag
# removal, entity decode after tags, &amp; LAST so "&amp;lt;" decodes
# to the literal "&lt;" exactly once — the standard single-pass
# simplification).  Every pattern stays in the regex subset Java
# (Spark) and RE2 (DuckDB) interpret identically: inline (?is) flags,
# non-greedy repeats, char classes — no backreferences (RE2 has none:
# script/style are two patterns, not one with \1).
HTML_STRIP_PATTERNS: list[tuple[str, str]] = [
    (r"(?is)<script\b[^>]*>.*?</script>", " "),
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    # block-level closers become newlines so document structure
    # survives tag removal (the C4 line-level heuristics need lines)
    (r"(?i)<br[^>]*/?>|</p\s*>|</div\s*>|</h[1-6]\s*>|</li\s*>|</tr\s*>", "\n"),
    (r"<[^>]+>", " "),
]
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
]
HTML_WS_PATTERNS: list[tuple[str, str]] = [
    (r"[ \t]+", " "), (r" ?\n ?", "\n"), (r"\n{3,}", "\n\n"),
]


def html_to_text(col: Column) -> Column:
    """Boilerplate HTML → plain text, the stage every web-corpus
    pipeline (C4, CCNet, RefinedWeb) runs FIRST: strip script/style
    blocks and comments, turn block closers into newlines, drop
    remaining tags, decode the common entities, collapse whitespace.
    A deliberate regex extractor (trafilatura-class DOM readability is
    a library problem, not an engine one) — deterministic, pure JVM
    expressions, zero shuffle, and exactly mirrored by
    html_to_text_oracle_expr so the whole stage hash-checks."""
    out = col
    for pat, rep in HTML_STRIP_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    for ent, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    for pat, rep in HTML_WS_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    # final trim as a regex (anchored, default non-multiline in both
    # engines) — avoids any trim(chars) signature skew across engines
    return F.regexp_replace(out, r"^[ \n]+|[ \n]+$", "")


def html_to_text_oracle_expr(col_expr: str) -> str:
    """DuckDB mirror of :func:`html_to_text` — same patterns, same
    order, same trim set; generated from the SAME constant tables."""
    out = col_expr
    for pat, rep in HTML_STRIP_PATTERNS:
        p = pat.replace("'", "''")
        r = rep.replace("\n", "' || chr(10) || '")
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    for ent, ch in HTML_ENTITIES:
        ch_sql = ch.replace("'", "''")
        out = f"replace({out}, '{ent}', '{ch_sql}')"
    for pat, rep in HTML_WS_PATTERNS:
        p = pat.replace("'", "''")
        r = rep.replace("\n", "' || chr(10) || '")
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    return (
        f"regexp_replace({out}, '^[ ' || chr(10) || ']+|[ ' || chr(10) || ']+$', '', 'g')"
    )


# --- per-group token-budget sampling ----------------------------------------


def token_budget_sample(
    df: DataFrame,
    group_col: str,
    tokens_col: str,
    budget: int,
    id_col: str,
    budgets: dict[str, int] | None = None,
    cum_col: str = "cum_tokens",
) -> DataFrame:
    """Keep an unbiased sample of each group capped by a TOKEN budget —
    training mixes are specified in tokens, not documents, so a
    row-count quota (domain_quota, weighted_mixture) over- or
    under-shoots groups whose document lengths differ.  Rows are
    consumed in the engine's seedless hash order (md5(id), id — an
    unbiased deterministic draw) and a row is kept iff it STARTS
    inside its group's budget (greedy prefix; the boundary row may
    overshoot — the standard packing convention).  ``budgets`` maps
    per-group overrides; ``budget`` is the default.  NULL token counts
    weigh 0.

    Scale shape (100 TB): per-group cumulative sums run as a
    DRIVERLESS two-phase prefix scan — range-repartition on (group,
    hash); phase 1 aggregates one (partition, group) sum row; the
    exclusive base offsets fold on that TINY aggregate with a window
    (each group spans few contiguous partitions, so the aggregate is
    O(partitions + groups) rows — never collected); phase 2 adds a
    (partition, group)-local window to the broadcast base.  No
    single-partition window even for a group holding 30 TB.  Appends
    ``cum_col`` (inclusive cumulative tokens within the group, in
    draw order) to the surviving rows."""
    toks = F.coalesce(F.col(tokens_col).cast("long"), F.lit(0))
    parts = (
        df.withColumn("_x_h", F.md5(F.col(id_col).cast("string")))
        .withColumn("_x_t", toks)
        .repartitionByRange(F.col(group_col), F.col("_x_h"), F.col(id_col))
        .withColumn("_x_pid", F.spark_partition_id())
        # phase 2 joins bases keyed by this exact
        # sampled range split — it must never re-run differently
        .transform(materialize)
    )
    agg = parts.groupBy("_x_pid", group_col).agg(F.sum("_x_t").alias("_x_s"))
    wb = (
        Window.partitionBy(group_col)
        .orderBy("_x_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = agg.withColumn(
        "_x_base", F.coalesce(F.sum("_x_s").over(wb), F.lit(0))
    ).drop("_x_s")
    wl = Window.partitionBy("_x_pid", group_col).orderBy("_x_h", id_col)
    joined = parts.join(F.broadcast(bases), ["_x_pid", group_col])
    cum = (F.col("_x_base") + F.sum("_x_t").over(wl)).cast("long")
    bexpr = F.lit(int(budget))
    if budgets:
        bmap = F.create_map(*[F.lit(x) for kv in budgets.items() for x in kv])
        bexpr = F.coalesce(F.element_at(bmap, F.col(group_col)), bexpr)
    return (
        joined.withColumn(cum_col, cum)
        .filter((F.col(cum_col) - F.col("_x_t")) < bexpr)
        .drop("_x_h", "_x_t", "_x_pid", "_x_base")
    )


def token_budget_oracle_sql(
    inner_sql: str,
    group_col: str,
    tokens_expr: str,
    budget: int,
    id_col: str,
    select_cols: list[str],
    cum_col: str = "cum_tokens",
) -> str:
    """DuckDB mirror of :func:`token_budget_sample` (default budget
    only): one inclusive SUM window in the same (md5(id), id) draw
    order — the two-phase Spark scan computes exactly this."""
    cols = ", ".join(select_cols)
    return (
        f"SELECT {cols}, {cum_col} FROM ("
        # CAST: DuckDB's SUM over BIGINT yields HUGEINT, which the
        # pandas bridge floats — the r03 hash-skew class
        f"SELECT *, CAST(SUM(__t) OVER (PARTITION BY {group_col} "
        f"ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col} "
        f"ROWS UNBOUNDED PRECEDING) AS BIGINT) AS {cum_col} "
        f"FROM (SELECT *, CAST(COALESCE({tokens_expr}, 0) AS BIGINT) AS __t "
        f"FROM ({inner_sql}))) WHERE {cum_col} - __t < {budget}"
    )


def temperature_mixture(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    alpha_log2: int = 1,
    token_budget: int = 1_000_000,
) -> DataFrame:
    """Temperature-based mixture weights — the multilingual sampling
    recipe (sample source i with probability proportional to
    ``n_i^alpha``, alpha < 1 up-weighting low-resource sources):
    per-group token counts, ``weight_i = n_i^alpha / SUM_j n_j^alpha``,
    and the expected token allocation under ``token_budget``.

    Exactness discipline: ``alpha`` is restricted to ``2^-alpha_log2``
    (1, 1/2, 1/4, ...) so ``n^alpha`` is ``alpha_log2`` REPEATED
    SQUARE ROOTS — sqrt is IEEE-exact (correctly rounded) in both
    engines, unlike libm ``pow``.  The denominator is a FIXED
    left-to-right fold over the groups sorted ascending (0.0-seeded
    Spark ``aggregate`` == DuckDB first-element-seeded ``list_reduce``
    under addition), and weight/allocation are one division + one
    multiplication each.

    Scale shape (100 TB): one map-side-combined token-count shuffle to
    |groups| rows; everything after runs on that tiny frame (the
    sorted-fold total is a 1-row broadcast).  NULL groups and NULL
    text are excluded up front.

    Returns (``group_col``, n_tokens, scaled, weight, alloc_tokens)
    ordered by group.
    """
    if alpha_log2 < 0:
        raise ValueError(
            f"temperature_mixture alpha_log2 must be >= 0, got {alpha_log2}"
        )
    if token_budget < 0:
        raise ValueError(
            f"temperature_mixture token_budget must be >= 0, got {token_budget}"
        )
    from .text import _tokens  # the one shared tokenizer (anti-drift)

    scaled = F.col("n_tokens").cast("double")
    for _ in range(alpha_log2):
        scaled = F.sqrt(scaled)
    # the |sources|-row count table feeds BOTH the weight projection
    # and the denominator fold — materialize it so the corpus is
    # scanned and count-shuffled exactly once (the association_rules
    # boundary rule)
    # empty/whitespace-only docs count 0 tokens, not 1 — split('')
    # yields [''] in both engines, and content-free documents must not
    # earn any mixture weight (the with_token_counts rule, text.py)
    n_toks = F.when(F.trim(F.col(text_col)) == "", F.lit(0)).otherwise(
        F.size(_tokens(F.col(text_col)))
    )
    counts = materialize(
        df.filter(F.col(group_col).isNotNull() & F.col(text_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"))
        .agg(F.sum(n_toks).cast("long").alias("n_tokens"))
        .withColumn("scaled", scaled)
    )
    total = counts.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("grp", "scaled"))),
                lambda s: s["scaled"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("total")
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            "scaled",
            (F.col("scaled") / F.col("total")).alias("weight"),
            (
                (F.col("scaled") / F.col("total"))
                * F.lit(float(token_budget))
            ).alias("alloc_tokens"),
        )
        .orderBy(F.asc(group_col))
    )


def temperature_mixture_oracle_sql(
    table: str,
    group_col: str,
    text_col: str = "text",
    alpha_log2: int = 1,
    token_budget: int = 1_000_000,
) -> str:
    """DuckDB mirror of :func:`temperature_mixture` — shared
    tokenizer, the same repeated-sqrt scaling, the same
    sorted-ascending left-to-right denominator fold."""
    if alpha_log2 < 0:
        raise ValueError(
            f"temperature_mixture alpha_log2 must be >= 0, got {alpha_log2}"
        )
    if token_budget < 0:
        raise ValueError(
            f"temperature_mixture token_budget must be >= 0, got {token_budget}"
        )
    s = "CAST(n_tokens AS DOUBLE)"
    for _ in range(alpha_log2):
        s = f"sqrt({s})"
    return f"""
WITH __tm_c AS (
  SELECT {group_col} AS grp,
         CAST(SUM(CASE WHEN trim({text_col}) = '' THEN 0
                       ELSE len({_toks_sql(text_col)}) END) AS BIGINT) AS n_tokens
  FROM {table}
  WHERE {group_col} IS NOT NULL AND {text_col} IS NOT NULL
  GROUP BY 1
), __tm_s AS (
  SELECT grp, n_tokens, {s} AS scaled FROM __tm_c
), __tm_t AS (
  SELECT list_reduce(list(scaled ORDER BY grp ASC), (a, b) -> a + b) AS total
  FROM __tm_s
)
SELECT grp AS {group_col}, n_tokens, scaled,
       scaled / total AS weight,
       (scaled / total) * CAST({token_budget} AS DOUBLE) AS alloc_tokens
FROM __tm_s CROSS JOIN __tm_t
ORDER BY {group_col} ASC
"""


def two_phase_prefix_sums(
    df: DataFrame,
    sort_cols: list[Column],
    sum_cols: list[str],
    *,
    prefix: str = "_x_cum_",
) -> DataFrame:
    """Exact GLOBAL prefix (running) sums of ``sum_cols`` in
    ``sort_cols`` order via the same two-phase distributed scan as
    :func:`_two_phase_global_rank` — never a single-partition ORDER-BY
    window: range-repartition on the sort columns, one row of
    per-partition totals collects to the driver and folds into
    exclusive base offsets, a pid-local cumulative window adds the
    broadcast base.  Emits ``<prefix><col>`` (BIGINT) per sum column.
    Sum columns must be integral (exactness contract — decimal/double
    prefix sums would be order-dependent only in display, but BIGINT
    keeps the driver fold trivially exact); totals are the last
    partition's base + its local total, available to callers via a
    1-row aggregate if needed."""
    parts = (
        df.repartitionByRange(*sort_cols)
        .withColumn("_x_pid", F.spark_partition_id())
        .transform(materialize)
    )
    psums = (
        parts.groupBy("_x_pid")
        .agg(*[F.sum(c).cast("long").alias(c) for c in sum_cols])
        .collect()
    )
    bases: dict[str, dict[int, int]] = {c: {} for c in sum_cols}
    running = {c: 0 for c in sum_cols}
    for row in sorted(psums, key=lambda r: r["_x_pid"]):
        for c in sum_cols:
            bases[c][row["_x_pid"]] = running[c]
            running[c] += row[c] or 0
    local = (
        Window.partitionBy("_x_pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = parts
    for c in sum_cols:
        base_map = (
            F.create_map(*[F.lit(x) for kv in sorted(bases[c].items()) for x in kv])
            if bases[c]
            else F.create_map()
        )
        out = out.withColumn(
            f"{prefix}{c}",
            (
                F.element_at(base_map, F.col("_x_pid"))
                + F.sum(F.col(c)).over(local)
            ).cast("long"),
        )
    return out.drop("_x_pid")
