"""Similarity search over embedding columns (array<float>).

- cosine_topk: brute-force exact top-k — broadcast the (small) query
  set against the corpus, JVM-side dot products (zip_with + aggregate,
  no Python), window top-k per query.  The correctness baseline.
- lsh_topk: sign-LSH bucketed approximate top-k — candidates share a
  ±1.0 (Rademacher) hyperplane sign pattern in ≥1 table, exact cosine
  re-ranks.  The scale path: candidate generation is a bucket
  equi-join (shuffle on bucket), not a cross join; recall < 1, tunable
  via n_tables/n_planes.  Every projection is exact, so the whole
  query checks against a generated DuckDB oracle (lsh_topk_oracle_sql).
- ivf_topk: inverted-file index — centroids fitted by integer-grid
  Lloyd's over a hash-chosen sample (fit_ivf_centroids), corpus
  assigned to its nearest centroid and queries to their ``nprobe``
  nearest (assign_lists), then candidates in the probed lists ranked
  by exact cosine.  The persisted ANN store (build_ann_store /
  ann_from_store) runs the same assignment and the same probe-and-rank
  over its stored lists, so the whole family checks against one
  generated oracle (ivf_topk_oracle_sql).

All cosines are computed in double with a fixed left-to-right fold
order, so results are deterministic and engine-comparable.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..session import local_df, run_concurrent_writes


def dot_expr(a: Column, b: Column) -> Column:
    """Left-to-right double dot product — deterministic fold order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_expr(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector yields NULL cosine (sorted last /
    # filtered out) instead of raising under ANSI mode — the driver's
    # session runs Spark 4's ANSI default.
    return F.try_divide(dot_expr(a, b), norm_expr(a) * norm_expr(b))


def cosine_expr_unrolled(a: Column, b: Column, dim: int) -> Column:
    """cosine_expr with the three interpreted HOF folds UNROLLED into
    flat element chains for fixed-``dim`` vectors — the r13-measured
    recipe (2–4× per compiled stage past ~10⁶ rows; SLOWER below, where
    planning + Janino compile of the ~4·dim-node tree dominates — so
    callers must volume-gate, see dedup._UNROLL_MIN_CORPUS).

    Bit-identical to :func:`cosine_expr` on every input by
    construction: valid fixed-dim rows evaluate the identical
    left-associated ``((0.0 + a0·b0) + a1·b1) + …`` chains (same IEEE
    op sequence as the zip_with/aggregate folds), and rows the unroll
    cannot represent (NULL or ragged arrays) take the HOF branch
    itself via the WHEN guard.  NULL elements inside a valid-length
    array null the accumulator in both forms; zero norms hit the same
    try_divide.  Pinned element-for-element in
    tests/test_optimization_r14.py."""
    def dot_u(x: Column, y: Column) -> Column:
        acc = F.lit(0.0)
        for i in range(dim):
            acc = acc + F.get(x, i) * F.get(y, i)
        return acc

    def norm_u(x: Column) -> Column:
        acc = F.lit(0.0)
        for i in range(dim):
            v = F.get(x, i)
            acc = acc + v * v
        return F.sqrt(acc)

    valid = (
        a.isNotNull()
        & b.isNotNull()
        & (F.size(a) == F.lit(dim))
        & (F.size(b) == F.lit(dim))
    )
    return F.when(valid, F.try_divide(dot_u(a, b), norm_u(a) * norm_u(b))).otherwise(
        cosine_expr(a, b)
    )


def cosine_prenorm_expr(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine_expr with the two norm folds hoisted upstream: callers
    compute ``norm_expr`` once per corpus/query ROW before the
    candidate join, so the per-PAIR expression is only the dot fold —
    the norms are reused across every pair the row participates in
    (one corpus row typically scores against many queries).  Values
    are bit-identical to cosine_expr: same folds, same doubles, just
    evaluated earlier in the plan."""
    return F.try_divide(dot_expr(a, b), na * nb)


def _score_pairs(c: DataFrame, q: DataFrame, on: str | None = None) -> DataFrame:
    """Corpus rows ``(neighbor_id, cv, …)`` against the broadcast query
    rows ``(query_id, qv, …)`` — equi-joined on ``on``, or every pair
    when it is None — self-matches out, plus the exact ``cosine``.
    Each side's norm is computed once per ROW before the join
    (cosine_prenorm_expr), so the per-pair expression is the dot fold
    alone."""
    c = c.withColumn("_x_ncv", norm_expr(F.col("cv")))
    q = q.withColumn("_x_nqv", norm_expr(F.col("qv")))
    return (
        c.join(F.broadcast(q), on)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            cosine_prenorm_expr(
                F.col("qv"), F.col("cv"), F.col("_x_nqv"), F.col("_x_ncv")
            ),
        )
    )


def _top_per_query(df: DataFrame, score: str, n: int, rank: str) -> DataFrame:
    """The one per-query cut every similarity path uses: ``rank`` =
    row_number over (``score`` DESC NULLS LAST, neighbor_id ASC) per
    query_id, keeping ranks ≤ ``n`` — a total order, so ties resolve
    the same in every engine and under any partitioning."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id").asc()
    )
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= n)


def _rank_by_cosine(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, rank, cosine): the top ``k`` of scored
    candidate pairs by exact cosine."""
    return _top_per_query(scored, "cosine", k, "rank").select(
        "query_id", "neighbor_id", "rank", "cosine"
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for every query vector: (query_id,
    neighbor_id, rank).  Self-matches excluded.  The query side is
    broadcast — the corpus is never shuffled, the join is a broadcast
    nested loop scanning the corpus once."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    return _rank_by_cosine(_score_pairs(c, q), k).drop("cosine")


def _sq8_dq_col(v_j: Column, m_j: Column, x_j: Column) -> Column:
    """Dequantized coordinate after int8 scalar quantization against
    the per-dimension [min, max] grid: code = clamp(⌊(v−m)·255/r⌋,
    0..255), dq = m + code·r/255 — one fixed IEEE op tree, spelled
    identically in sq8_topk_oracle_sql so both engines round the same
    way at every step.  Degenerate dimensions (r = 0) dequantize to
    the min."""
    r = x_j - m_j
    code = F.least(
        F.lit(255.0),
        F.greatest(F.lit(0.0), F.floor(((v_j - m_j) * F.lit(255.0)) / r).cast("double")),
    )
    return F.when(r > 0, m_j + (code * r) / F.lit(255.0)).otherwise(m_j)


def _sq8_dq_sql(v_j: str, m_j: str, x_j: str) -> str:
    """_sq8_dq_col as formatted SQL text — the IDENTICAL op tree, one
    F.expr parse instead of ~12 py4j Column calls per dimension (r13:
    sq8's 64-dim construction cost ~1.6 s of serial driver time per
    query; parsed-SQL construction is ~0.2 s — the kmeans_assign /
    _array_literal precedent).  Bit-identity pinned by
    test_optimization_r13.py against the Column-op builder."""
    r = f"({x_j} - {m_j})"
    code = (
        f"LEAST(255.0D, GREATEST(0.0D, "
        f"CAST(FLOOR((({v_j} - {m_j}) * 255.0D) / {r}) AS DOUBLE)))"
    )
    return (
        f"CASE WHEN {r} > 0 THEN {m_j} + (({code} * {r}) / 255.0D) "
        f"ELSE {m_j} END"
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    refine_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k over INT8 SCALAR-QUANTIZED vectors —
    the memory-budget rung between full precision and IVF-PQ (what
    most vector stores call SQ8): each dimension gets a [min, max]
    grid from the corpus itself, every coordinate stores as one byte
    (64 B per 64-dim vector instead of 512 B), candidates score
    asymmetrically (raw query against dequantized codes), the top
    ``k·refine_factor`` per query re-rank by the EXACT full-precision
    cosine — so, like ann_pq, the emitted score is always exact and
    approximation affects only which candidates reach the re-rank.

    Engine-exact by construction: the per-dim min/max come from a
    1-row broadcast aggregate (data-derived, never literals — double
    literals round-trip differently through DuckDB's parser), and
    quantize/dequantize/score are fixed left-to-right IEEE op trees
    mirrored term-for-term by sq8_topk_oracle_sql.

    Scale: one corpus scan; the stats row and query batch broadcast;
    scoring is whole-stage-codegen JVM expressions.  This in-line form
    re-derives codes from the raw vectors (proving the quantization
    math end-to-end); a persisted deployment stores the codes layer
    exactly like build_pq_store's lists."""
    dim = infer_dim(corpus, vec_col)
    # size filter, not just NULL: sq8 is the one similarity path with
    # per-index extraction ([j] throws under ANSI on a ragged short
    # vector, and a short FIRST row would silently shrink dim) — skip
    # ragged rows like the oracle does (len(v) = dim)
    c = corpus.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    stats = c.agg(
        *[F.expr(f"min(cv[{j}]) AS m{j}") for j in range(dim)],
        *[F.expr(f"max(cv[{j}]) AS x{j}") for j in range(dim)],
    )
    q = queries.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    # Dequantize once per corpus ROW, not once per candidate PAIR: dq
    # depends only on (cv, stats), but inside the pair expression it
    # would re-run the floor/clamp chain per query it meets.  The
    # per-element op trees and fold orders are identical — only the
    # evaluation point moves — so adc values (and the oracle) are
    # unchanged.  Same move for the two norm folds (corpus-side nd,
    # query-side nq); the per-pair expression is then just the dot.
    cd = c.join(F.broadcast(stats)).select(
        "neighbor_id",
        "cv",
        *[
            F.expr(
                _sq8_dq_sql(f"cv[{j}]", f"m{j}", f"x{j}") + f" AS _x_dq{j}"
            )
            for j in range(dim)
        ],
    )

    def _fold_sql(term) -> str:
        # ((0.0 + t0) + t1) + ... — same left-associated chain the
        # Column-op loops built
        acc = "0.0D"
        for j in range(dim):
            acc = f"({acc} + {term(j)})"
        return acc

    cd = cd.withColumn(
        "_x_nd", F.expr(_fold_sql(lambda j: f"(_x_dq{j} * _x_dq{j})"))
    )
    qn = q.withColumn(
        "_x_nq", F.expr(_fold_sql(lambda j: f"(qv[{j}] * qv[{j}])"))
    )
    cand = cd.join(F.broadcast(qn), F.col("query_id") != F.col("neighbor_id"))
    scored = cand.withColumn(
        "adc",
        F.try_divide(
            F.expr(_fold_sql(lambda j: f"(qv[{j}] * _x_dq{j})")),
            F.sqrt(F.col("_x_nq")) * F.sqrt(F.col("_x_nd")),
        ),
    )
    sel = _top_per_query(scored, "adc", k * refine_factor, "arn").withColumn(
        "cosine", cosine_expr(F.col("qv"), F.col("cv"))
    )
    return _rank_by_cosine(sel, k)


def sq8_topk_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    refine_factor: int = 4,
    dim: int = 64,
    query_pred: str = "vid < 20",
) -> str:
    """DuckDB mirror of :func:`sq8_topk` — the same data-derived
    per-dim min/max (stats CTE, cross-joined), the same clamp/floor
    quantize-dequantize tree per coordinate, the same left-to-right
    ADC folds, the same cut, and the shared fold-order exact cosine
    re-rank (_sql_cosine)."""

    def dq(i: int) -> str:
        m, x = f"s.m{i}", f"s.x{i}"
        code = (
            f"LEAST(255.0, GREATEST(0.0, "
            f"FLOOR(((b.v[{i}] - {m}) * 255.0) / ({x} - {m}))))"
        )
        return (
            f"(CASE WHEN ({x} - {m}) > 0 THEN {m} + ({code} * ({x} - {m})) / 255.0 "
            f"ELSE {m} END)"
        )

    stats_cols = ", ".join(
        f"MIN(v[{i}]) AS m{i}, MAX(v[{i}]) AS x{i}" for i in range(1, dim + 1)
    )
    dot = "0.0"
    nq = "0.0"
    nd = "0.0"
    for i in range(1, dim + 1):
        d = dq(i)
        dot = f"({dot} + q.v[{i}] * {d})"
        nq = f"({nq} + q.v[{i}] * q.v[{i}])"
        nd = f"({nd} + {d} * {d})"
    cosine = _sql_cosine("a.v", "b.v", dim)
    return (
        f"WITH base AS (SELECT {id_col} AS vid, CAST({vec_col} AS DOUBLE[]) AS v "
        f"FROM {table} WHERE {vec_col} IS NOT NULL AND len({vec_col}) = {dim}), "
        f"stats AS (SELECT {stats_cols} FROM base), "
        f"qs AS (SELECT vid, v FROM base WHERE {query_pred}), "
        f"adc AS (SELECT q.vid AS query_id, b.vid AS neighbor_id, "
        f"({dot}) / NULLIF(sqrt({nq}) * sqrt({nd}), 0.0) AS adc "
        f"FROM qs q, base b, stats s WHERE q.vid != b.vid), "
        f"cut AS (SELECT query_id, neighbor_id FROM ("
        f"SELECT query_id, neighbor_id, row_number() OVER ("
        f"PARTITION BY query_id ORDER BY adc DESC NULLS LAST, neighbor_id) AS arn "
        f"FROM adc) WHERE arn <= {k * refine_factor}) "
        f"SELECT query_id, neighbor_id, rank, cosine FROM ("
        f"SELECT cd.query_id, cd.neighbor_id, {cosine} AS cosine, "
        f"row_number() OVER (PARTITION BY cd.query_id "
        f"ORDER BY {cosine} DESC, cd.neighbor_id) AS rank "
        f"FROM cut cd JOIN base a ON a.vid = cd.query_id "
        f"JOIN base b ON b.vid = cd.neighbor_id) WHERE rank <= {k}"
    )


def infer_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from one NON-NULL row (tiny probe job —
    NOT memoized: a cache keyed on the plan can go stale when the
    underlying file is rewritten with different-dimension vectors, and
    a wrong dim silently collapses every LSH bucket; see below).  NULL
    vectors are skipped — every consumer filters them out of its own
    pipeline, so a NULL first scan row must not fail a valid corpus.
    The hyperplane literals must match the vector length exactly —
    zip_with pads mismatches with nulls, which would NULL every dot
    product and collapse all signatures to one bucket."""
    row = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .first()
    )
    if row is None or row["d"] is None or row["d"] <= 0:
        raise ValueError(f"cannot infer embedding dimension from column '{vec_col}'")
    return int(row["d"])


def _array_literal(values) -> Column:
    """Nested double-array literal as ONE node: the values as a JSON
    string under ``from_json`` (mode FAILFAST), typed
    ``array<…<double>>`` by the nesting depth, which ConstantFolding
    turns into a single ``Literal``.  ``F.lit`` on a nested list pays a
    py4j call per element, and ``array(array(…))`` SQL text is one
    expression node per value that every analysis of every plan holding
    it walks again: measured on a 4-core host, building and planning a
    frame over a 16×64 centroid table took 0.15 s with the SQL text and
    0.04 s with this form.  ``repr(float)`` is the shortest round-trip
    form and the JSON reader parses it with Java's correctly rounded
    ``Double.parseDouble``, so values survive bit for bit; a NaN or an
    infinity is refused by name.  ``from_json`` types every level
    nullable."""

    def fmt(v) -> str:
        if isinstance(v, (list, tuple, np.ndarray)):
            return "[" + ",".join(fmt(x) for x in v) + "]"
        f = float(v)
        if not math.isfinite(f):
            raise ValueError(f"_array_literal: non-finite value {f!r}")
        return repr(f)

    depth, v = 0, values
    while isinstance(v, (list, tuple, np.ndarray)):
        depth, v = depth + 1, (v[0] if len(v) else None)
    ddl = "array<" * depth + "double" + ">" * depth
    return F.from_json(F.lit(fmt(values)), ddl, {"mode": "FAILFAST"})


def rademacher_planes(
    n_tables: int, n_planes: int, dim: int, seed: int
) -> list[list[list[float]]]:
    """±1.0 hyperplanes from a seeded Python RNG — the Rademacher
    sign-projection LSH family (same angular-distance guarantees as
    Gaussian planes, a standard sparse/binary simplification).  Because
    every coefficient is ±1.0, each projection is an exact-float
    add/subtract chain any engine evaluates bit-identically in the same
    fold order — which makes the ENTIRE sign-LSH blocking stage
    SQL-oracle-checkable (see dedup.embedding_pairs_oracle_sql).  The
    same Python list feeds the Spark literal and the generated SQL, so
    the two cannot drift."""
    import random as _random

    rng = _random.Random(seed)
    return [
        [[float(rng.choice((-1.0, 1.0))) for _ in range(dim)] for _ in range(n_planes)]
        for _ in range(n_tables)
    ]


def multi_table_signatures(
    vec: Column, n_planes: int, n_tables: int, seed: int, dim: int
) -> Column:
    """``array<long>`` of sign-LSH signatures over ±1.0 planes
    (rademacher_planes), one per LSH table, from ONE 3-D plane literal
    and one nested transform/aggregate expression.  Building per-table
    signature columns costs n_tables × n_planes × dim py4j literal
    round-trips (measured: seconds of driver time); this form is a
    handful of calls and evaluates in one JVM pass.  The planes make
    every projection engine-exact, so the blocking stage has a full
    SQL oracle.

    ``vec`` is hoisted through a single-element ``transform(array(vec),
    v -> …)`` wrapper (dedup.bind_once's pattern, inlined here to keep
    the import direction dedup → similarity): callers pass DERIVED
    expressions (embedding_neardup_pairs' dim-guard WHEN, lsh_topk's
    array cast), and without the hoist the innermost dot fold
    re-evaluates them n_tables × n_planes times per row — Catalyst
    does no CSE across lambda scopes (the nearest_centroid_ids
    lesson)."""
    tables_lit = _array_literal(rademacher_planes(n_tables, n_planes, dim, seed))

    def body(v: Column) -> Column:
        return F.transform(
            tables_lit,
            lambda planes: F.aggregate(
                F.transform(
                    planes,
                    lambda p: F.when(dot_expr(v, p) > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, bit: acc * F.lit(2).cast("long") + bit,
            ),
        )

    return F.element_at(F.transform(F.array(vec), body), 1)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates share a bucket in ≥1 sign-LSH
    table over ±1.0 planes, exact cosine re-ranks.  Each side is ONE
    scan: the per-table signatures come out of multi_table_signatures
    as an array and posexplode to (tbl, bucket) rows — no n_tables-way
    union, and the only shuffle is on (tbl, bucket).

    Knobs: fewer planes → coarser buckets → more candidates and higher
    recall; more tables → more chances to collide → higher recall.  The
    defaults (4 planes × 8 tables) measure ~0.7 recall@10 on uniform
    random 64-d embeddings — the hardest case; clustered real embeddings
    do much better.  Near-dup detection (high-cosine pairs only) should
    instead use tight buckets (8+ planes), as embedding_neardup_pairs
    does.

    Every projection is an exact-float add/subtract chain, so the WHOLE
    query (bucketing, candidate set, cosine, rank) hash-checks against
    lsh_topk_oracle_sql.

    ``broadcast_queries``: True (default) broadcasts the exploded query
    signatures — right for the bounded-query-set case (the corpus is
    never shuffled; each corpus partition map-side-joins the broadcast
    buckets).  Set False when the query side is itself corpus-sized
    (corpus×corpus ANN): both sides then shuffle on (tbl, bucket) into
    a hash/sort-merge join, which scales with the data instead of
    requiring the query signatures to fit in every executor.  The
    crossover is roughly when the exploded query side (rows ×
    n_tables) stops fitting comfortably in the broadcast threshold —
    beyond ~10M signature rows, shuffle."""
    # filter BEFORE the dim probe: infer_dim reads the first scanned
    # row, which may be exactly the NULL row the filters exist to drop
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    queries = queries.filter(F.col(vec_col).isNotNull())
    dim = infer_dim(corpus, vec_col)
    c_all = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        F.posexplode(
            multi_table_signatures(
                F.col(vec_col).cast("array<double>"), n_planes, n_tables, seed, dim
            )
        ).alias("tbl", "bucket"),
    )
    q_all = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        F.posexplode(
            multi_table_signatures(
                F.col(vec_col).cast("array<double>"), n_planes, n_tables, seed, dim
            )
        ).alias("tbl", "bucket"),
    )

    q_side = F.broadcast(q_all) if broadcast_queries else q_all
    cand = (
        c_all.join(q_side, ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cosine", cosine_expr(F.col("qv"), F.col("cv")))
    )
    return _rank_by_cosine(cand, k)


# --- generated SQL oracle fragments ----------------------------------------
#
# Shared by lsh_topk_oracle_sql / ivf_topk_oracle_sql below.  The
# Rademacher projection + bucket-pack forms mirror the ones inlined in
# dedup.embedding_pairs_oracle_sql (kept separate there to avoid
# churning a long-green oracle string); the chains are generated from
# the SAME plane/centroid values the Spark plan embeds, so query and
# oracle cannot drift.


def _sql_proj_chain(vec: str, plane: list[float]) -> str:
    """((0.0 + v[1]) - v[2]) + ...: left-assoc, the same order and the
    same exact ±v_i terms as Spark's zip_with/aggregate dot fold over
    ±1.0 planes."""
    terms = "0.0"
    for i, s in enumerate(plane):
        op = "+" if s > 0 else "-"
        terms = f"({terms} {op} {vec}[{i + 1}])"
    return terms


def _sql_bucket(vec: str, planes_t: list[list[float]]) -> str:
    """MSB-first bit pack of the sign pattern — same integer as
    multi_table_signatures' acc*2+bit fold."""
    n_planes = len(planes_t)
    bits = [
        f"(CASE WHEN {_sql_proj_chain(vec, p)} > 0.0 THEN 1 ELSE 0 END)"
        for p in planes_t
    ]
    packed = " + ".join(
        f"{b} * {1 << (n_planes - 1 - j)}" for j, b in enumerate(bits)
    )
    return f"CAST({packed} AS BIGINT)"


def _sql_cosine(a: str, b: str, dim: int) -> str:
    """Fold-order-exact cosine: explicit left-to-right dot and norm
    chains, normalized as sqrt(na)*sqrt(nb) exactly like cosine_expr
    (DuckDB's list_cosine_similarity uses sqrt(na*nb), which is NOT
    bit-equal)."""
    dot_terms = "0.0"
    na_terms = "0.0"
    nb_terms = "0.0"
    for i in range(1, dim + 1):
        dot_terms = f"({dot_terms} + {a}[{i}] * {b}[{i}])"
        na_terms = f"({na_terms} + {a}[{i}] * {a}[{i}])"
        nb_terms = f"({nb_terms} + {b}[{i}] * {b}[{i}])"
    # NULLIF mirrors Spark's try_divide: a zero-norm vector yields NULL
    # (sorted last under cosine DESC in both engines), where a bare /0.0
    # would yield NaN, which DuckDB orders FIRST under DESC
    return f"({dot_terms}) / NULLIF(sqrt({na_terms}) * sqrt({nb_terms}), 0.0)"


def lsh_topk_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    dim: int = 64,
    query_pred: str = "vid < 20",
) -> str:
    """DuckDB oracle for lsh_topk, generated from the SAME ±1.0
    planes (rademacher_planes, same seed).  Mirrors every
    stage exactly: per-table sign buckets (exact-float add/subtract
    chains), the (tbl, bucket) candidate equi-join with self-match
    exclusion and pair dedup, the fold-order cosine re-rank, and the
    (cosine DESC, neighbor_id ASC) row_number window.  ``query_pred``
    selects the query side over the banded rows (column ``vid``)."""
    planes = rademacher_planes(n_tables, n_planes, dim, seed)
    banded_selects = " UNION ALL ".join(
        f"SELECT vid, {t} AS tbl, {_sql_bucket('v', planes[t])} AS bucket FROM base"
        for t in range(n_tables)
    )
    cosine = _sql_cosine("a.v", "b.v", dim)
    return (
        f"WITH base AS (SELECT {id_col} AS vid, CAST({vec_col} AS DOUBLE[]) AS v "
        f"FROM {table} WHERE {vec_col} IS NOT NULL), "
        f"banded AS ({banded_selects}), "
        f"qb AS (SELECT vid, tbl, bucket FROM banded WHERE {query_pred}), "
        f"cand AS (SELECT DISTINCT q.vid AS query_id, c.vid AS neighbor_id "
        f"FROM qb q JOIN banded c ON c.tbl = q.tbl AND c.bucket = q.bucket "
        f"WHERE q.vid != c.vid), "
        f"scored AS (SELECT cd.query_id, cd.neighbor_id, {cosine} AS cosine "
        f"FROM cand cd JOIN base a ON a.vid = cd.query_id "
        f"JOIN base b ON b.vid = cd.neighbor_id) "
        f"SELECT query_id, neighbor_id, rank, cosine FROM ("
        f"SELECT query_id, neighbor_id, cosine, row_number() OVER ("
        f"PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank "
        f"FROM scored) WHERE rank <= {k}"
    )


def nearest_centroid_ids(vec: Column, cents_lit: Column, n: int) -> Column:
    """Array of the n nearest centroid ids for a vector — THE one
    nearest-centroid expression (fold-order squared distance,
    array_sort with lower-cid tie-break).  Its callers are
    assign_lists (every IVF list assignment, direct or stored) and the
    PQ encoder: the store's correctness claim is bit-identity with the
    direct computation, so an independent copy here would be the drift
    vector classifier.py's _bucket_expr docstring warns about.

    ``vec`` is hoisted through a single-element ``transform(array(vec),
    x -> …)`` wrapper so it is evaluated ONCE per row.  Without the
    hoist, CollapseProject inlines the caller's projection (typically
    clustering._quantize — a 64-element transform with a strict-cast
    guard) into the lambda body, where the per-centroid loop re-runs it
    n_centroids times per row: measured 29s → 8s on the sf1
    ann_ivf_topk corpus assignment.  The hoist changes no values — the
    lambda computes the identical folds on the identical array."""

    def body(x: Column) -> Column:
        dists = F.transform(
            cents_lit,
            lambda c, i: F.struct(
                F.aggregate(
                    F.zip_with(
                        x.cast("array<double>"), c, lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("d"),
                i.alias("cid"),
            ),
        )
        return F.slice(F.transform(F.array_sort(dists), lambda s: s["cid"]), 1, n)

    return F.transform(F.array(vec), body)[0]


def fit_ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iters: int = 2,
    sample_size: int = 2048,
    scale_bits: int = 20,
) -> list[list[float]]:
    """Engine-exact IVF coarse-quantizer fit: Lloyd's iterations over a
    DETERMINISTIC bounded sample, in integer arithmetic.  Every step is
    a pure function of the data, never of scan or partition order:

    - sample = the ``sample_size`` rows with the smallest
      ``(md5(id), id)`` — the engine's seedless hash draw, identical in
      any engine and under any partitioning;
    - coordinates snap to the ``2^scale_bits`` integer grid once
      (clustering._quantize), so centroid sums are exact integers and
      centroid coordinates are single correctly-rounded divisions;
    - init = the ``n_centroids`` hash-smallest sample rows; assignment
      folds ``(x-c)^2`` left-to-right with ties to the lower centroid
      id; empty clusters keep their previous centroid — the same three
      determinism moves as clustering.kmeans_assign.

    The returned doubles are bit-identical to what
    ivf_topk_oracle_sql's unrolled CTEs compute, which is what makes
    the full IVF query hash-checkable.  Driver state is bounded:
    sample_size × dim ints, Lloyd's runs driver-side on the sample
    (the standard FAISS-style train-on-sample trade).

    Two named errors: fewer than ``n_centroids`` non-NULL vectors
    (``n_centroids=16 exceeds the N sampled vectors``), and a NaN,
    infinite or off-grid coordinate in the sample (``quantization
    overflow``, clustering._quantize) — NULL vectors are skipped, other
    bad rows are never dropped silently."""
    sample = _hash_sample(corpus, id_col, vec_col, sample_size, scale_bits)
    cents, _rats = _lloyd(sample, n_centroids, iters, label="n_centroids")
    return cents


def _hash_sample(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    sample_size: int,
    scale_bits: int,
) -> list[list[int]]:
    """The deterministic training sample every integer-Lloyd fit draws:
    the ``sample_size`` quantized vectors with the smallest
    ``(md5(id), id)`` — identical in any engine, under any
    partitioning.  Shared by the IVF coarse-quantizer fit and the PQ
    codebook fit (build_pq_store collects it ONCE for both)."""
    from .clustering import _quantize

    # Select the sample FIRST (TakeOrdered on (md5, id) — only the hash
    # is computed corpus-wide), THEN quantize the sample_size winners:
    # quantize is per-row deterministic, so the values are identical to
    # quantizing the corpus up front, but the interpreted 64-element
    # grid transform runs over 2048 rows instead of the whole corpus —
    # corpus-size-independent fit cost at any scale.  The (h, id) order
    # is re-pinned on the driver, because Lloyd's init takes the FIRST
    # n_centroids rows: a second orderBy would cost a shuffle job for
    # at most sample_size rows.  Python's order equals Spark's here:
    # md5 is lowercase hex, string ids compare by code point (= UTF-8
    # bytes), and NULLs sort first.
    rows = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("__id__"),
            F.col(vec_col).alias("__v__"),
            F.md5(F.col(id_col).cast("string")).alias("__h__"),
        )
        .orderBy("__h__", "__id__")
        .limit(sample_size)
        .select("__id__", "__h__", _quantize(F.col("__v__"), scale_bits).alias("xq"))
        .collect()
    )
    rows.sort(key=lambda r: (r["__h__"] is not None, r["__h__"] or "",
                             r["__id__"] is not None, r["__id__"]))
    return [list(r["xq"]) for r in rows]


def _lloyd(
    sample: list[list[int]],
    k: int,
    iters: int,
    label: str = "k",
) -> tuple[list[list[float]], list[list[tuple[int, int]]]]:
    """THE integer-grid Lloyd loop (fit_ivf_centroids'
    determinism moves: init = first k sample rows, strict-< assignment
    with lower-id ties, integer sums, empty clusters keep their
    previous centroid) — single implementation so the IVF and PQ fits
    cannot drift (the nearest_centroid_ids single-expression rule).
    Returns (floats, rationals): every float coordinate is exactly its
    (num, den) IEEE division, which is what lets oracle generators
    embed the constants bit-identically."""
    if len(sample) < k:
        raise ValueError(f"{label}={k} exceeds the {len(sample)} sampled vectors")
    # numpy fast path (r13: the interpreted triple loop cost ~1.5s per
    # PQ/IVF store build at sample_size=2048 — ~4M Python float ops per
    # fit).  Bit-identical to _lloyd_reference: distances accumulate
    # per-dim in ascending-j order (acc = acc + d*d, one vectorized op
    # per dim), argmin keeps the FIRST minimum exactly like the
    # strict-< scan, cluster sums are exact int64, and the final s/cnt
    # division converts int64→float64 exactly (both < 2^53) before the
    # identical IEEE divide.  Guarded: coordinates beyond 2^52 (never
    # produced by _quantize's grids) fall back to the arbitrary-
    # precision reference loop.  Pinned by
    # tests/test_optimization_r13.py::test_lloyd_numpy_matches_reference.
    try:
        X = np.asarray(sample)
    except (OverflowError, ValueError):
        return _lloyd_reference(sample, k, iters, label)
    # integral dtype only (r14, ADVICE): asarray(dtype=int64) would
    # silently TRUNCATE float inputs (1.5 -> 1) instead of deferring —
    # non-integer or object (big-int) samples take the reference loop
    if X.ndim != 2 or X.dtype.kind not in "iu":
        return _lloyd_reference(sample, k, iters, label)
    if X.size:
        # int() of the numpy scalar is exact arbitrary-precision (no
        # np.abs int64 wrap at -2^63).  Two bounds (r14, ADVICE): the
        # per-element 2^52 grid bound, AND the worst-case CLUSTER SUM
        # bound — np.add.at accumulates int64, and sums >= 2^53 would
        # also round in .astype(float64), double-rounding the division
        # vs _lloyd_reference's correctly-rounded big-int s/cnt
        mx = max(int(X.max()), -int(X.min()))
        if mx >= (1 << 52) or mx * X.shape[0] >= (1 << 53):
            return _lloyd_reference(sample, k, iters, label)
    X = X.astype(np.int64, copy=False)
    dim = X.shape[1] if X.size else 0
    Xf = X.astype(np.float64)
    cents_a = Xf[:k].copy()
    rats: list[list[tuple[int, int]]] = [
        [(int(v), 1) for v in sample[j]] for j in range(k)
    ]
    for _ in range(iters):
        acc = np.zeros((X.shape[0], k), dtype=np.float64)
        for j in range(dim):  # ascending j — the reference fold order
            d = Xf[:, j, None] - cents_a[None, :, j]
            acc += d * d
        assign = np.argmin(acc, axis=1)  # first min == strict-< lower-cid ties
        sums = np.zeros((k, dim), dtype=np.int64)
        np.add.at(sums, assign, X)
        cnts = np.bincount(assign, minlength=k)
        nonempty = cnts > 0
        new_cents = cents_a.copy()
        if dim:
            new_cents[nonempty] = sums[nonempty].astype(np.float64) / cnts[
                nonempty
            ].astype(np.float64)[:, None]
        cents_a = new_cents
        rats = [
            [(int(s), int(cnts[cid])) for s in sums[cid]]
            if cnts[cid]
            else rats[cid]
            for cid in range(k)
        ]
    return [[float(v) for v in row] for row in cents_a], rats


def _lloyd_reference(
    sample: list[list[int]],
    k: int,
    iters: int,
    label: str = "k",
) -> tuple[list[list[float]], list[list[tuple[int, int]]]]:
    """The original pure-Python integer-grid Lloyd loop — kept as the
    semantic reference for :func:`_lloyd`'s numpy fast path (and the
    fallback for out-of-int64-grid inputs).  Any change here must keep
    the two bit-identical (test_lloyd_numpy_matches_reference)."""
    if len(sample) < k:
        raise ValueError(f"{label}={k} exceeds the {len(sample)} sampled vectors")
    dim = len(sample[0]) if sample else 0
    cents = [[float(v) for v in sample[j]] for j in range(k)]
    rats: list[list[tuple[int, int]]] = [
        [(int(v), 1) for v in sample[j]] for j in range(k)
    ]
    for _ in range(iters):
        sums = [[0] * dim for _ in range(k)]
        cnts = [0] * k
        for x in sample:
            best_d, best_c = None, 0
            for cid, cen in enumerate(cents):
                acc = 0.0
                for xj, cj in zip(x, cen):
                    d = float(xj) - cj
                    acc = acc + d * d
                if best_d is None or acc < best_d:  # strict <: ties keep lower cid
                    best_d, best_c = acc, cid
            cnts[best_c] += 1
            srow = sums[best_c]
            for j, xj in enumerate(x):
                srow[j] += xj
        cents = [
            [s / cnts[cid] for s in sums[cid]] if cnts[cid] else cents[cid]
            for cid in range(k)
        ]
        rats = [
            [(s, cnts[cid]) for s in sums[cid]] if cnts[cid] else rats[cid]
            for cid in range(k)
        ]
    return cents, rats


def assign_lists(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cents: list[list[float]],
    scale_bits: int,
    nprobe: int | None = None,
) -> DataFrame:
    """IVF list assignment over the quantized grid — the one step every
    IVF build, append and serve shares.  Corpus rows (``nprobe`` None)
    become ``(neighbor_id, cv, cid)`` with their nearest centroid;
    query rows become ``(query_id, qv, cid)``, one row per each of the
    ``nprobe`` nearest.  NULL vectors are skipped; ``cv``/``qv`` are
    the ORIGINAL doubles the exact cosine re-rank reads."""
    from .clustering import _quantize

    who, vec = ("neighbor_id", "cv") if nprobe is None else ("query_id", "qv")
    rows = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias(who),
        F.col(vec_col).cast("array<double>").alias(vec),
        _quantize(F.col(vec_col), scale_bits).alias("xq"),
    )
    cids = nearest_centroid_ids(
        F.col("xq"), _array_literal(cents), 1 if nprobe is None else nprobe
    )
    return rows.withColumn(
        "cid", cids[0] if nprobe is None else F.explode(cids)
    ).drop("xq")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
    sample_size: int = 2048,
    iters: int = 2,
    scale_bits: int = 20,
) -> DataFrame:
    """IVF approximate top-k: centroids from fit_ivf_centroids (the
    hash-sampled integer Lloyd's), the corpus assigned to its lists in
    memory, then each query probes its ``nprobe`` nearest lists and
    the candidates rank by exact cosine over the ORIGINAL doubles.
    Bit-deterministic under any partitioning and hash-checkable
    against ivf_topk_oracle_sql; ann_from_store is the same probe and
    rank over a persisted store's lists.  Scale shape: centroid
    literals broadcast inside the expression, one (cid) equi-join
    shuffle, a per-query top-k window."""
    cents = fit_ivf_centroids(
        corpus, id_col, vec_col, n_centroids, iters, sample_size, scale_bits
    )
    lists = assign_lists(corpus, id_col, vec_col, cents, scale_bits)
    q = assign_lists(queries, id_col, vec_col, cents, scale_bits, nprobe)
    return _rank_by_cosine(_score_pairs(lists, q, "cid"), k)


def _sql_qdist(b: str, c: str, dim: int) -> str:
    """Unrolled ((0.0 + d1*d1) + d2*d2)... quantized-grid distance —
    matches the zip_with/aggregate fold in nearest_centroid_ids and the
    float(x)-c loop in _lloyd."""
    acc = "0.0"
    for j in range(1, dim + 1):
        d = f"(CAST({b}.xq[{j}] AS DOUBLE) - {c}.cen[{j}])"
        acc = f"({acc} + {d} * {d})"
    return acc


def _ivf_fit_parts(
    table: str,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    sample_size: int,
    iters: int,
    scale_bits: int,
    dim: int,
) -> tuple[list[str], str]:
    """The shared CTE prefix of every IVF-family oracle: base corpus
    (raw + quantized), hash-smallest sample, and the unrolled Lloyd
    chain.  Returns (parts, name_of_final_centroid_cte).  Extracted so
    the IVF-PQ oracle composes the identical fit instead of a copy
    that could drift."""
    scale = float(1 << scale_bits)
    xq = (
        f"list_transform(CAST({vec_col} AS DOUBLE[]), "
        f"x -> CAST(round(x * {scale!r}) AS BIGINT))"
    )
    sums = ", ".join(f"SUM(a.xq[{j}]) AS s{j}" for j in range(1, dim + 1))
    cen_from_sums = "[" + ", ".join(
        f"CAST(s{j} AS DOUBLE) / CAST(cnt AS DOUBLE)" for j in range(1, dim + 1)
    ) + "]"

    parts = [
        f"base AS (SELECT {id_col} AS vid, CAST({vec_col} AS DOUBLE[]) AS v, "
        f"{xq} AS xq FROM {table} WHERE {vec_col} IS NOT NULL)",
        f"samp AS (SELECT vid, xq, md5(CAST(vid AS VARCHAR)) AS h FROM base "
        f"ORDER BY h, vid LIMIT {sample_size})",
        f"c0 AS (SELECT row_number() OVER (ORDER BY h, vid) - 1 AS cid, "
        f"list_transform(xq, x -> CAST(x AS DOUBLE)) AS cen FROM samp "
        f"ORDER BY h, vid LIMIT {n_centroids})",
    ]
    prev = "c0"
    for i in range(iters):
        parts.append(
            f"a{i} AS (SELECT vid, xq, cluster FROM ("
            f"SELECT s.vid, s.xq, c.cid AS cluster, row_number() OVER "
            f"(PARTITION BY s.vid ORDER BY {_sql_qdist('s', 'c', dim)}, c.cid) AS rn "
            f"FROM samp s CROSS JOIN {prev} c) WHERE rn = 1)"
        )
        nxt = f"c{i + 1}"
        parts.append(
            f"{nxt} AS (SELECT p.cid, CASE WHEN g.cnt IS NULL THEN p.cen "
            f"ELSE {cen_from_sums} END AS cen FROM {prev} p LEFT JOIN ("
            f"SELECT a.cluster AS cid, COUNT(*) AS cnt, {sums} "
            f"FROM a{i} a GROUP BY a.cluster) g ON g.cid = p.cid)"
        )
        prev = nxt
    return parts, prev


def ivf_topk_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    sample_size: int = 2048,
    iters: int = 2,
    scale_bits: int = 20,
    dim: int = 64,
    query_pred: str = "b.vid < 20",
) -> str:
    """DuckDB oracle for ivf_topk: the hash-smallest
    sample, ``iters`` unrolled Lloyd CTEs with integer centroid sums
    (the kmeans_oracle_sql pattern), corpus assignment and ``nprobe``
    probing as (dist, cid) row_number windows over the centroid cross
    join, then the fold-order cosine re-rank.  Generated from the same
    parameters as the Spark plan so the two cannot drift."""
    parts, prev = _ivf_fit_parts(
        table, id_col, vec_col, n_centroids, sample_size, iters, scale_bits, dim
    )
    parts.append(
        f"assign AS (SELECT vid, cluster FROM ("
        f"SELECT b.vid, c.cid AS cluster, row_number() OVER "
        f"(PARTITION BY b.vid ORDER BY {_sql_qdist('b', 'c', dim)}, c.cid) AS rn "
        f"FROM base b CROSS JOIN {prev} c) WHERE rn = 1)"
    )
    parts.append(
        f"probe AS (SELECT vid AS query_id, cluster FROM ("
        f"SELECT b.vid, c.cid AS cluster, row_number() OVER "
        f"(PARTITION BY b.vid ORDER BY {_sql_qdist('b', 'c', dim)}, c.cid) AS rn "
        f"FROM base b CROSS JOIN {prev} c WHERE {query_pred}) WHERE rn <= {nprobe})"
    )
    parts.append(
        f"cand AS (SELECT p.query_id, a.vid AS neighbor_id "
        f"FROM probe p JOIN assign a ON a.cluster = p.cluster "
        f"WHERE a.vid != p.query_id)"
    )
    parts.append(
        f"scored AS (SELECT cd.query_id, cd.neighbor_id, "
        f"{_sql_cosine('a.v', 'b.v', dim)} AS cosine "
        f"FROM cand cd JOIN base a ON a.vid = cd.query_id "
        f"JOIN base b ON b.vid = cd.neighbor_id)"
    )
    final = (
        f"SELECT query_id, neighbor_id, rank, cosine FROM ("
        f"SELECT query_id, neighbor_id, cosine, row_number() OVER ("
        f"PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank "
        f"FROM scored) WHERE rank <= {k}"
    )
    return "WITH " + ", ".join(parts) + " " + final


def center_embeddings(
    df: DataFrame,
    vec_col: str,
    out_col: str = "centered",
    scale_bits: int = 20,
    dim: int | None = None,
) -> DataFrame:
    """Append ``out_col`` = vector minus the corpus mean — the standard
    pre-conditioning before sign-LSH: hyperplanes through the origin
    split a CENTERED cloud into balanced buckets, where a tight
    off-origin cluster (e.g. intensity-histogram features, which are all
    nearly parallel) collapses every sign pattern to one bucket.

    Determinism: the mean uses the floor-quantized integer-sum trick
    (embedding_centroids) — ``(float(Σ floor(v·2^20)) / 2^20) / n`` —
    so it is partition-order-independent and bit-reproducible in SQL
    (centered_features_oracle fragment generators mirror the same
    two-division order).  Exactness of the float cast of the integer
    sum holds while ``n·2^20 < 2^53`` (~8G rows); beyond that, shard
    the mean or raise scale trade-offs consciously.

    Driver state: one aggregate row (dim sums + count).  NULL vectors
    contribute nothing to the mean and center to NULL.  Pass ``dim``
    when the caller knows it to skip the 1-row inference probe job."""
    if dim is None:
        dim = infer_dim(df, vec_col)
    scale = float(1 << scale_bits)
    v = F.col(vec_col).cast("array<double>")
    row = df.agg(
        *[
            # try_element_at: under ANSI a plain element_at on a
            # shorter-than-dim vector would throw INVALID_ARRAY_INDEX
            # inside the aggregate, pre-empting the clearer baddim
            # ValueError below
            F.sum(F.floor(F.try_element_at(v, F.lit(j + 1)) * F.lit(scale))).alias(f"s{j}")
            for j in range(dim)
        ],
        # count NON-NULL vectors: the sums only cover those, so dividing
        # by a count that included NULL rows would deflate the mean
        F.count(F.col(vec_col)).alias("n"),
        # supplied-dim validation rides the same aggregate (no extra
        # job): a wrong dim would silently truncate or NULL the mean
        F.count(F.when(F.size(v) != dim, 1)).alias("baddim"),
    ).collect()[0]
    if row["baddim"]:
        raise ValueError(
            f"center_embeddings: {row['baddim']} vector(s) are not "
            f"{dim}-dimensional — wrong dim argument or ragged input"
        )
    n = row["n"]
    if not n:
        raise ValueError("center_embeddings: no non-NULL vectors to center on")
    means = [(float(row[f"s{j}"]) / scale) / float(n) for j in range(dim)]
    mean_lit = _array_literal(means)
    return df.withColumn(out_col, F.zip_with(v, mean_lit, lambda a, b: a - b))


def centered_oracle_sql(feats_sql: str, dim: int, scale_bits: int = 20) -> str:
    """DuckDB mirror of center_embeddings over ``feats_sql`` (a
    parenthesized subquery yielding (media_id, ..., feature)) —
    returns a subquery yielding (media_id, centered DOUBLE[]).  Same
    floor-quantized integer sums, same two-division order."""
    scale = float(1 << scale_bits)
    sums = ", ".join(
        f"SUM(CAST(FLOOR(CAST(feature[{j}] AS DOUBLE) * {scale!r}) AS BIGINT)) AS s{j}"
        for j in range(1, dim + 1)
    )
    centered = "[" + ", ".join(
        f"CAST(f.feature[{j}] AS DOUBLE) - "
        f"((CAST(m.s{j} AS DOUBLE) / {scale!r}) / CAST(m.n AS DOUBLE))"
        for j in range(1, dim + 1)
    ) + "]"
    return (
        f"(WITH f AS (SELECT * FROM {feats_sql}), "
        f"m AS (SELECT {sums}, COUNT(feature) AS n FROM f) "
        f"SELECT f.media_id, {centered} AS centered FROM f CROSS JOIN m)"
    )


def embedding_centroids(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group mean vectors, EXPLODED as (group, dim_pos, centroid,
    n_vecs) rows — the distributed centroid primitive behind class
    prototypes, IVF coarse quantizers, and embedding-drift monitoring.

    Shape: posexplode the vectors (narrow — one (group, pos, value)
    stream), ONE shuffle on (group, pos), QUANTIZED integer sums
    (floor(v·2^20) — the same bit-determinism trade as kmeans'
    scale_bits: a double→decimal cast rounds HALF_UP in Spark but can
    land on the other side of a tie in DuckDB, while floor has no
    ties), and a per-row division back to double.  The output is
    |groups| × dim rows — model-sized, not data-sized.  Exploding
    (rather than re-assembling arrays) keeps every value a scalar
    double, so results hash-check exactly across engines.

    NULL vectors contribute nothing; ``n_vecs`` counts the vectors
    that actually carried each dimension (ragged inputs surface as
    differing n_vecs across dim_pos — a data-quality signal, not an
    error)."""
    scale = float(1 << 20)
    per = df.select(
        F.col(group_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v"),
    )
    return (
        per.groupBy(group_col, F.col("pos").alias("dim_pos"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.floor(F.col("v") * F.lit(scale))).alias("_x_qsum"),
        )
        .select(
            group_col,
            F.col("dim_pos").cast("long").alias("dim_pos"),
            (F.col("_x_qsum").cast("double") / F.lit(scale) / F.col("n_vecs")).alias(
                "centroid"
            ),
            "n_vecs",
        )
    )


def embedding_centroids_oracle_sql(
    table: str,
    group_col: str,
    vec_col: str = "embedding",
) -> str:
    """DuckDB mirror of :func:`embedding_centroids` — same posexplode
    (0-based, via the unnest(generate_series) idiom; DuckDB has no
    WITH ORDINALITY), same floor-quantized integer sums, same division
    operand order."""
    return (
        f"SELECT {group_col}, CAST(i - 1 AS BIGINT) AS dim_pos, "
        f"CAST(SUM(CAST(FLOOR(l[CAST(i AS INTEGER)] * 1048576.0) AS BIGINT)) AS DOUBLE) "
        f"/ 1048576.0 / COUNT(*) AS centroid, COUNT(*) AS n_vecs "
        f"FROM (SELECT {group_col}, l, unnest(generate_series(1, len(l))) AS i "
        f"FROM (SELECT {group_col}, CAST({vec_col} AS DOUBLE[]) AS l FROM {table})) "
        f"GROUP BY {group_col}, i"
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Symmetric per-vector integer quantization — the int8 compression
    every production vector store applies before ANN indexing (4×
    smaller than float32, 8× than float64; recall loss ≪ 1% on
    normalized embeddings).  Per vector: ``scale = max|v| / qmax``
    (qmax = 2^(bits−1) − 1), ``q_i = clamp(round(v_i / max|v| · qmax))``;
    dequantization is ``q_i · scale``.  A zero vector quantizes to
    zeros with scale 0.  Returns (id, scale, q array<int>, max_err =
    max|v − q·scale|, the per-vector reconstruction bound).

    Pure JVM expressions (round half-away-from-zero matches DuckDB —
    the kmeans grid trade), one scan, no shuffle; exactly mirrored by
    quantize_oracle_sql (arrays rendered as joined strings there —
    the driver hash does not cover array cells)."""
    qmax = (1 << (bits - 1)) - 1
    v = F.col(vec_col).cast("array<double>")
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.when(absmax > 0, F.transform(
        v,
        lambda x: F.least(
            F.greatest(F.round(x / absmax * qmax), F.lit(float(-qmax))),
            F.lit(float(qmax)),
        ).cast("int"),
    )).otherwise(F.transform(v, lambda x: F.lit(0)))
    scale = F.when(absmax > 0, absmax / qmax).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        F.when(v.isNotNull(), scale).alias("scale"),
        F.when(v.isNotNull(), q).alias("q"),
        F.when(
            v.isNotNull(),
            F.array_max(
                F.zip_with(v, q, lambda x, qi: F.abs(x - qi.cast("double") * scale))
            ),
        ).alias("max_err"),
    )


def quantize_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> str:
    """DuckDB mirror of :func:`quantize_embeddings` with the int array
    rendered as a comma-joined string (array cells are outside the
    driver hash; the QUERY joins them identically)."""
    qmax = (1 << (bits - 1)) - 1
    v = f"CAST({vec_col} AS DOUBLE[])"
    absmax = f"list_max(list_transform({v}, x -> abs(x)))"
    qexpr = (
        f"CASE WHEN {absmax} > 0 THEN list_transform({v}, "
        f"x -> CAST(least(greatest(round(x / {absmax} * {qmax}), "
        f"CAST(-{qmax} AS DOUBLE)), CAST({qmax} AS DOUBLE)) AS INTEGER)) "
        f"ELSE list_transform({v}, x -> 0) END"
    )
    scale = f"CASE WHEN {absmax} > 0 THEN {absmax} / {qmax} ELSE 0.0 END"
    return (
        f"SELECT {id_col}, scale, array_to_string(q, ',') AS q_str, "
        f"list_max(list_transform(range(1, len(v) + 1), "
        f"i -> abs(v[CAST(i AS INTEGER)] - CAST(q[CAST(i AS INTEGER)] AS DOUBLE) * scale))) AS max_err "
        f"FROM (SELECT {id_col}, {v} AS v, {scale} AS scale, {qexpr} AS q "
        f"FROM {table} WHERE {vec_col} IS NOT NULL)"
    )



def _write_cid_partitioned(df: DataFrame, path: str, mode: str, salts: int = 8) -> None:
    """Write a (…, cid) frame PARTITIONED BY cid with a salted
    repartition first: hash-exchange on (cid, hash(neighbor_id) % salts)
    so (a) every writer task holds few cids — files per list are
    bounded by ``salts`` instead of tasks × cids (measured 505 → 16
    files and 3.6s → 1.2s at sf0.1), avoiding the small-files problem
    a 1000-executor build would otherwise bake into the store, and
    (b) each cid still spreads across ``salts`` reducers, so a skewed
    list never serializes into one giant task (the reason a bare
    ``repartition("cid")`` with its n_centroids-value key would be
    wrong at 100 TB)."""
    (
        df.repartition(F.col("cid"), F.pmod(F.hash("neighbor_id"), F.lit(salts)))
        .write.mode(mode)
        .partitionBy("cid")
        .parquet(path)
    )


def _check_centroids(
    who: str, centroids: list[list[float]], n_centroids: int, dim: int
) -> None:
    """Shape gate on a coarse quantizer passed to a store build: exactly
    ``n_centroids`` centroids of ``dim`` coordinates each — a wrong
    width would NULL-pad the assignment zip_with and send every vector
    to one bogus cid."""
    if len(centroids) != n_centroids:
        raise ValueError(
            f"{who}: {len(centroids)} centroids passed but n_centroids={n_centroids}"
        )
    if any(len(c) != dim for c in centroids):
        raise ValueError(
            f"{who}: every centroid must have {dim} coordinates (a wrong "
            "width would NULL-pad the assignment zip_with and send every "
            "vector to one bogus cid)"
        )


def _store_header_writers(
    spark, path: str, cents: list[list[float]], meta: dict[str, int]
) -> list:
    """Writers of the two small layers every ANN store carries, to run
    alongside its list writes (session.run_concurrent_writes —
    independent writes to disjoint paths): ``centroids`` as
    ``(cid, cen)`` rows, and the one ``meta`` row of int build
    parameters the serve side must agree on (quantizing queries on a
    different grid than the build silently breaks bit-identity).
    local_df, not createDataFrame().coalesce(1) — the tiny-layer
    sequential-slice storm, see session.local_df."""

    def _w_centroids() -> None:
        local_df(
            spark,
            [(i, list(map(float, c))) for i, c in enumerate(cents)],
            "cid int, cen array<double>",
        ).write.mode("overwrite").parquet(f"{path}/centroids")

    def _w_meta() -> None:
        local_df(
            spark,
            [tuple(int(v) for v in meta.values())],
            ", ".join(f"{name} int" for name in meta),
        ).write.mode("overwrite").parquet(f"{path}/meta")

    return [_w_centroids, _w_meta]


def _read_store_lists(
    spark, store_path: str, layer: str = "lists", probed: list[int] | None = None,
    schema=None,
) -> DataFrame:
    """A store's cid-partitioned layer (``lists``, or IVF-PQ's
    ``refine``) as a Spark frame.  ``probed`` filters it by a LITERAL
    cid ``isin``, which partition pruning turns into reading only
    those directories; ``schema`` reads with a known schema, which
    keeps a layer with no data files readable."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(f"{store_path}/{layer}")
    return df if probed is None else df.where(F.col("cid").isin(probed))


def build_ann_store(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    n_centroids: int = 16,
    iters: int = 2,
    sample_size: int = 2048,
    scale_bits: int = 20,
    centroids: list[list[float]] | None = None,
) -> None:
    """Persist an IVF index as a parquet ANN STORE — index ONCE, serve
    many query batches (the similarity sibling of the sketch stores;
    FAISS's train/add/search lifecycle re-expressed as a lakehouse
    layout):

    - ``{path}/centroids``: the coarse quantizer, ``(cid, cen)`` —
      n_centroids rows from :func:`fit_ivf_centroids` (the
      hash-sampled integer Lloyd's, so rebuilding from the same corpus
      reproduces the same index bit-for-bit);
    - ``{path}/lists``: the inverted lists, ``(neighbor_id, cv)``
      PARTITIONED BY cid — each corpus vector in its nearest
      centroid's directory, so a serving batch that probes p lists
      READS only those p directories (partition pruning; the other
      lists never leave disk).

    Serving (:func:`ann_from_store`) is bit-identical to
    :func:`ivf_topk` over the same corpus — the store
    round trip is lossless by construction (doubles are binary-exact
    through parquet), which the ann_store oracle row hash-checks
    against the direct computation's oracle.

    ``centroids`` optionally pins the coarse quantizer instead of
    fitting it from this corpus — the contract that makes incremental
    ingest exact: ``build(A, centroids=C)`` + ``append(B)`` produces
    byte-the-same list contents as ``build(A ∪ B, centroids=C)``
    (assignment is per-vector against fixed centroids; which batch a
    vector arrived in cannot matter)."""
    if centroids is None:
        centroids = fit_ivf_centroids(
            corpus, id_col, vec_col, n_centroids, iters, sample_size, scale_bits
        )
    else:
        _check_centroids(
            "build_ann_store", centroids, n_centroids, infer_dim(corpus, vec_col)
        )
    meta = {"scale_bits": scale_bits, "n_centroids": n_centroids}

    # the lists frame is built inside its writer: building it costs
    # ~0.2 s of driver-side analysis, which then overlaps the two small
    # header writes instead of running before them
    def _w_lists() -> None:
        _write_cid_partitioned(
            assign_lists(corpus, id_col, vec_col, centroids, scale_bits),
            f"{path}/lists",
            "overwrite",
        )

    run_concurrent_writes([
        *_store_header_writers(corpus.sparkSession, path, centroids, meta), _w_lists
    ])


def ann_store_is_pq(meta: dict, store_path: str) -> bool:
    """Store-kind detection shared by every meta consumer: True iff the
    meta row declares BOTH PQ keys (``m`` + ``k_codes``).  Exactly one
    present means a corrupt or partially-written store — raise a named
    error at detection instead of letting the PQ serve path fail deep
    inside ann_pq_from_store (r12 ADVICE: the old ``{'m','k_codes'} &
    set(meta)`` intersection test silently routed half-written stores
    to the PQ path)."""
    present = {"m", "k_codes"} & set(meta)
    if present and present != {"m", "k_codes"}:
        missing = ({"m", "k_codes"} - present).pop()
        raise ValueError(
            f"ann store {store_path}: meta declares {sorted(present)} but "
            f"not {missing!r} — a PQ store carries both m and k_codes; "
            "this store is corrupt or partially written, rebuild it"
        )
    return bool(present)


# column types the builders write to the typed store layers; the
# driver-side read applies no schema, so _read_store_layer checks them
_STORE_LAYER_TYPES = {
    "centroids": {"cid": "int", "cen": "array<double>"},
    "codebooks": {"sub": "int", "code": "int", "cw": "array<double>"},
}


def _read_store_layer(spark, store_path: str, layer: str) -> list[dict]:
    """Rows of one small store layer (``meta``, ``centroids``,
    ``codebooks``) as dicts, read on the driver without a Spark job
    (sources.io.read_parquet_on_driver).  A typed layer's columns must
    carry exactly the types its builder writes; a missing column or
    another type is a named error."""
    import pyarrow as pa

    from ..sources.io import read_parquet_on_driver

    table = read_parquet_on_driver(spark, f"{store_path}/{layer}")
    for name, ddl in _STORE_LAYER_TYPES.get(layer, {}).items():
        t = table.schema.field(name).type if name in table.column_names else None
        ok = t is not None and (
            pa.types.is_int32(t) if ddl == "int"
            else pa.types.is_list(t) and pa.types.is_float64(t.value_type)
        )
        if not ok:
            raise ValueError(
                f"ann store {store_path}: {layer} column {name!r} must be "
                f"{ddl}, found {t if t is not None else 'no such column'}"
            )
    return table.to_pylist()


def _read_ann_store_meta(spark, store_path: str) -> dict:
    """The store's one meta row, checked for the keys every reader
    needs — the first half of :func:`_read_ann_store_header`, and all a
    caller that only detects the store kind (ann_store_is_pq) reads."""
    rows = _read_store_layer(spark, store_path, "meta")
    if len(rows) != 1:
        raise ValueError(f"ann store {store_path}: missing/ambiguous meta table")
    meta = rows[0]
    if "scale_bits" not in meta or "n_centroids" not in meta:
        raise ValueError(
            f"ann store {store_path}: meta table lacks scale_bits/n_centroids "
            f"(has {sorted(meta)})"
        )
    return meta


def _read_ann_store_header(
    spark, store_path: str, expect_scale_bits: int | None = None,
    forbid_pq: str | None = None,
) -> tuple[int, int, list[list[float]], dict]:
    """Load and validate an ANN store's meta + centroid tables —
    the shared entry gate for serving and appending (store-kind
    detection lives here, not in call sites).  Both tables are read on
    the driver through the session's Hadoop FileSystem and pyarrow
    (:func:`_read_store_layer`), so the gate launches no Spark job:
    measured on a 4-core host for a 16-centroid store, 0.06 s per call,
    where reading both tables through Spark took three jobs and
    0.23 s.  Returns (scale_bits, n_centroids,
    centroids ordered by cid, meta row as a dict — PQ stores carry
    m/k_codes there).  The grid check runs FIRST (right after meta) so
    a caller on the wrong grid hears about that before any
    centroid-table diagnosis.  ``forbid_pq`` names the operation that
    must refuse IVF-PQ stores (their lists hold codes, not vectors)."""
    meta = _read_ann_store_meta(spark, store_path)
    if forbid_pq and ann_store_is_pq(meta, store_path):
        raise ValueError(
            f"{forbid_pq}: {store_path} is an IVF-PQ store (meta declares "
            "m/k_codes); its lists hold codes, not vectors — serve it with "
            "ann_pq_from_store, and grow it by rebuilding with build_pq_store"
        )
    if expect_scale_bits is not None and meta["scale_bits"] != expect_scale_bits:
        raise ValueError(
            f"ann store {store_path} was built with scale_bits="
            f"{meta['scale_bits']}; serving with {expect_scale_bits} would "
            "quantize queries on a different grid than the index"
        )
    rows = sorted(
        _read_store_layer(spark, store_path, "centroids"), key=lambda r: r["cid"]
    )
    if not rows or [r["cid"] for r in rows] != list(range(len(rows))):
        raise ValueError(
            f"ann store {store_path}: centroid table must cover cid 0..n-1 "
            f"exactly once, got {[r['cid'] for r in rows]}"
        )
    return (
        int(meta["scale_bits"]),
        int(meta["n_centroids"]),
        [list(r["cen"]) for r in rows],
        meta,
    )


def _probe_lists(q: DataFrame) -> tuple[DataFrame, list[int]]:
    """Materialize the exploded ``(…, cid)`` query frame and return it
    with its sorted probed-cid set.  The set comes from an unnamed
    ``Observation`` holding ``collect_set(cid)`` on the materializing
    job itself, not from a ``distinct().collect()`` job after it; a set
    union is idempotent, so a retried task cannot change it, and each
    call's Observation is its own.  The caller filters the lists by
    this set as a LITERAL ``isin``, which is what lets partition
    pruning reach the scan (≤ n_centroids values, bounded)."""
    from ..session import materialize

    obs = Observation()
    q = materialize(q.observe(obs, F.collect_set("cid").alias("probed")))
    return q, sorted(obs.get["probed"])


def append_to_ann_store(
    batch: DataFrame,
    store_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally ADD a vector batch to a persisted ANN store —
    FAISS's ``add()`` for the lakehouse layout: each new vector is
    assigned to its nearest EXISTING centroid (the coarse quantizer is
    immutable after build — the fixed-codebook contract every IVF
    serving system keeps so old and new vectors stay comparable) and
    its row is appended into that centroid's ``cid=`` list directory.

    Exactness: assignment is per-vector against the store's pinned
    centroids and grid (meta scale_bits), so
    ``build(A, centroids=C) + append(B) == build(A ∪ B, centroids=C)``
    list-for-list — the ann_store_append oracle row hash-checks the
    served result of exactly that composition.  At-most-once contract
    (the cms_store counter rule): appending the same batch twice
    duplicates its rows — and serving would then emit the duplicate
    neighbors at adjacent ranks rather than collapsing them.  Scale:
    one narrow write of the batch, partitioned on cid; the store's
    existing lists are never read or rewritten, so append cost is
    O(|batch|) regardless of index size."""
    # forbid_pq: an IVF-PQ store (functions/pq.py) shares the
    # meta/centroids layout but its lists hold CODES, not vectors —
    # appending (id, cv) rows there would silently corrupt it (NULL
    # codes at serve time); the shared header gate refuses it
    scale_bits, _n_cent, cents, _meta = _read_ann_store_header(
        batch.sparkSession, store_path, forbid_pq="append_to_ann_store"
    )
    _write_cid_partitioned(
        assign_lists(batch, id_col, vec_col, cents, scale_bits),
        f"{store_path}/lists",
        "append",
    )


def ann_from_store(
    spark,
    store_path: str,
    queries: DataFrame,
    *,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale_bits: int = 20,
) -> DataFrame:
    """Approximate cosine top-k for a query batch against a persisted
    ANN store — the raw corpus is never touched, and only the probed
    inverted-list DIRECTORIES are read (the probed-cid filter reaches
    the scan as a PartitionFilter; ≤ n_centroids values, bounded).
    The probe and rank of :func:`ivf_topk` over the stored lists, so
    the result is bit-identical to it."""
    _bits, _n_cent, cents, _meta = _read_ann_store_header(
        spark, store_path, expect_scale_bits=scale_bits,
        forbid_pq="ann_from_store",
    )
    # materialized: q feeds both the probed-cid set and the broadcast
    # join — without the boundary a nondeterministic query frame could
    # probe one cid set and join another, silently dropping neighbors
    # (and the centroid-distance pass would run twice even when
    # deterministic)
    q, probed = _probe_lists(
        assign_lists(queries, id_col, vec_col, cents, scale_bits, nprobe)
    )
    lists = _read_store_lists(spark, store_path, probed=probed)
    return _rank_by_cosine(_score_pairs(lists, q, "cid"), k)


def knn_label(
    spark,
    store_path: str,
    queries: DataFrame,
    labels: DataFrame,
    *,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    scale_bits: int = 20,
) -> DataFrame:
    """k-nearest-neighbor LABELING over the persisted ANN index — the
    serving-side classifier that needs no training: each query's k
    store-served neighbors (:func:`ann_from_store`, self-matches
    excluded, so corpus-as-queries gives leave-one-out evaluation)
    vote with their labels; the majority label wins, ties broken by
    (votes DESC, label ASC).  Returns (query_id, pred_label, n_votes).

    Votes are unweighted INTEGER counts — order-independent and
    engine-exact, where cosine-weighted votes would be an unordered FP
    sum.  UNLABELED neighbors (NULL label) do not vote — a NULL
    prediction is meaningless, and NULL ordering differs across
    engines (Spark ASC = NULLS FIRST, DuckDB NULLS LAST), so the
    filter is also what keeps the tie-break engine-exact.  Scale: the
    vote aggregate runs on ≤ |queries|·k rows, and the label side
    joins AFTER the top-k cut, so the corpus-wide label table only
    ever meets a bounded frame (broadcast when small)."""
    neighbors = ann_from_store(
        spark, store_path, queries, k=k, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col, scale_bits=scale_bits,
    )
    lab = labels.filter(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__lab__")
    )
    votes = (
        neighbors.join(lab, "neighbor_id")
        .groupBy("query_id", "__lab__")
        .agg(F.count(F.lit(1)).cast("long").alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("__lab__").asc()
    )
    return (
        votes.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select(
            "query_id",
            F.col("__lab__").alias("pred_label"),
            "n_votes",
        )
    )


def knn_label_oracle_sql(
    neighbors_sql: str,
    *,
    table: str = "embeddings",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> str:
    """DuckDB mirror of :func:`knn_label`, composed over
    ``neighbors_sql`` — the SAME unrolled IVF-store oracle string the
    ann_store row hash-checks (stage composition: neighbor equality is
    already proven, so this row proves the vote/tie-break layer)."""
    return f"""
WITH __knn_n AS MATERIALIZED ({neighbors_sql}),
__knn_v AS MATERIALIZED (
  SELECT n.query_id, l.{label_col} AS lab, CAST(COUNT(*) AS BIGINT) AS n_votes
  FROM __knn_n n JOIN {table} l ON l.{id_col} = n.neighbor_id
  WHERE l.{label_col} IS NOT NULL
  GROUP BY 1, 2
)
SELECT query_id, lab AS pred_label, n_votes FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY n_votes DESC, lab ASC) AS rn
  FROM __knn_v
) WHERE rn = 1
"""
