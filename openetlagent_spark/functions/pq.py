"""Product quantization (PQ) composed with the IVF ANN store — the
memory-budget serving path for similarity at 100 TB.

FAISS's IVF-PQ re-expressed as a lakehouse layout: the corpus vector is
split into ``m`` subspaces, each subspace gets its own ``k_codes``-entry
codebook (fit by the SAME deterministic hash-sample + integer-grid
Lloyd's as the IVF coarse quantizer — fit_ivf_centroids' three
determinism moves, applied per subspace), and every corpus vector is
stored in its inverted list as ``m`` small integer codes instead of
``dim`` doubles.  Serving scores candidates by ADC (asymmetric distance
computation: the RAW query against each candidate's RECONSTRUCTED
codeword vector), keeps the top ``k·refine_factor`` per query, and
exactly re-ranks only those against the full-precision refine layer.

Engine-exactness (the repo's oracle contract):
- the codebook fit is a pure function of the data — hash-smallest
  sample, integer-grid coordinates, strict-< lower-code ties, empty
  codes keep their previous centroid — so the unrolled-CTE SQL oracle
  reproduces it bit-for-bit (the pq_codebooks row);
- every coordinate of a fitted codeword is the RATIONAL sum/count of
  grid integers: the oracle embeds ``CAST(num AS DOUBLE)/CAST(den AS
  DOUBLE)`` while the Spark plan embeds the identical IEEE division
  result, so serving math starts from bit-identical constants;
- ADC is one fixed left-to-right fold (m-major, coordinate-minor) over
  doubles, mirrored term-for-term in SQL; the refine re-rank is the
  shared fold-order cosine.

Scale notes: the lists layer shrinks from ``dim`` doubles to ``m``
ints per vector (64-dim float64 → 8 codes ≈ 16× smaller scans at serve
time); ADC reads only the probed ``cid=`` directories; the refine join
touches ≤ ``k·refine_factor`` rows per query.  Codebook fit is one
bounded driver-side pass over the ``sample_size`` hash-sample (the
FAISS train-on-sample trade); nothing else ever collects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_df, run_concurrent_writes
from .similarity import (
    _array_literal,
    _check_centroids,
    _probe_lists,
    _rank_by_cosine,
    _read_ann_store_header,
    _read_store_layer,
    _read_store_lists,
    _store_header_writers,
    _top_per_query,
    _write_cid_partitioned,
    assign_lists,
    cosine_expr,
    infer_dim,
    nearest_centroid_ids,
    norm_expr,
)

Rational = tuple[int, int]


def fit_pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    sample_size: int = 2048,
    scale_bits: int = 20,
    sample: list[list[int]] | None = None,
) -> tuple[list[list[list[float]]], list[list[list[Rational]]]]:
    """Per-subspace codebooks from ONE deterministic hash sample:
    returns ``(codebooks, rationals)`` where ``codebooks[m][k]`` is the
    codeword as floats and ``rationals[m][k]`` the (num, den) integer
    pairs whose IEEE division produced each float — the oracle
    generator embeds the rationals so both engines start from
    bit-identical constants.  The Lloyd loop IS
    fit_ivf_centroids' (the shared similarity._lloyd), run on
    each subspace slice of the SAME sample rows.  ``sample``
    optionally supplies a pre-collected hash sample (build_pq_store
    collects once for both the coarse and PQ fits)."""
    from .similarity import _hash_sample, _lloyd

    dim = infer_dim(corpus, vec_col)
    if dim % m != 0:
        raise ValueError(f"pq: dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    if sample is None:
        sample = _hash_sample(corpus, id_col, vec_col, sample_size, scale_bits)
    books: list[list[list[float]]] = []
    rats: list[list[list[Rational]]] = []
    for s in range(m):
        off = s * sub
        slices = [x[off : off + sub] for x in sample]
        cents, cents_rat = _lloyd(slices, k_codes, iters, label="k_codes")
        books.append(cents)
        rats.append(cents_rat)
    return books, rats


def pq_codes_expr(xq: Column, codebooks: list[list[list[float]]]) -> Column:
    """``array<int>`` of per-subspace nearest-code ids for a quantized
    vector — nearest_centroid_ids (THE shared nearest-centroid
    expression) applied to each subspace slice, so encode cannot drift
    from the coarse assignment math."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    codes = [
        nearest_centroid_ids(
            F.slice(xq, s * sub + 1, sub), _array_literal(codebooks[s]), 1
        )[0]
        for s in range(m)
    ]
    return F.array(*codes)


def _adc_expr(
    qv: Column,
    code_words: list[Column],
    codebooks: list[list[list[float]]],
) -> Column:
    """ADC cosine: raw query against the candidate's reconstructed
    codeword vector — dot and reconstruction norm as ONE left-to-right
    fold each (m-major, coordinate-minor), the order the SQL mirror
    unrolls.  code_words[s] is the selected codeword array for
    subspace s."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    dot: Column = F.lit(0.0)
    recon2: Column = F.lit(0.0)
    for s in range(m):
        cw = code_words[s]
        for j in range(sub):
            dot = dot + qv[s * sub + j] * cw[j]
            recon2 = recon2 + cw[j] * cw[j]
    return F.try_divide(dot, norm_expr(qv) * F.sqrt(recon2))


def build_pq_store(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    n_centroids: int = 16,
    iters: int = 2,
    sample_size: int = 2048,
    scale_bits: int = 20,
    m: int = 8,
    k_codes: int = 16,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> None:
    """Persist an IVF-PQ index: the ANN store layout
    (similarity.build_ann_store) plus product quantization.

    - ``{path}/centroids``, ``{path}/meta``: the coarse quantizer and
      build parameters (meta gains ``m`` and ``k_codes``);
    - ``{path}/codebooks``: ``(sub, code, cw array<double>)`` — the
      per-subspace codebooks, persisted so serving reconstructs with
      the exact fit-time words;
    - ``{path}/lists`` PARTITIONED BY cid: ``(neighbor_id, codes
      array<int>)`` — the COMPACT layer ADC scans (m ints per vector,
      not dim doubles);
    - ``{path}/refine`` PARTITIONED BY cid: ``(neighbor_id, cv)`` —
      full-precision vectors for the exact top re-rank, pruned by the
      same probed cids."""
    from .clustering import _quantize
    from .similarity import _hash_sample, _lloyd

    dim = infer_dim(corpus, vec_col)
    if dim % m != 0:
        raise ValueError(f"pq: dim {dim} not divisible by m={m} subspaces")
    sub = dim // m

    # loud shape gates on every user-supplied constant, BEFORE the
    # expensive corpus-wide hash-sample scan — a wrong width would
    # NULL-pad the assignment/encode zip_with and silently send every
    # vector to one bogus cid / code 0
    def _check_shapes() -> None:
        if centroids is not None:
            _check_centroids("build_pq_store", centroids, n_centroids, dim)
        if codebooks is not None:
            if len(codebooks) != m or any(len(book) != k_codes for book in codebooks):
                raise ValueError(
                    f"build_pq_store: codebooks shape ({len(codebooks)} subspaces "
                    f"× {[len(b) for b in codebooks]} codes) does not match "
                    f"m={m}, k_codes={k_codes}"
                )
            if any(len(cw) != sub for book in codebooks for cw in book):
                raise ValueError(
                    f"build_pq_store: every codeword must have dim/m = {sub} "
                    "coordinates"
                )

    _check_shapes()
    # ONE hash-sample collect feeds both fits (they are defined over
    # the same sample rows, so two collects would just double the
    # corpus-wide md5 top-K scan — the most expensive build step)
    sample = None
    if centroids is None or codebooks is None:
        sample = _hash_sample(corpus, id_col, vec_col, sample_size, scale_bits)
    if centroids is None:
        centroids, _ = _lloyd(sample, n_centroids, iters, label="n_centroids")
    if codebooks is None:
        codebooks, _ = fit_pq_codebooks(
            corpus, id_col, vec_col, m=m, k_codes=k_codes, iters=iters,
            sample_size=sample_size, scale_bits=scale_bits, sample=sample,
        )
    _check_shapes()  # fitted constants obey the same contract
    spark = corpus.sparkSession
    # ONE corpus pass: write the refine layer (id, cv, cid) first, then
    # derive the codes layer FROM it — the second pass reads the
    # already-partitioned store (narrow, no corpus rescan) and
    # re-quantizes cv, which is exact (cv is the original doubles, so
    # _quantize(cv) == the first pass's xq bit-for-bit)
    base = assign_lists(corpus, id_col, vec_col, centroids, scale_bits)
    meta = {
        "scale_bits": scale_bits, "n_centroids": n_centroids, "m": m, "k_codes": k_codes,
    }

    # local_df, not createDataFrame().coalesce(1): the default local
    # parallelization splits 16 rows into 32 Python-RDD slices and
    # coalesce computes them sequentially in one task — ~7s per tiny
    # layer, ×3 layers per build (the r09 "index-build job storm").
    # The three tiny layers and the refine layer are independent
    # writes to disjoint paths, run concurrently; only the codes layer
    # below depends on refine.
    def _w_codebooks() -> None:
        local_df(
            spark,
            [
                (s, k, list(map(float, cw)))
                for s, book in enumerate(codebooks)
                for k, cw in enumerate(book)
            ],
            "sub int, code int, cw array<double>",
        ).write.mode("overwrite").parquet(f"{path}/codebooks")

    run_concurrent_writes([
        *_store_header_writers(spark, path, centroids, meta),
        _w_codebooks,
        lambda: _write_cid_partitioned(base, f"{path}/refine", "overwrite"),
    ])
    # explicit schema: an all-NULL-vector corpus writes zero data
    # files, and a schema-less read would fail with an unrelated
    # inference error instead of building an (empty) store
    refine = _read_store_lists(spark, path, "refine", schema=base.schema)
    _write_cid_partitioned(
        refine.select(
            "neighbor_id",
            pq_codes_expr(
                _quantize(F.col("cv"), scale_bits), codebooks
            ).alias("codes"),
            "cid",
        ),
        f"{path}/lists",
        "overwrite",
    )


def ann_pq_from_store(
    spark,
    store_path: str,
    queries: DataFrame,
    *,
    k: int = 10,
    nprobe: int = 4,
    refine_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale_bits: int = 20,
) -> DataFrame:
    """IVF-PQ serving: probe ``nprobe`` inverted lists (partition-pruned
    — only those directories are read), ADC-score the probed CODES
    against the raw query, keep the top ``k·refine_factor`` candidates
    per query, then exactly re-rank only those against the
    full-precision refine layer.  Returns (query_id, neighbor_id,
    rank, cosine) — the exact cosine of every emitted neighbor, so the
    approximation shows up only as which candidates reached the
    re-rank, never as a wrong score."""
    store_bits, n_cent, cents, meta = _read_ann_store_header(
        spark, store_path, expect_scale_bits=scale_bits
    )
    if "m" not in meta or "k_codes" not in meta:
        raise ValueError(
            f"ann_pq_from_store: {store_path} is a plain ANN store (no "
            "m/k_codes in meta) — serve it with ann_from_store"
        )
    m, k_codes = int(meta["m"]), int(meta["k_codes"])
    cb_rows = _read_store_layer(spark, store_path, "codebooks")
    if len(cb_rows) != m * k_codes:
        raise ValueError(
            f"pq store {store_path}: expected {m * k_codes} codebook rows, "
            f"got {len(cb_rows)}"
        )
    by_key = {(r["sub"], r["code"]): list(r["cw"]) for r in cb_rows}
    codebooks = [
        [by_key[(s, c)] for c in range(k_codes)] for s in range(m)
    ]
    q, probed = _probe_lists(
        assign_lists(queries, id_col, vec_col, cents, scale_bits, nprobe)
    )
    lists = _read_store_lists(spark, store_path, probed=probed)
    cand = lists.join(F.broadcast(q), "cid").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    # r13: materialize the selected codeword of each subspace ONCE as a
    # column.  Referencing element_at(<128-double literal>, codes[s]+1)
    # directly inside the ADC fold duplicates that subtree ~24× per
    # subspace in the analyzed tree (dot + recon² references), which
    # cost ~2s of driver-side analysis per serve call (measured,
    # OPTIMIZATION_r13.md); as a non-cheap multi-consumer alias the
    # projection survives CollapseProject, the fold sees 8 small
    # attributes, and every per-row value — hence the oracle hash — is
    # unchanged (element_at evaluated once per row either way).
    cand = cand.select(
        "query_id",
        "neighbor_id",
        "cid",
        "qv",
        *[
            F.element_at(_array_literal(codebooks[s]), F.col("codes")[s] + 1).alias(
                f"_x_cw{s}"
            )
            for s in range(m)
        ],
    )
    code_words = [F.col(f"_x_cw{s}") for s in range(m)]
    scored = cand.withColumn("adc", _adc_expr(F.col("qv"), code_words, codebooks))
    sel = _top_per_query(scored, "adc", k * refine_factor, "arn").select(
        "query_id", "neighbor_id", "cid", "qv"
    )
    refine = _read_store_lists(spark, store_path, "refine", probed)
    reranked = sel.join(refine, ["cid", "neighbor_id"]).withColumn(
        "cosine", cosine_expr(F.col("qv"), F.col("cv"))
    )
    return _rank_by_cosine(reranked, k)


# --- oracle generation -------------------------------------------------
#
# Fully independent DuckDB mirrors: the per-subspace codebook fit is
# UNROLLED in SQL (no embedded constants) exactly like the IVF fit it
# copies its determinism from, so the pq_codebooks row proves the fit
# and the ann_pq row proves the whole IVF-PQ serve — fit, encode, ADC
# cut, and refine re-rank — against nothing but the parquet input.


def _sql_sub_qdist(b: str, c: str, sub: int, off: int) -> str:
    """Unrolled quantized distance over ONE subspace slice:
    xq[off+1..off+sub] against the codeword — the SQL twin of
    pq_codes_expr's sliced nearest_centroid_ids fold."""
    acc = "0.0"
    for j in range(1, sub + 1):
        d = f"(CAST({b}.xq[{off + j}] AS DOUBLE) - {c}.cen[{j}])"
        acc = f"({acc} + {d} * {d})"
    return acc


def _pq_fit_parts(
    prefix: str, sub: int, off: int, k_codes: int, iters: int
) -> tuple[list[str], str]:
    """Unrolled Lloyd chain for one subspace (over the shared ``samp``
    CTE from similarity._ivf_fit_parts) — the same shape as the IVF
    fit, on the slice ``xq[off+1 .. off+sub]``."""
    init_cen = "[" + ", ".join(
        f"CAST(xq[{off + j}] AS DOUBLE)" for j in range(1, sub + 1)
    ) + "]"
    sums = ", ".join(f"SUM(a.xq[{off + j}]) AS s{j}" for j in range(1, sub + 1))
    cen_from_sums = "[" + ", ".join(
        f"CAST(s{j} AS DOUBLE) / CAST(cnt AS DOUBLE)" for j in range(1, sub + 1)
    ) + "]"
    parts = [
        f"{prefix}c0 AS (SELECT row_number() OVER (ORDER BY h, vid) - 1 AS cid, "
        f"{init_cen} AS cen FROM samp ORDER BY h, vid LIMIT {k_codes})"
    ]
    prev = f"{prefix}c0"
    for i in range(iters):
        parts.append(
            f"{prefix}a{i} AS (SELECT vid, xq, cluster FROM ("
            f"SELECT s.vid, s.xq, c.cid AS cluster, row_number() OVER "
            f"(PARTITION BY s.vid ORDER BY {_sql_sub_qdist('s', 'c', sub, off)}, "
            f"c.cid) AS rn FROM samp s CROSS JOIN {prev} c) WHERE rn = 1)"
        )
        nxt = f"{prefix}c{i + 1}"
        parts.append(
            f"{nxt} AS (SELECT p.cid, CASE WHEN g.cnt IS NULL THEN p.cen "
            f"ELSE {cen_from_sums} END AS cen FROM {prev} p LEFT JOIN ("
            f"SELECT a.cluster AS cid, COUNT(*) AS cnt, {sums} "
            f"FROM {prefix}a{i} a GROUP BY a.cluster) g ON g.cid = p.cid)"
        )
        prev = nxt
    return parts, prev


def _materialize(parts: list[str], names: set[str]) -> list[str]:
    """Pin ``AS MATERIALIZED`` on the named CTEs — DuckDB inlines CTEs
    referenced more than once and re-evaluates them per reference
    (the r08 unrolled-oracle lesson); the PQ oracle references samp
    from every subspace chain."""
    out = []
    for p in parts:
        name = p.split(" AS ", 1)[0]
        if name in names:
            p = p.replace(f"{name} AS (", f"{name} AS MATERIALIZED (", 1)
        out.append(p)
    return out


def pq_codebooks_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    sample_size: int = 2048,
    scale_bits: int = 20,
    dim: int = 64,
) -> str:
    """DuckDB mirror of fit_pq_codebooks: per subspace, the identical
    hash sample and unrolled integer Lloyd — output
    (sub, code, dim_pos, coord) rows."""
    from .similarity import _ivf_fit_parts

    sub = dim // m
    parts, _ = _ivf_fit_parts(
        table, id_col, vec_col, 1, sample_size, 0, scale_bits, dim
    )
    parts = parts[:2]  # base + samp only (no coarse quantizer needed)
    arms = []
    for s in range(m):
        fit_parts, final = _pq_fit_parts(f"p{s}", sub, s * sub, k_codes, iters)
        parts.extend(fit_parts)
        coord_rows = ", ".join(
            f"({j - 1}, cen[{j}])" for j in range(1, sub + 1)
        )
        arms.append(
            f"SELECT {s} AS sub, cid AS code, u.dp AS dim_pos, u.coord "
            f"FROM {final}, LATERAL (VALUES {coord_rows}) AS u(dp, coord)"
        )
    parts = _materialize(parts, {"base", "samp"})
    return "WITH " + ", ".join(parts) + " " + "\nUNION ALL\n".join(arms)


def ann_pq_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    refine_factor: int = 4,
    sample_size: int = 2048,
    iters: int = 2,
    scale_bits: int = 20,
    dim: int = 64,
    m: int = 8,
    k_codes: int = 16,
    query_pred: str = "b.vid < 20",
) -> str:
    """DuckDB mirror of build_pq_store → ann_pq_from_store: the IVF
    fit/assign/probe parts (similarity._ivf_fit_parts — byte-shared
    with the ann_store oracle), the per-subspace codebook fits, corpus
    code selection, the m-major/coordinate-minor ADC fold, the
    ``k·refine_factor`` ADC cut, and the fold-order cosine re-rank."""
    from .similarity import _ivf_fit_parts, _sql_cosine, _sql_qdist

    sub = dim // m
    parts, cfinal = _ivf_fit_parts(
        table, id_col, vec_col, n_centroids, sample_size, iters, scale_bits, dim
    )
    parts.append(
        f"assign AS (SELECT vid, cluster FROM ("
        f"SELECT b.vid, c.cid AS cluster, row_number() OVER "
        f"(PARTITION BY b.vid ORDER BY {_sql_qdist('b', 'c', dim)}, c.cid) AS rn "
        f"FROM base b CROSS JOIN {cfinal} c) WHERE rn = 1)"
    )
    parts.append(
        f"probe AS (SELECT vid AS query_id, cluster FROM ("
        f"SELECT b.vid, c.cid AS cluster, row_number() OVER "
        f"(PARTITION BY b.vid ORDER BY {_sql_qdist('b', 'c', dim)}, c.cid) AS rn "
        f"FROM base b CROSS JOIN {cfinal} c WHERE {query_pred}) WHERE rn <= {nprobe})"
    )
    parts.append(
        f"cand AS (SELECT p.query_id, a.vid AS neighbor_id "
        f"FROM probe p JOIN assign a ON a.cluster = p.cluster "
        f"WHERE a.vid != p.query_id)"
    )
    pq_finals = []
    for s in range(m):
        fit_parts, final = _pq_fit_parts(f"p{s}", sub, s * sub, k_codes, iters)
        parts.extend(fit_parts)
        parts.append(
            f"pqa{s} AS (SELECT vid, cen FROM ("
            f"SELECT b.vid, c.cen, row_number() OVER "
            f"(PARTITION BY b.vid ORDER BY {_sql_sub_qdist('b', 'c', sub, s * sub)}, "
            f"c.cid) AS rn FROM base b CROSS JOIN {final} c) WHERE rn = 1)"
        )
        pq_finals.append(final)
    # ADC: m-major, coordinate-minor left-assoc folds — the _adc_expr order
    dot = "0.0"
    recon2 = "0.0"
    for s in range(m):
        for j in range(1, sub + 1):
            dot = f"({dot} + q.v[{s * sub + j}] * w{s}.cen[{j}])"
            recon2 = f"({recon2} + w{s}.cen[{j}] * w{s}.cen[{j}])"
    qn = "0.0"
    for j in range(1, dim + 1):
        qn = f"({qn} + q.v[{j}] * q.v[{j}])"
    joins = " ".join(
        f"JOIN pqa{s} w{s} ON w{s}.vid = cd.neighbor_id" for s in range(m)
    )
    parts.append(
        f"adc AS (SELECT cd.query_id, cd.neighbor_id, "
        f"({dot}) / NULLIF(sqrt({qn}) * sqrt({recon2}), 0.0) AS adc "
        f"FROM cand cd JOIN base q ON q.vid = cd.query_id {joins})"
    )
    parts.append(
        f"sel AS (SELECT query_id, neighbor_id FROM ("
        f"SELECT query_id, neighbor_id, row_number() OVER ("
        f"PARTITION BY query_id ORDER BY adc DESC NULLS LAST, neighbor_id) AS arn "
        f"FROM adc) WHERE arn <= {k * refine_factor})"
    )
    parts.append(
        f"scored AS (SELECT s.query_id, s.neighbor_id, "
        f"{_sql_cosine('a.v', 'b.v', dim)} AS cosine "
        f"FROM sel s JOIN base a ON a.vid = s.query_id "
        f"JOIN base b ON b.vid = s.neighbor_id)"
    )
    final = (
        f"SELECT query_id, neighbor_id, rank, cosine FROM ("
        f"SELECT query_id, neighbor_id, cosine, row_number() OVER ("
        f"PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, neighbor_id) AS rank "
        f"FROM scored) WHERE rank <= {k}"
    )
    mat = {"base", "samp", cfinal, "assign", "probe", "cand", "adc", "sel"}
    mat.update(pq_finals)
    parts = _materialize(parts, mat)
    return "WITH " + ", ".join(parts) + " " + final
