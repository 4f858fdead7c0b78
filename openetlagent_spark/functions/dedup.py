"""Deduplication at training-data scale.

One hash scheme per near-duplicate family, and each is engine-exact
end to end, so the code a flow runs is the code its generated DuckDB
oracle checks:

- exact_dedup: hash-groupBy keep-first — one shuffle on the key.
- minhash_lsh_pairs: word-n-gram MinHash LSH — md5-fold shingle codes
  → numpy signatures of Mersenne ``(a*g + b) mod M`` permutations →
  integer band folds → one shuffle on (band, bkey) → bucket-local
  candidate pairs → exact Jaccard verify (ngram_pairs_oracle_sql).
  ngram_band_table exposes its band keys for persisted stores.
- simhash60 / simhash_pairs: 60-bit md5-token SimHash; Hamming-≤k
  candidates via pigeonhole banding (k+1 bands ⇒ at least one
  identical band), verified with bit_count(xor)
  (simhash_pairs_oracle_sql).
- embedding_neardup_pairs: cosine ≥ threshold via sign-LSH blocking
  over ±1.0 (Rademacher) hyperplanes, exact cosine verification
  (embedding_pairs_oracle_sql).
- substring_run_pairs: pairs sharing EXACT ``run_len``-token runs (the
  suffix-array partial-duplication signal — boilerplate, quoted
  passages) as a capped shingle-code equi-join (substring_pairs_oracle_sql).

Rows with NULL text have no shingles: every text miner leaves them out.

String hashing (md5) and set math stay JVM-side; the two
per-element-math hot spots — MinHash's permutation min-reduce and
SimHash's popcount accumulation — run as Arrow-batched numpy pandas
UDFs over precomputed code arrays, because Spark's higher-order
functions evaluate interpreted (never whole-stage codegen; measured
~6× — see SCALE.md).

Scale notes: every strategy is (scan → narrow transforms → one shuffle
on a blocking key → bounded bucket-local pairing).  ``max_bucket``
guards against degenerate buckets (e.g. thousands of identical docs)
going quadratic; oversized buckets are dropped and counted, not
silently exploded.

Persist lifecycle: the signature tables these functions persist stay
cached for the session (same policy as Spark MLlib's LSH models) —
Spark's block manager evicts LRU under memory pressure, and a caller
running many corpora through one session can reclaim eagerly with
``spark.catalog.clearCache()``.
"""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from ..session import materialize
from pyspark.sql import functions as F

from .text import _toks_sql

# Mersenne prime 2^31-1: (a*h + b) % M stays under 2^62, so the modular
# permutation math never overflows a long even in ANSI mode.
_MERSENNE = 2_147_483_647
_FOLD_PRIME = 1_000_003  # shingle/band fold multiplier (k*P + v mod M)


def bind_once(expr: Column, fn) -> Column:
    """Evaluate ``expr`` exactly once and feed it to ``fn`` as a lambda
    variable.  An outer expression referenced inside a higher-order
    lambda body is re-evaluated per element (Catalyst does no CSE across
    lambda scopes) — e.g. slicing a token array inside transform() would
    re-run the tokenizing regex split once per output element.  Wrapping
    the expression in a single-element array and transform()ing it binds
    it to a variable instead (measured ~10× on shingling)."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Keep exactly one row per key — the one with the smallest
    ``order_col`` (deterministic, unlike dropDuplicates).  One shuffle."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def _perm_params(num_perm: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE)) for _ in range(num_perm)]


def _token_col(text_col: Column) -> Column:
    return F.split(F.trim(F.lower(text_col)), r"\s+")


def minhash_from_hashes(hashes_col: Column, num_perm: int = 64, seed: int = 42) -> Column:
    """MinHash signature (array<long>) as one JVM expression:
    sig[i] = min over hashes h of (a_i*h + b_i) mod M.  The reference
    form :func:`minhash_udf` is checked against; pipelines use the UDF
    (Spark's higher-order functions evaluate interpreted — see there)."""

    params = _perm_params(num_perm, seed)
    # One parsed literal of (a, b) pairs + one nested transform: a
    # per-permutation F.array_min(F.transform(...)) column costs
    # hundreds of py4j round-trips of driver time (cf. similarity.
    # _array_literal); this builds the same expression in a few calls.
    params_sql = "array(" + ",".join(f"array({a}L,{b}L)" for a, b in params) + ")"
    return F.transform(
        F.expr(params_sql),
        lambda p: F.array_min(
            F.transform(hashes_col, lambda h: (p[0] * h + p[1]) % F.lit(_MERSENNE))
        ),
    )


def minhash_udf(bands: int, rows_per_band: int, seed: int):
    """Arrow-batched numpy MinHash band keys over a shingle-code array
    column: the signature of ``bands * rows_per_band`` ``(a*h + b) mod
    M`` permutations (numerically IDENTICAL to minhash_from_hashes from
    the same seed), each run of ``rows_per_band`` consecutive values
    folded into one band key ``k*P + v mod M`` — pure integer
    arithmetic DuckDB evaluates identically (see
    _ngram_band_sql_parts).  With ``rows_per_band=1`` the keys are the
    signature itself.

    Spark's higher-order functions evaluate on the interpreted
    expression path (never whole-stage codegen), so the 64-permutation
    min-reduce costs ~20 s over 50k docs JVM-side vs ~3.5 s as one
    vectorized ``(A*h+B) % M`` outer product per Arrow batch (measured
    at sf1).  Same precedent as simhash60's popcount UDF: Python only
    where numpy beats the interpreted JVM path.  Codes are below 2^32
    and a, b below M, so ``a*h + b`` stays under 2^63; band folds stay
    under 2^52 (values < M, P < 2^20).  Rows with no codes yield NULL."""
    from pyspark.sql.types import ArrayType, LongType

    params = _perm_params(bands * rows_per_band, seed)
    a = [p[0] for p in params]
    b = [p[1] for p in params]

    @F.pandas_udf(ArrayType(LongType(), containsNull=False))
    def mh(hash_arrays: pd.Series) -> pd.Series:
        import numpy as np

        A = np.array(a, dtype=np.int64)[:, None]
        B = np.array(b, dtype=np.int64)[:, None]
        out = []
        for arr in hash_arrays:
            if arr is None or len(arr) == 0:
                out.append(None)
                continue
            h = np.asarray(arr, dtype=np.int64)[None, :]
            sig = ((A * h + B) % _MERSENNE).min(axis=1)
            rows = sig.reshape(bands, rows_per_band)
            keys = rows[:, 0]
            for j in range(1, rows_per_band):
                keys = (keys * _FOLD_PRIME + rows[:, j]) % _MERSENNE
            out.append(keys.tolist())
        return pd.Series(out)

    return mh


def _band_table(base: DataFrame, bands: int, rows_per_band: int, seed: int) -> DataFrame:
    """(__id__, band, bkey) from a prepared (__id__, grams) frame — the
    ONE place the MinHash band keys are computed (shared by the pair
    miner and the persisted band store, so the two can never drift):
    minhash_udf's band keys, posexploded.  A row without codes has no
    keys, so it has no band rows."""
    keys = minhash_udf(bands, rows_per_band, seed)(F.col("grams"))
    return base.select("__id__", F.posexplode(keys).alias("band", "bkey"))


def _shingled(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(__id__, grams) for every non-NULL-text row: NULL text has no
    shingles, so it can neither pair nor be paired."""
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id__"),
        word_ngram_codes(F.col(text_col), n).alias("grams"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    bands: int = 4,
    rows_per_band: int = 3,
    seed: int = 7,
    max_bucket: int = 1000,
) -> DataFrame:
    """Word-n-gram near-duplicate pairs (id_a < id_b, jaccard >=
    threshold) by MinHash LSH, engine-exact end to end: shingle codes
    are md5-fold ints (word_ngram_codes), each of ``bands`` band keys
    folds ``rows_per_band`` minhash values — min over codes g of ``(a*g
    + b) mod M``, M = 2^31-1 — and verification is exact Jaccard on the
    code sets.  So the whole pipeline, blocking included, hash-matches
    the DuckDB oracle ngram_pairs_oracle_sql with the same parameters.

    A pair with Jaccard j becomes a candidate with probability
    1-(1-j^r)^bands (r=3, 4 bands: j=0.9 → 99.5%, j=0.004 → ~3e-7) —
    the classic LSH S-curve with a DETERMINISTIC fixed-seed hash.  Key
    cardinality grows with the corpus (attribute blocking went
    quadratic at 10× data: 366 blocks → 4.1M candidate pairs), while
    minhash buckets stay near-dup-sized.  Buckets larger than
    ``max_bucket`` are dropped (degenerate mass-duplicate clusters;
    handle those with exact_dedup on the fingerprint first).  Rows with
    NULL text are left out.

    Plan shape: scan → shingle codes (one eager checkpoint: it feeds
    the banding pass and both verification join-backs) → numpy
    signature + band folds → one shuffle on (band, bkey) → bucket-local
    pairs → exact Jaccard.  The (large) code arrays never enter the
    banding shuffle."""
    if bands < 1 or rows_per_band < 1:
        raise ValueError(
            f"minhash_lsh_pairs needs bands >= 1 and rows_per_band >= 1, "
            f"got {bands} and {rows_per_band}"
        )
    # eager checkpoint, not persist: blocks free on GC of the returned
    # DataFrame instead of leaking for the session
    base = _shingled(df, id_col, text_col, n).transform(materialize)
    banded = _band_table(base, bands, rows_per_band, seed)

    # Bucket-local pair generation WITHOUT a self-join: one shuffle
    # gathers each (band, bkey) bucket's ids into an array, then the
    # id_a < id_b pairs expand as a JVM array expression; the
    # max_bucket guard bounds the per-bucket O(n²) expansion.
    buckets = (
        banded.groupBy("band", "bkey")
        .agg(F.collect_list("__id__").alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    ids = F.col("ids")
    pair_expr = F.flatten(
        F.transform(
            ids,
            lambda a: F.transform(
                F.filter(ids, lambda b: b > a),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    candidates = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b")
        # a pair can collide in several bands
        .dropDuplicates(["id_a", "id_b"])
    )

    grams = base.hint("merge")
    # merge hints: see embedding_neardup_pairs — neither the statically
    # underestimated pair list nor the corpus-sized checkpoint frame
    # may ever be the broadcast side
    candidates = candidates.hint("merge").join(
        grams.select(F.col("__id__").alias("id_a"), F.col("grams").alias("g_a")), "id_a"
    ).join(grams.select(F.col("__id__").alias("id_b"), F.col("grams").alias("g_b")), "id_b")
    return (
        candidates.withColumn("jaccard", _jaccard_expr("g_a", "g_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _jaccard_expr(a: str, b: str) -> Column:
    """Exact Jaccard of two distinct-element arrays, computing the
    intersection ONCE: |A∪B| = |A|+|B|-|A∩B| (bind_once avoids both a
    second intersect and a materialized union array)."""
    return bind_once(
        F.size(F.array_intersect(a, b)),
        # try_divide: degenerate empty-set pairs yield NULL (dropped by
        # the threshold filter) instead of raising under ANSI mode.
        lambda i: F.try_divide(i.cast("double"), (F.size(a) + F.size(b) - i).cast("double")),
    )


# --- SimHash ---------------------------------------------------------------


def simhash60(df: DataFrame, text_col: str) -> DataFrame:
    """Add ``simhash``: 60-bit SimHash of the token multiset.  Tokens
    hash JVM-side to their 60-bit md5 prefix
    (``conv(substring(md5(w),1,15),16,10)`` == DuckDB
    ``('0x'||substr(md5(w),1,15))::BIGINT``), so every stage is
    engine-exact integer math and the pipeline is oracle-checkable
    (simhash_pairs_oracle_sql); the per-bit popcount accumulation runs
    in one Arrow-batched pandas UDF over the hash arrays (numpy
    vectorized — Python never touches strings)."""
    n_bits = 60
    hashes = F.transform(
        _token_col(F.col(text_col)),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
    )

    import numpy as np
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _simhash(hash_arrays: pd.Series) -> pd.Series:
        out = []
        bit_idx = np.arange(n_bits, dtype=np.uint64)
        for arr in hash_arrays:
            if arr is None or len(arr) == 0:
                out.append(0)
                continue
            h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            bits = ((h[:, None] >> bit_idx) & np.uint64(1)).astype(np.int64)
            votes = (2 * bits - 1).sum(axis=0)
            sig = np.uint64(0)
            for i in np.nonzero(votes > 0)[0]:
                sig |= np.uint64(1) << np.uint64(i)
            out.append(np.int64(sig).item())
        return pd.Series(out)

    return df.withColumn("simhash", _simhash(hashes))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate pairs with Hamming(simhash) <= max_hamming, via
    pigeonhole banding: split the 60 bits into (max_hamming+1) bands —
    any pair within the Hamming budget must agree exactly on ≥1 band.
    Verification is bit_count(xor) on the JVM.  Rows with NULL text
    are left out.  The whole pipeline hash-checks against
    simhash_pairs_oracle_sql with the same parameters.

    Plan shape mirrors minhash_lsh_pairs: one shuffle gathers each
    (band, bval) bucket's (id, simhash) structs, the id_a < id_b pairs
    expand as a JVM array expression, and one dropDuplicates removes
    pairs that agree on multiple bands.  The signature carries in the
    bucket payload (8 bytes), so no join-back — and the pandas-UDF
    signature pass sits in a single linear chain, needing no persist."""
    n_bands = max_hamming + 1
    width = 60 // n_bands
    with_sig = simhash60(df.filter(F.col(text_col).isNotNull()), text_col).select(
        F.col(id_col).alias("__id__"), "simhash"
    )

    bands = with_sig.select(
        "__id__",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), j * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bval"),
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("__id__", "simhash", "b.band", "b.bval")

    buckets = (
        bands.groupBy("band", "bval")
        .agg(
            F.collect_list(
                F.struct(F.col("__id__").alias("id"), F.col("simhash").alias("sh"))
            ).alias("items")
        )
        .filter((F.size("items") > 1) & (F.size("items") <= max_bucket))
    )
    items = F.col("items")
    pair_expr = F.flatten(
        F.transform(
            items,
            lambda a: F.transform(
                F.filter(items, lambda b: b["id"] > a["id"]),
                lambda b: F.struct(
                    a["id"].alias("id_a"),
                    b["id"].alias("id_b"),
                    F.bit_count(a["sh"].bitwiseXOR(b["sh"])).alias("hamming"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_pairs_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> str:
    """DuckDB oracle for simhash_pairs: the same 60-bit
    md5-prefix token hashes, per-bit vote sums via unnest ×
    generate_series, signature assembly by shifted bit sums, pigeonhole
    banding, and bit_count(xor) Hamming verification — every stage
    integer-exact, generated from the same parameters as the plan."""
    n_bands = max_hamming + 1
    width = 60 // n_bands
    toks = _toks_sql(text_col)
    hashes = f"list_transform({toks}, w -> CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT))"
    return f"""
WITH th AS (SELECT {id_col} AS did, {hashes} AS hs FROM {table}
            WHERE {text_col} IS NOT NULL),
votes AS (SELECT did, j, SUM(2 * ((h >> j) & 1) - 1) AS v
          FROM (SELECT did, unnest(hs) AS h FROM th), generate_series(0, 59) s(j)
          GROUP BY did, j),
sig AS (SELECT did,
               CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM votes GROUP BY did),
banded AS (SELECT did, simhash, j AS band,
                  (simhash >> ({width} * j)) & {(1 << width) - 1} AS bval
           FROM sig, generate_series(0, {n_bands - 1}) b(j)),
ok AS (SELECT band, bval FROM banded GROUP BY band, bval
       HAVING COUNT(*) > 1 AND COUNT(*) <= {max_bucket}),
cand AS (SELECT DISTINCT x.did AS id_a, y.did AS id_b,
                bit_count(xor(x.simhash, y.simhash)) AS hamming
         FROM banded x
         JOIN ok o ON x.band = o.band AND x.bval = o.bval
         JOIN banded y ON y.band = x.band AND y.bval = x.bval AND y.did > x.did)
SELECT id_a, id_b, hamming FROM cand WHERE hamming <= {max_hamming}
"""


# --- word n-gram Jaccard --------------------------------------------------


def word_ngram_codes(text_col: Column, n: int = 3) -> Column:
    """Distinct word-n-gram (shingle) codes: token code = first 8 md5
    hex digits as an int (Spark ``conv(substring(md5(w),1,8),16,10)`` ==
    DuckDB ``('0x'||substr(md5(w),1,8))::BIGINT`` — engine-exact), and
    the shingle folds n consecutive token codes with modular arithmetic.
    Past-the-end positions (docs shorter than n words) code as 0.

    Word shingles, not char grams, are the similarity signal here: on a
    small-vocabulary corpus EVERY doc pair shares ~half its distinct
    char-3-grams (measured ~0.55 noise Jaccard — no LSH S-curve can
    separate that), while random word-3-gram overlap is ~0.004 and true
    near-dups stay ~0.9."""
    word_codes = F.transform(
        _token_col(text_col),
        lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long"),
    )

    def build(codes: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(codes) - F.lit(n - 1), F.lit(1)))

        def code_at(i: Column) -> Column:
            return F.coalesce(F.try_element_at(codes, i), F.lit(0))

        def shingle(i: Column) -> Column:
            k = code_at(i)
            for j in range(1, n):
                k = (k * F.lit(_FOLD_PRIME) + code_at(i + F.lit(j))) % F.lit(_MERSENNE)
            return k

        return F.array_distinct(F.transform(idx, shingle))

    return bind_once(word_codes, build)


def ngram_band_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 3,
    seed: int = 7,
) -> DataFrame:
    """Public band-table builder: (id, band, bkey) rows for every
    non-NULL-text document — the unit a persisted near-dup signature
    store is made of (see incremental.build_neardup_store).  Single
    consumer, so no checkpoint: the caller decides materialization."""
    base = _shingled(df, id_col, text_col, n)
    return _band_table(base, bands, rows_per_band, seed).withColumnRenamed("__id__", id_col)


def _ngram_band_sql_parts(
    table: str,
    id_col: str,
    text_col: str,
    n: int,
    bands: int,
    rows_per_band: int,
    seed: int,
    g_name: str = "g",
) -> tuple[str, str]:
    """The two shared DuckDB fragments of the MinHash banding
    pipeline: the grams CTE body (``SELECT did, grams FROM ...``) and
    the banded UNION ALL selecting ``(did, band, bkey)`` from
    ``g_name``.  Generated from the SAME ``_perm_params`` as the Spark
    ``_band_table`` — the one source of band keys for both
    the pair oracle and the store-gate oracle, so none can drift."""
    m = _MERSENNE
    toks = _toks_sql(text_col)
    wcodes = f"list_transform({toks}, w -> CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT))"

    def code_at(off: int) -> str:
        return f"COALESCE(wc[CAST(i AS INTEGER) + {off}], 0)"

    shingle = code_at(0)
    for j in range(1, n):
        shingle = f"(({shingle}) * {_FOLD_PRIME} + {code_at(j)}) % {m}"
    grams = (
        f"list_distinct(list_transform(generate_series(1, greatest(len(wc) - {n - 1}, 1)), "
        f"i -> {shingle}))"
    )
    params = _perm_params(bands * rows_per_band, seed)

    def min_hash(a: int, b: int) -> str:
        return f"list_min(list_transform(grams, x -> ({a} * (x % {m}) + {b}) % {m}))"

    def band_key(i: int) -> str:
        k = None
        for a, b in params[i * rows_per_band : (i + 1) * rows_per_band]:
            mh = min_hash(a, b)
            k = mh if k is None else f"(({k}) * {_FOLD_PRIME} + {mh}) % {m}"
        return k

    g_expr = (
        f"SELECT did, {grams} AS grams FROM "
        f"(SELECT {id_col} AS did, {wcodes} AS wc FROM {table} "
        f"WHERE {text_col} IS NOT NULL)"
    )
    banded_selects = " UNION ALL ".join(
        f"SELECT did, {i} AS band, {band_key(i)} AS bkey FROM {g_name}"
        for i in range(bands)
    )
    return g_expr, banded_selects


def ngram_pairs_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    bands: int = 4,
    rows_per_band: int = 3,
    seed: int = 7,
    max_bucket: int = 1000,
) -> str:
    """DuckDB oracle for minhash_lsh_pairs, generated from the SAME
    band parameters (_perm_params) as the Spark plan — the two can never
    drift.  Every stage is engine-exact: md5-prefix token codes match
    Spark's conv(substring(md5,1,8),16,10), shingle and band keys are
    BIGINT modular arithmetic (the same folds of the same values), and
    the Jaccard division uses the same i/(|A|+|B|-i) operands (per-row
    double division is bit-identical across engines)."""
    g_expr, banded_selects = _ngram_band_sql_parts(
        table, id_col, text_col, n, bands, rows_per_band, seed
    )
    isect = "len(list_intersect(ga.grams, gb.grams))"
    return (
        f"WITH g AS ({g_expr}), "
        f"banded AS ({banded_selects}), "
        f"ok AS (SELECT band, bkey FROM banded GROUP BY band, bkey "
        f"HAVING count(*) > 1 AND count(*) <= {max_bucket}), "
        f"cand AS (SELECT DISTINCT x.did AS id_a, y.did AS id_b "
        f"FROM banded x JOIN ok o ON x.band = o.band AND x.bkey = o.bkey "
        f"JOIN banded y ON y.band = x.band AND y.bkey = x.bkey WHERE x.did < y.did), "
        f"scored AS (SELECT c.id_a, c.id_b, {isect}::DOUBLE / "
        f"(len(ga.grams) + len(gb.grams) - {isect})::DOUBLE AS jaccard "
        f"FROM cand c JOIN g ga ON ga.did = c.id_a JOIN g gb ON gb.did = c.id_b) "
        f"SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= {threshold}"
    )


# --- embedding near-dup ----------------------------------------------------


def auto_n_planes(
    n_rows: int,
    target_bucket: int = 16,
    tiers: tuple[int, ...] = (8, 11, 14),
) -> int:
    """The documented LSH sizing rule ``2**n_planes · target_bucket ≥
    corpus`` (see :func:`embedding_neardup_pairs`), quantized to a
    small tier ladder: the smallest tier satisfying the rule wins, the
    largest catches everything beyond.  Quantization exists for the
    exact-oracle story — a generated DuckDB oracle embeds one plane
    literal set per tier, gated by the same corpus-count predicate, so
    a continuous rule would need a plane set per integer.  The ladder
    spans 4 096 → 32 768 → ∞ at the default target bucket of 16: a
    saturated-bucket corpus (the r12 sf10 sweep measured candidate
    pairs ≈ corpus²/2**n_planes once corpus ≫ 2**n_planes·max_bucket)
    steps up before the quadratic regime starts."""
    for p in tiers:
        if (1 << p) * target_bucket >= n_rows:
            return p
    return tiers[-1]


_UNROLL_MIN_CORPUS = 50_000  # corpus gate for the unrolled verify
# cosine (r14, the r13 recipe): the flat element-chain dot/norm wins
# 2–4× per compiled stage only past ~10⁶ candidate pairs — measured
# sf10 candidate volumes are 3.4M (image tier-14) and 6.2M
# (embeddings) at 100k/200k corpora, while every ≤sf1 corpus stays
# below both gates and keeps the cheap-to-plan HOF folds (the r13
# query-level A/B showed the unroll LOSES there on planning+codegen).

_VEC_BROADCAST_MAX_BYTES = 64 << 20  # raw vector payload cap for the
# count-gated broadcast verify (r14, guide §3.1): 64 MiB of doubles is
# ~2× that framed as a HashedRelation — comfortable against the 8 GiB /
# 512M-row broadcast cap and the driver heap at any core count


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 2,
    seed: int = 42,
    max_bucket: int = 2000,
    dim: int | None = None,
    corpus_count: int | None = None,
) -> DataFrame:
    """Cosine-similar pairs (cos >= threshold) via sign-LSH blocking:
    ``n_tables`` independent sets of ``n_planes`` random ±1.0
    (Rademacher) hyperplanes; candidates share a full sign pattern in
    at least one table; exact cosine verifies.  Recall < 1 by
    construction (documented LSH trade-off); raise n_tables for higher
    recall.  Every projection is an exact-float add/subtract chain, so
    the WHOLE pipeline (bucket assignment included) hash-checks against
    the generated DuckDB oracle (embedding_pairs_oracle_sql with the
    same seed).

    SIZE ``n_planes`` TO THE CORPUS: each table has 2**n_planes
    buckets, so once corpus >> 2**n_planes · max_bucket every bucket
    nears the cap and candidate pairs approach corpus²/2**n_planes —
    the r12 sf10 sweep measured ~5e8 candidates at 500k vectors with
    the default n_planes=8, vs ~2e6 at n_planes=14.  Rule of thumb:
    2**n_planes ≥ corpus / target_bucket_size.

    ``corpus_count``, when given, MUST be the exact row count of ``df``
    (e.g. the ``df.count()`` that also sized ``n_planes``), never an
    estimate.  It gates the verify join-backs: ``corpus_count · dim · 8``
    bytes at or under ``_VEC_BROADCAST_MAX_BYTES`` broadcasts the vector
    table, so an undercount can broadcast a table larger than the
    driver and executors can hold.  It also gates the unrolled cosine
    chains (``_UNROLL_MIN_CORPUS`` rows and up), which changes plan
    cost, not values.
    ``None`` (the default) treats the corpus as unbounded: sort-merge
    join-backs and no unrolling."""
    from .similarity import cosine_expr, infer_dim, multi_table_signatures

    if dim is None:
        dim = infer_dim(df, vec_col)
    base = df.select(
        F.col(id_col).alias("__id__"), F.col(vec_col).cast("array<double>").alias("__v__")
    ).transform(materialize)  # feeds the banding pass and both
    # verification join-backs; eager checkpoint so blocks free on GC

    # All table signatures in ONE pass via the 3-D plane literal +
    # posexplode (no n_tables-way union — cf. similarity.lsh_topk), then
    # the same single-shuffle collect_list pair expansion as minhash:
    # buckets carry only ids (never the vectors), the id_a < id_b pairs
    # expand as a JVM array expression, and vectors join back from the
    # persisted base solely for exact-cosine verification.
    # executor-side dim guard in the first post-checkpoint projection
    # (NOT inside the checkpointed base — a task failure during block
    # materialization surfaces as a confusing secondary error): a wrong
    # supplied dim would otherwise NULL every projection and collapse
    # all signatures into one bucket — silently
    vg = F.col("__v__")
    guarded = F.when(
        vg.isNotNull() & (F.size(vg) != F.lit(dim)),
        F.raise_error(
            F.concat(
                F.lit(f"embedding_neardup_pairs: expected {dim}-dimensional "
                      "vectors, got length "),
                F.size(vg).cast("string"),
            )
        ).cast("array<double>"),
    ).otherwise(vg)
    banded = base.select(
        "__id__",
        F.posexplode(
            multi_table_signatures(guarded, n_planes, n_tables, seed, dim)
        ).alias("tbl", "bucket"),
    )
    buckets = (
        banded.groupBy("tbl", "bucket")
        .agg(F.collect_list("__id__").alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    ids = F.col("ids")
    pair_expr = F.flatten(
        F.transform(
            ids,
            lambda a: F.transform(
                F.filter(ids, lambda b: b > a),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    candidates = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b")
        # a pair can share a bucket in several tables
        .dropDuplicates(["id_a", "id_b"])
    )
    # merge hint on BOTH sides: Catalyst's plan-time size
    # estimate shrinks through the groupBy→explode→dropDuplicates
    # chain, so it statically BROADCASTS the pair list — fine at test
    # scale, a >1 GiB driver collect at sf10 (caught by the r12 sf10
    # sweep: BroadcastExchange exceeded spark.driver.maxResultSize).
    # Candidate-pair volume is data-driven (worst case ~bucket_cap² per
    # saturated bucket), so the verify join-backs must be sort-merge:
    # both sides shuffle on the id, sort spills, no driver collect at
    # any corpus size.  Values are join-strategy-independent — the
    # exact-oracle hashes are unchanged.  The corpus side needs its
    # own hint: the localCheckpoint-backed LogicalRDD ALSO carries a
    # small static estimate, so join 2 broadcast the corpus vectors —
    # the actual >1 GiB collect in the sf10 failure.
    #
    # r14 EXCEPTION (guide §3.1 — pick the strategy deliberately): when
    # the CALLER supplies the corpus row count (the same count that
    # sizes n_planes) and the whole vector table PROVABLY fits a
    # broadcast (count·dim·8 B ≤ _VEC_BROADCAST_MAX_BYTES), broadcast
    # the vector side of both join-backs: the candidate list — the
    # unbounded side — is then never shuffled or sorted at all.  The
    # gate keys on measured DATA size, never on core count, so an
    # oversized corpus keeps the sort-merge shape above; an uncounted
    # corpus (corpus_count=None) is treated as unbounded.
    if corpus_count is not None and corpus_count * dim * 8 <= _VEC_BROADCAST_MAX_BYTES:
        vecs = base.select("__id__", "__v__").hint("broadcast")
    else:
        vecs = base.select("__id__", "__v__").hint("merge")
        candidates = candidates.hint("merge")
    # verify cosine: unrolled element chains once the corpus is big
    # enough that the candidate stage amortizes their plan/codegen
    # cost (see _UNROLL_MIN_CORPUS); bit-identical either way — the
    # unrolled form guards per row and falls back to these exact HOF
    # folds for NULL/ragged inputs
    if corpus_count is not None and corpus_count >= _UNROLL_MIN_CORPUS:
        from .similarity import cosine_expr_unrolled

        cos = cosine_expr_unrolled(F.col("v_a"), F.col("v_b"), dim)
    else:
        cos = cosine_expr(F.col("v_a"), F.col("v_b"))
    return (
        candidates
        .join(
            vecs.select(F.col("__id__").alias("id_a"), F.col("__v__").alias("v_a")), "id_a"
        )
        .join(vecs.select(F.col("__id__").alias("id_b"), F.col("__v__").alias("v_b")), "id_b")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_pairs_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 2,
    seed: int = 42,
    max_bucket: int = 2000,
    dim: int = 64,
) -> str:
    """DuckDB oracle for embedding_neardup_pairs, generated from the
    SAME ±1.0 planes (similarity.rademacher_planes with the same seed)
    — the two cannot drift.  Each sign projection
    unrolls to the identical left-to-right add/subtract chain Spark's
    dot fold evaluates (±1.0 products are exact, float addition order
    matches), the bucket id is the same bit-pack integer, and the final
    cosine is the same fold-order double arithmetic (dot and norms
    spelled out; DuckDB's list_cosine_similarity normalizes with
    sqrt(na·nb), which is NOT bit-equal to Spark's sqrt(na)·sqrt(nb))."""
    from .similarity import rademacher_planes

    planes = rademacher_planes(n_tables, n_planes, dim, seed)

    def proj(vec: str, plane: list[float]) -> str:
        # ((0.0 + v[1]) - v[2]) + ...: left-assoc, same order and the
        # same exact ±v_i terms as Spark's zip_with/aggregate fold
        terms = "0.0"
        for i, s in enumerate(plane):
            op = "+" if s > 0 else "-"
            terms = f"({terms} {op} {vec}[{i + 1}])"
        return terms

    def bucket(vec: str, t: int) -> str:
        bits = [
            f"(CASE WHEN {proj(vec, p)} > 0.0 THEN 1 ELSE 0 END)"
            for p in planes[t]
        ]
        packed = " + ".join(
            f"{b} * {1 << (n_planes - 1 - j)}" for j, b in enumerate(bits)
        )
        return f"CAST({packed} AS BIGINT)"

    banded_selects = " UNION ALL ".join(
        f"SELECT vid, {t} AS tbl, {bucket('v', t)} AS bucket FROM base"
        for t in range(n_tables)
    )
    # fold-order-exact dot and norms: explicit left-to-right chains
    dot_terms = "0.0"
    na_terms = "0.0"
    nb_terms = "0.0"
    for i in range(1, dim + 1):
        dot_terms = f"({dot_terms} + a.v[{i}] * b.v[{i}])"
        na_terms = f"({na_terms} + a.v[{i}] * a.v[{i}])"
        nb_terms = f"({nb_terms} + b.v[{i}] * b.v[{i}])"
    cosine = f"({dot_terms}) / (sqrt({na_terms}) * sqrt({nb_terms}))"
    return (
        f"WITH base AS (SELECT {id_col} AS vid, {vec_col}::DOUBLE[] AS v FROM {table}), "
        f"banded AS ({banded_selects}), "
        f"ok AS (SELECT tbl, bucket FROM banded GROUP BY tbl, bucket "
        f"HAVING count(*) > 1 AND count(*) <= {max_bucket}), "
        f"cand AS (SELECT DISTINCT x.vid AS id_a, y.vid AS id_b "
        f"FROM banded x JOIN ok o ON x.tbl = o.tbl AND x.bucket = o.bucket "
        f"JOIN banded y ON y.tbl = x.tbl AND y.bucket = x.bucket WHERE x.vid < y.vid), "
        f"scored AS (SELECT c.id_a, c.id_b, {cosine} AS cosine "
        f"FROM cand c JOIN base a ON a.vid = c.id_a JOIN base b ON b.vid = c.id_b) "
        f"SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {threshold}"
    )


# --- exact substring-run overlap -------------------------------------------


def substring_run_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    run_len: int = 8,
    min_shared: int = 1,
    max_bucket: int = 1000,
) -> DataFrame:
    """Document pairs sharing at least ``min_shared`` distinct EXACT
    ``run_len``-token runs — the substring-duplication signal of
    suffix-array dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better"), re-expressed as a distributed shingle
    equi-join: a shared word-``run_len``-gram code IS a shared exact
    token run (up to md5-fold collision, deterministic and identical in
    the oracle).  Unlike the Jaccard families this targets *partial*
    duplication — boilerplate headers, quoted passages, license blocks —
    where whole-document similarity stays low.

    Output: ``id_a < id_b``, ``n_shared`` = number of distinct shared
    run codes (counted over buckets within ``max_bucket``; degenerate
    boilerplate runs shared by more docs than that are dropped loudly
    rather than expanded quadratically — same guard as every other
    blocking family here).

    Scale shape (100 TB): scan → per-doc distinct run codes (narrow) →
    explode → ONE shuffle on the run code → capped in-bucket pair
    expansion as a JVM array expression → one integer-count shuffle on
    the pair key.  Documents shorter than ``run_len`` tokens fold with
    zero padding (word_ngram_codes), so byte-identical short docs still
    pair.  No full-text column ever enters a shuffle.

    Extends the reference's operator surface (its dedup vocabulary is
    absent entirely — SURVEY §2.2); sibling of minhash_lsh_pairs
    (word-gram Jaccard)."""
    base = _shingled(df, id_col, text_col, run_len)
    exploded = base.select("__id__", F.explode("grams").alias("code"))
    buckets = (
        exploded.groupBy("code")
        .agg(F.collect_list("__id__").alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    ids = F.col("ids")
    pair_expr = F.flatten(
        F.transform(
            ids,
            lambda a: F.transform(
                F.filter(ids, lambda b: b > a),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def substring_pairs_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    run_len: int = 8,
    min_shared: int = 1,
    max_bucket: int = 1000,
) -> str:
    """DuckDB oracle for substring_run_pairs, generated from the same
    md5-fold run codes (cf. ngram_pairs_oracle_sql) so plan and oracle
    cannot drift.  Every stage — token codes, run folds, bucket cap,
    integer pair counts — is engine-exact."""
    m = _MERSENNE
    toks = _toks_sql(text_col)
    wcodes = f"list_transform({toks}, w -> CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT))"

    def code_at(off: int) -> str:
        return f"COALESCE(wc[CAST(i AS INTEGER) + {off}], 0)"

    run = code_at(0)
    for j in range(1, run_len):
        run = f"(({run}) * {_FOLD_PRIME} + {code_at(j)}) % {m}"
    runs = (
        f"list_distinct(list_transform(generate_series(1, greatest(len(wc) - {run_len - 1}, 1)), "
        f"i -> {run}))"
    )
    return (
        f"WITH g AS (SELECT did, {runs} AS runs FROM "
        f"(SELECT {id_col} AS did, {wcodes} AS wc FROM {table} "
        f"WHERE {text_col} IS NOT NULL)), "
        f"e AS (SELECT did, unnest(runs) AS code FROM g), "
        f"ok AS (SELECT code FROM e GROUP BY code "
        f"HAVING count(*) > 1 AND count(*) <= {max_bucket}) "
        f"SELECT x.did AS id_a, y.did AS id_b, count(*) AS n_shared "
        f"FROM e x JOIN ok o ON x.code = o.code "
        f"JOIN e y ON y.code = x.code WHERE x.did < y.did "
        f"GROUP BY x.did, y.did HAVING count(*) >= {min_shared}"
    )
