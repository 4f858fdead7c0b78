"""Model-based quality scoring — the fastText-shaped linear classifier
gate modern pretraining pipelines (DCLM, FineWeb-Edu, RedPajama-v2)
run AFTER the rule heuristics: tokens hash into a fixed weight table
(the hashing trick), the document score is the mean bucket weight plus
a bias, and a threshold keeps/drops.

The reference engine (Antix5/OpenETLAgent) has no model-scoring
vocabulary (SURVEY §2.2); this extends the engine like the text/dedup
families.  The SHAPE is the real production one — O(tokens) JVM
expressions, a broadcast weight literal, no UDF, one scan — while the
default WEIGHTS are a deterministic seeded stub (exact binary
fractions on the 2^-20 grid), clearly marked: swap in a trained
weight list (`weights=`) for production scoring; every line of Spark
plumbing is identical either way.

Engine-exactness: the token→bucket hash is the engine's md5-prefix
integer (dedup.word_ngram_codes' code), grid weights make every
lookup exact, and the score fold is the proven 0.0-seeded
left-to-right double chain (text.doc_lm_score), so the whole scorer
hash-checks against the generated oracle built from the SAME Python
weight list.

Scale (100 TB): per-row expression pipeline inside one codegen stage;
the weight table is a literal (kilobytes — fastText quality heads are
small) so nothing joins, nothing shuffles; a wider learned model would
swap the literal for a broadcast join on bucket id without changing
the query shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _token_col
from .similarity import _array_literal
from .text import _toks_sql


def hashed_classifier_weights(
    dim: int = 1024, seed: int = 42, scale_bits: int = 20
) -> list[float]:
    """Deterministic STUB weight table: ``dim`` values uniform on the
    ``2^-scale_bits`` grid in [-1, 1) from a seeded RNG.  Grid values
    are exact binary fractions, so sums and means are bit-reproducible
    in any engine.  Production use passes a trained list instead."""
    import random

    rng = random.Random(seed)
    scale = 1 << scale_bits
    return [rng.randrange(-scale, scale) / float(scale) for _ in range(dim)]


def _bucket_expr(tok, dim: int):
    """Token → bucket id: the engine's md5-prefix integer modulo dim —
    the ONE hashing-trick authority shared by the scorer and the
    trainer (an independent copy is the drift vector that would make a
    trained artifact mis-score)."""
    return (
        (F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long") % dim)
        .cast("int")
    )


def _bucket_sql(tok_sql: str, dim: int) -> str:
    """DuckDB mirror of :func:`_bucket_expr`."""
    return (
        f"CAST(CAST(('0x' || substr(md5({tok_sql}), 1, 8)) AS BIGINT) "
        f"% {dim} AS INTEGER)"
    )


def classifier_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 1024,
    seed: int = 42,
    bias: float = 0.0,
    threshold: float = 0.0,
    weights: list[float] | None = None,
    keep_all: bool = False,
) -> DataFrame:
    """Score every document with the hashed linear classifier and flag
    the keep decision: (id, n_tokens, score, clf_pass) — or, with
    ``keep_all=True``, every input column ahead of the three metric
    columns (pure projection, no join — which is what lets the gate
    run unchanged on a STREAM, where a score join-back would be a
    stream-stream self-join).

    ``score = (Σ_tokens w[md5int(token) % dim]) / n_tokens + bias`` —
    the linear margin, deliberately NOT squashed through a sigmoid
    (libm ``exp`` breaks cross-engine bit-equality; thresholding the
    margin is decision-equivalent).  NULL text scores NULL and fails
    the gate as NULL (SQL three-valued logic, identical in both
    engines)."""
    w = weights if weights is not None else hashed_classifier_weights(dim, seed)
    if len(w) != dim:
        raise ValueError(f"classifier_score: got {len(w)} weights for dim={dim}")
    if keep_all:
        clash = sorted(set(df.columns) & {"n_tokens", "score", "clf_pass"})
        if clash:
            raise ValueError(
                f"classifier_score(keep_all=True): input column(s) {clash} "
                "collide with the produced metric names; rename them first"
            )
    w_lit = _array_literal(w)
    toks = _token_col(F.col(text_col))
    per_tok = F.transform(
        toks, lambda t: F.element_at(w_lit, _bucket_expr(t, dim) + 1)
    )
    total = F.aggregate(per_tok, F.lit(0.0), lambda a, x: a + x)
    n = F.size(toks)
    score = F.when(
        F.col(text_col).isNotNull(),
        total / n.cast("double") + F.lit(float(bias)),
    )
    lead = [F.col("*")] if keep_all else [F.col(id_col)]
    return df.select(
        *lead,
        F.when(F.col(text_col).isNotNull(), n.cast("bigint")).alias("n_tokens"),
        score.alias("score"),
        (score >= F.lit(float(threshold))).alias("clf_pass"),
    )


def save_classifier_weights(weights: list[float], path: str, *, spark=None) -> None:
    """Persist a trained weight table as an ARTIFACT the scorer can
    load by path — the missing link between the production-shaped
    plumbing and a production model.  Two formats by extension:

    - ``*.json``: a plain JSON list of ``dim`` floats, written
      driver-side (the natural export of a Python training loop);
    - anything else: parquet ``(bucket int, weight double)`` rows via
      Spark (the natural export of a distributed trainer) — requires
      ``spark``.

    Either way the artifact is kilobytes (fastText-style quality heads
    are small), so the load stays a bounded driver-side read and the
    weights still embed into both the Spark plan and the oracle SQL as
    literals — query shape identical to the stub path."""
    if path.endswith(".json"):
        import json

        with open(path, "w") as f:
            json.dump([float(v) for v in weights], f)
        return
    if spark is None:
        raise ValueError("save_classifier_weights: parquet artifacts need spark")
    from ..session import local_df

    rows = [(i, float(v)) for i, v in enumerate(weights)]
    # one JVM-built partition, no Python worker — not
    # createDataFrame().coalesce(1) (see session.local_df)
    local_df(spark, rows, "bucket int, weight double").write.mode(
        "overwrite"
    ).parquet(path)


def load_classifier_weights(
    path: str, *, spark=None, dim: int | None = None
) -> list[float]:
    """Load a weight artifact written by :func:`save_classifier_weights`
    (or any trainer emitting the same layout) back into the plain
    Python list :func:`classifier_score` takes.  BOUNDED driver-side
    read — ``dim`` rows/values, kilobytes — validated hard: the bucket
    ids must cover 0..dim-1 exactly once (a sparse or duplicated table
    would silently mis-score every document whose token hashes into
    the hole)."""
    if path.endswith(".json"):
        import json

        with open(path) as f:
            vals = json.load(f)
        if not isinstance(vals, list) or not all(
            isinstance(v, (int, float)) and not isinstance(v, bool) for v in vals
        ):
            raise ValueError(
                f"classifier weight artifact {path}: expected a JSON list of numbers"
            )
        w = [float(v) for v in vals]
    else:
        if spark is None:
            raise ValueError("load_classifier_weights: parquet artifacts need spark")
        rows = (
            spark.read.schema("bucket int, weight double")
            .parquet(path)
            .collect()  # bounded: dim rows, kilobytes (docstring contract)
        )
        by_bucket = {}
        for r in rows:
            if r["bucket"] in by_bucket:
                raise ValueError(
                    f"classifier weight artifact {path}: duplicate bucket {r['bucket']}"
                )
            by_bucket[r["bucket"]] = r["weight"]
        n = dim if dim is not None else len(by_bucket)
        missing = [i for i in range(n) if i not in by_bucket]
        extra = sorted(set(by_bucket) - set(range(n)))
        if missing or extra:
            raise ValueError(
                f"classifier weight artifact {path}: buckets must cover 0..{n - 1} "
                f"exactly (missing {missing[:5]}{'…' if len(missing) > 5 else ''}, "
                f"out-of-range {extra[:5]}{'…' if len(extra) > 5 else ''})"
            )
        w = [float(by_bucket[i]) for i in range(n)]
    if dim is not None and len(w) != dim:
        raise ValueError(
            f"classifier weight artifact {path}: got {len(w)} weights for dim={dim}"
        )
    return w


def _enc_double(v: float) -> str:
    """Exact DuckDB double literal.  Two DuckDB literal traps (both
    found by the hash check): a bare high-precision decimal literal
    types as DECIMAL and folds in decimal arithmetic, and
    CAST(VARCHAR AS DOUBLE) mis-rounds ~10% of 17-digit literals by
    1 ulp (measured: 98/1024 of these).  Values on the 2^-k grid
    therefore encode as exact integer divisions (int → double is
    exact, ÷2^20 is exact); off-grid values fall back to the repr
    cast with its documented 1-ulp parse risk."""
    k = v * 1048576.0
    if k == int(k) and abs(k) < 2**53:
        return f"(CAST({int(k)} AS DOUBLE) / 1048576.0)"
    return f"CAST({float(v)!r} AS DOUBLE)"


def classifier_score_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 1024,
    seed: int = 42,
    bias: float = 0.0,
    threshold: float = 0.0,
    weights: list[float] | None = None,
) -> str:
    """DuckDB mirror generated from the SAME weight list: md5-prefix
    bucket, list-literal lookup, 0.0-seeded list_reduce fold, one
    division, same NULL propagation."""
    w = weights if weights is not None else hashed_classifier_weights(dim, seed)
    wl = "[" + ", ".join(_enc_double(float(v)) for v in w) + "]"
    toks = _toks_sql(text_col)
    per_tok = f"list_transform({toks}, t -> wl[{_bucket_sql('t', dim)} + 1])"
    return (
        f"SELECT {id_col}, "
        f"CASE WHEN {text_col} IS NOT NULL THEN CAST(len({toks}) AS BIGINT) END "
        f"AS n_tokens, "
        f"CASE WHEN {text_col} IS NOT NULL THEN "
        f"list_reduce(list_prepend(0.0, {per_tok}), (a, b) -> a + b) "
        f"/ CAST(len({toks}) AS DOUBLE) + {float(bias)!r} END AS score, "
        f"(CASE WHEN {text_col} IS NOT NULL THEN "
        f"list_reduce(list_prepend(0.0, {per_tok}), (a, b) -> a + b) "
        f"/ CAST(len({toks}) AS DOUBLE) + {float(bias)!r} END) >= {float(threshold)!r} "
        f"AS clf_pass "
        f"FROM {table} CROSS JOIN (SELECT {wl} AS wl)"
    )


def classifier_eval(
    scored: DataFrame,
    label_col: str,
    score_col: str = "score",
    thresholds: list[float] | None = None,
) -> DataFrame:
    """Threshold sweep EVALUATION of a scored frame against boolean
    reference labels — the missing third leg of the model loop
    (train → EVAL → gate): per candidate threshold, the confusion
    counts and the derived operating metrics, so the gate's cutoff is
    picked from measured precision/recall instead of folklore.

    One row per threshold: ``(thr double, n, tp, fp, fn, tn bigint,
    accuracy, precision, recall, f1 double)``.  Exactness discipline:
    the counts are conditional INTEGER sums (order-free); each metric
    is ONE IEEE division of two exact integers (f1 via the
    2·tp/(2·tp+fp+fn) identity — no nested ratio arithmetic), NULL
    when its denominator is zero (guarded CASE on both engines —
    double 0/0 is NaN in Spark but the guard means neither engine
    ever evaluates it).  Rows with a NULL score or NULL label are
    excluded up front (a NULL margin can't be thresholded; mirrored
    in the oracle WHERE).

    Scale: the threshold fan-out is map-side (explode of a ≤ dozens
    literal array before the partial aggregate), so the shuffle
    carries |thresholds| rows regardless of input size — one scan,
    one tiny exchange."""
    thrs = [0.0] if thresholds is None else list(thresholds)
    if not thrs:
        raise ValueError("classifier_eval needs at least one threshold")
    if len(set(thrs)) != len(thrs):
        raise ValueError(f"classifier_eval thresholds must be distinct: {thrs}")
    rows = scored.where(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(score_col).alias("__s__"),
        F.col(label_col).cast("boolean").alias("__l__"),
        F.explode(F.array(*[F.lit(float(t)) for t in thrs])).alias("thr"),
    )
    pred = F.col("__s__") >= F.col("thr")
    lab = F.col("__l__")

    def cnt(cond) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    agg = rows.groupBy("thr").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        cnt(pred & lab).alias("tp"),
        cnt(pred & ~lab).alias("fp"),
        cnt(~pred & lab).alias("fn"),
        cnt(~pred & ~lab).alias("tn"),
    )

    def ratio(num: F.Column, den: F.Column) -> F.Column:
        return F.when(den > 0, num.cast("double") / den.cast("double"))

    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    return agg.select(
        "thr",
        "n",
        "tp",
        "fp",
        "fn",
        "tn",
        ratio(tp + tn, F.col("n")).alias("accuracy"),
        ratio(tp, tp + fp).alias("precision"),
        ratio(tp, tp + fn).alias("recall"),
        ratio(F.lit(2) * tp, F.lit(2) * tp + fp + fn).alias("f1"),
    )


def classifier_eval_oracle_sql(
    *,
    scored_sql: str,
    label_sql: str,
    thresholds: list[float],
    score_sql: str = "score",
) -> str:
    """DuckDB mirror of :func:`classifier_eval`, generated from the
    same threshold list (exact 2^-k grid literals via
    :func:`_enc_double`) so the two cannot drift.  ``scored_sql`` is a
    subquery producing the score and label columns — compose it from
    the per-stage generators (classifier_score_oracle_sql joined to a
    labeling stage), the repo's composed-oracle discipline.  The
    scored CTE is MATERIALIZED: the threshold cross join references it
    once but DuckDB's unnest-join planning can still inline-duplicate
    a scoring expression this wide."""
    thrl = ", ".join(_enc_double(float(t)) for t in thresholds)
    return f"""
WITH __ce_s AS MATERIALIZED (
  SELECT {score_sql} AS s, CAST({label_sql} AS BOOLEAN) AS l
  FROM ({scored_sql})
  WHERE {score_sql} IS NOT NULL AND {label_sql} IS NOT NULL
), __ce_c AS (
  SELECT t.thr,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN s >= t.thr AND l THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN s >= t.thr AND NOT l THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN s < t.thr AND l THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(SUM(CASE WHEN s < t.thr AND NOT l THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM __ce_s CROSS JOIN (SELECT unnest([{thrl}]) AS thr) t
  GROUP BY t.thr
)
SELECT thr, n, tp, fp, fn, tn,
       CASE WHEN n > 0 THEN CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE) END
         AS accuracy,
       CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END
         AS precision,
       CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END
         AS recall,
       CASE WHEN 2 * tp + fp + fn > 0 THEN
         CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) END AS f1
FROM __ce_c
"""


def classifier_train(
    df: DataFrame,
    text_col: str,
    label_col: str,
    *,
    dim: int = 256,
    iters: int = 8,
    lr_bits: int = 10,
    initial_weights: list[float] | None = None,
    start_round: int = 0,
    validate_labels: bool = True,
) -> list[float]:
    """Deterministic DISTRIBUTED perceptron training for the hashed
    linear classifier — closes the loop the artifact path opened
    (save/load): train → :func:`save_classifier_weights` →
    :func:`classifier_score`, every stage engine-exact.

    Batch perceptron on count features with a HALVING step schedule:
    per round ``i`` (0-based), documents whose margin
    ``y · Σ_t w[bucket(t)] <= 0`` are misclassified (with
    ``threshold=0`` this is decision-identical to the scorer's MEAN
    margin — same sign for n_tokens > 0), the gradient is the pure
    INTEGER per-bucket label sum ``g[b] = Σ_mis y·count(b)`` (BIGINT
    addition — partition- and order-independent, the same exactness
    discipline as kmeans' integer Lloyd), and the update
    ``w[b] += g[b] / 2^(lr_bits + i)`` lands on exact binary
    fractions, so two engines running the same rounds agree bit for
    bit.  The geometric decay is the oscillation fix for FULL-BATCH
    perceptron (a constant step flips the whole mistake set between
    classes round over round — measured on the harness corpus:
    constant-step mistakes cycle 202↔285 forever, halving converges
    500→39 in 8 rounds); it is also why a power-of-two step is not
    just an exactness trick but the right schedule.  No RNG, no
    libm, no FP accumulation across rows — the only doubles are the
    per-document margin folds, each a fixed left-to-right chain (the
    proven doc_lm_score pattern).

    ``label_col`` must hold +1 / -1 integers (validated); NULL-text
    and NULL-label rows are excluded.  Returns the final weight list
    (length ``dim``), bias left at 0.0 — artifact-compatible with
    :func:`save_classifier_weights`.

    WARM START (incremental training): pass a previously trained
    table as ``initial_weights`` and the round index the schedule
    should resume from as ``start_round`` — rounds run
    ``start_round .. start_round+iters-1`` with step
    ``2^-(lr_bits+round)``, so train(A, 4 rounds) → artifact →
    train(B, 4 more rounds, start_round=4) is EXACTLY the same
    arithmetic as one 8-round run whose first four rounds saw A —
    the property the classifier_warm oracle row hash-checks.  Resuming
    with the wrong start_round (e.g. 0) would restart the step size
    and is a different, non-equivalent schedule.

    Scale (100 TB): tokenization + md5 bucketing run ONCE — the
    (label, ordered-bucket-array) features materialize through the
    engine boundary and each round is then ONE scan of those compact
    int arrays (margin = codegen fold against the current plan-literal
    weights) plus one explode→groupBy(bucket) shuffle that
    map-side-combines to ≤ dim rows, collected driver-side (kilobytes
    — the bounded-read contract of load_classifier_weights).
    ``iters`` is a fixed small constant; weights re-broadcast each
    round as fresh literals."""
    if dim < 1:
        raise ValueError(f"classifier_train: dim must be >= 1, got {dim}")
    if iters < 1:
        raise ValueError(f"classifier_train: iters must be >= 1, got {iters}")
    if start_round < 0:
        raise ValueError(
            f"classifier_train: start_round must be >= 0, got {start_round}"
        )
    if not 0 <= lr_bits <= 40 or lr_bits + start_round + iters > 52:
        raise ValueError(
            f"classifier_train: lr_bits must be in [0, 40] and "
            f"lr_bits + start_round + iters <= 52 (the halving schedule must "
            f"stay on exactly-representable steps), got lr_bits={lr_bits}, "
            f"start_round={start_round}, iters={iters}"
        )
    if initial_weights is not None and len(initial_weights) != dim:
        raise ValueError(
            f"classifier_train: got {len(initial_weights)} initial weights "
            f"for dim={dim}"
        )
    base = df.where(
        F.col(text_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(F.col(label_col).alias("__y__"), F.col(text_col).alias("__t__"))
    if validate_labels:
        # one single-pass aggregate (a limit(1) probe would escalate
        # through every partition anyway when all labels are valid);
        # 100 TB callers with trusted labels can pass
        # validate_labels=False to skip the extra scan entirely
        bad = base.select(
            F.max(F.when(~F.col("__y__").isin(1, -1), F.col("__y__"))).alias("b")
        ).collect()[0]["b"]
        if bad is not None:
            raise ValueError(
                f"classifier_train: {label_col} must be +1/-1, found {bad!r}"
            )
    w = [float(v) for v in initial_weights] if initial_weights else [0.0] * dim
    # Hash features ONCE: per doc, the ordered array of bucket indices
    # (token order preserved, so the margin's left-to-right fold over
    # bucket weights is bit-identical to folding over the tokens) —
    # materialized through the engine boundary so the 8 rounds re-read
    # compact int arrays instead of re-running tokenization plus two
    # md5 passes per token per round (measured ~3x on the warm bench).
    # At 100 TB this is the deliberate trade: checkpoint the (label,
    # buckets) corpus once, scan it `iters` times.
    from ..session import materialize

    toks = _token_col(F.col("__t__"))
    feats = base.select(
        F.col("__y__"),
        F.transform(toks, lambda t: _bucket_expr(t, dim)).alias("__bs__"),
    )
    if iters > 1:  # a single round reads the features once — no re-scan to save
        feats = materialize(feats)
    for it in range(start_round, start_round + iters):
        lr = 1 << (lr_bits + it)
        # margin as ONE parsed SQL expression per round (r13): the
        # Column-op lambda construction cost ~0.1 s of serial driver
        # time per round (×8 rounds ×4 classifier queries on the
        # bench); the SQL text parses to the IDENTICAL
        # transform/aggregate fold — same element_at indexing, same
        # 0.0 double seed, same left-to-right add — so weights (and
        # the driver-hashed oracles) are unchanged.  repr() round-trips
        # each weight exactly (the _array_literal convention).
        w_sql = "array(" + ",".join(f"{float(v)!r}D" for v in w) + ")"
        margin = F.expr(
            f"aggregate(transform(__bs__, b -> element_at({w_sql}, "
            f"cast(b + 1 as int))), 0.0D, (a, x) -> a + x)"
        )
        grad_rows = (
            feats.where(F.col("__y__") * margin <= F.lit(0.0))
            .select("__y__", F.explode(F.col("__bs__")).alias("__b__"))
            .groupBy("__b__")
            .agg(F.sum("__y__").cast("long").alias("__g__"))
            .collect()  # bounded: <= dim rows (docstring contract)
        )
        for r in grad_rows:
            # integer / 2^k — exact binary fraction, no rounding
            w[r["__b__"]] += r["__g__"] / lr
    return w


def _round_pred(round_filters: list | None, i: int) -> str:
    """`(pred) AND ` fragment for round i (1-based), empty when
    unrestricted."""
    if round_filters is None or round_filters[i - 1] is None:
        return ""
    return f"({round_filters[i - 1]}) AND "


def classifier_train_oracle_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    label_sql: str,
    dim: int = 256,
    iters: int = 8,
    lr_bits: int = 10,
    bias: float = 0.0,
    threshold: float = 0.0,
    round_filters: list | None = None,
) -> str:
    """DuckDB mirror of classifier_train → classifier_score, the
    training rounds UNROLLED as CTE pairs (the domain_rank / ann_ivf
    pattern): w_i = w_{i-1} + g_i/2^(lr_bits+i-1) with g_i the integer
    label sum over tokens of round-i misclassified docs (the same
    halving schedule as the trainer), then the standard scoring SELECT
    reads the final weight LIST from a CTE (list(weight ORDER BY
    bucket), captured via CROSS JOIN — DuckDB lambdas reject
    subqueries but capture joined columns).  Generated from the same
    constants as the Spark side so the two cannot drift.

    ``round_filters`` (optional, length ``iters``): per-round extra
    predicate over the doc CTE (alias ``d``, id column ``d.did``)
    restricting which documents that round trains on — the WARM-START
    mirror: a query that trains 4 rounds on a subset, persists the
    artifact, and resumes 4 rounds on the full corpus is one 8-round
    derivation here with the subset predicate on rounds 1-4
    (``None`` = no restriction)."""
    if round_filters is not None and len(round_filters) != iters:
        raise ValueError(
            f"classifier_train_oracle_sql: round_filters must have one entry "
            f"per round ({iters}), got {len(round_filters)}"
        )
    toks = _toks_sql(text_col)
    margin = (
        "list_reduce(list_prepend(0.0, list_transform(d.toks, "
        f"t -> w.wl[{_bucket_sql('t', dim)} + 1])), (a, b) -> a + b)"
    )
    parts = [
        f"""__ct_docs AS MATERIALIZED (
  SELECT {id_col} AS did, {toks} AS toks, ({label_sql}) AS y
  FROM {table}
  WHERE {text_col} IS NOT NULL AND ({label_sql}) IS NOT NULL
)""",
        """__ct_tok0 AS MATERIALIZED (
  SELECT did, y, unnest(toks) AS t FROM __ct_docs
)""",
        f"""__ct_tok AS MATERIALIZED (
  SELECT did, y, {_bucket_sql('t', dim)} AS b FROM __ct_tok0
)""",
        f"""__ct_w0 AS MATERIALIZED (
  SELECT CAST(r.range AS INTEGER) AS bucket, 0.0 AS weight FROM range({dim}) r
)""",
    ]
    for i in range(1, iters + 1):
        parts += [
            f"""__ct_wl{i - 1} AS MATERIALIZED (
  SELECT list(weight ORDER BY bucket) AS wl FROM __ct_w{i - 1}
)""",
            f"""__ct_mis{i} AS MATERIALIZED (
  SELECT d.did, d.y FROM __ct_docs d CROSS JOIN __ct_wl{i - 1} w
  WHERE {_round_pred(round_filters, i)}d.y * {margin} <= 0.0
)""",
            f"""__ct_g{i} AS MATERIALIZED (
  SELECT t.b AS bucket, CAST(SUM(t.y) AS BIGINT) AS g
  FROM __ct_tok t JOIN __ct_mis{i} m ON t.did = m.did GROUP BY t.b
)""",
            f"""__ct_w{i} AS MATERIALIZED (
  SELECT w.bucket,
         w.weight + COALESCE(CAST(g.g AS DOUBLE) / {1 << (lr_bits + i - 1)}.0, 0.0) AS weight
  FROM __ct_w{i - 1} w LEFT JOIN __ct_g{i} g ON w.bucket = g.bucket
)""",
        ]
    parts.append(
        f"""__ct_wl{iters} AS MATERIALIZED (
  SELECT list(weight ORDER BY bucket) AS wl FROM __ct_w{iters}
)"""
    )
    score_toks = _toks_sql(f"d.{text_col}")
    per_tok = (
        f"list_transform({score_toks}, t -> w.wl[{_bucket_sql('t', dim)} + 1])"
    )
    fold = f"list_reduce(list_prepend(0.0, {per_tok}), (a, b) -> a + b)"
    score = (
        f"CASE WHEN d.{text_col} IS NOT NULL THEN {fold} "
        f"/ CAST(len({score_toks}) AS DOUBLE) + {float(bias)!r} END"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT d.{id_col},
       CASE WHEN d.{text_col} IS NOT NULL
            THEN CAST(len({score_toks}) AS BIGINT) END AS n_tokens,
       {score} AS score,
       ({score}) >= {float(threshold)!r} AS clf_pass
FROM {table} d CROSS JOIN __ct_wl{iters} w
"""
    )


def classifier_cross_validate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    *,
    dim: int = 256,
    iters: int = 8,
    lr_bits: int = 10,
    k: int = 3,
    thresholds: list[float] | None = None,
) -> DataFrame:
    """K-fold cross-validation for the hashed classifier — the model
    SELECTION leg composing the loop's proven pieces: deterministic
    md5 folds (the split_assign hashing contract, so the same row
    lands in the same fold on any engine or cluster layout), k
    trainings on the k leave-one-out complements
    (:func:`classifier_train` — bit-exact), and a per-fold threshold
    sweep on the HELD-OUT fold (:func:`classifier_eval`).

    Returns the union of the k eval frames with a leading ``fold``
    column — one row per (fold, threshold); pick the serving cutoff
    from operating points measured on data the model never saw, and
    read fold variance as the stability signal.

    Fully deterministic (no RNG anywhere), so repeated runs are
    bit-identical — pinned by tests/test_classifier.py.  Scale: each
    fold's training inherits classifier_train's hash-once /
    scan-int-arrays shape over (k-1)/k of the corpus; the k eval
    passes are single scans.  ``k`` is a small constant — the whole
    procedure is k·(iters+1)+k bounded-output corpus scans."""
    if k < 2:
        raise ValueError(f"classifier_cross_validate: k must be >= 2, got {k}")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit("#cv"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % k
    )
    base = df.where(
        F.col(id_col).isNotNull()
        & F.col(text_col).isNotNull()
        & F.col(label_col).isNotNull()
    ).withColumn("__fold__", fold)
    from ..session import materialize

    base = materialize(base)  # scanned k*(iters+1) times below
    # ONE validation pass over the FULL frame (validating inside any
    # single training would miss the rows of its held-out fold), which
    # also checks every fold is populated — an empty fold would
    # silently vanish from the per-fold output otherwise
    stats = base.groupBy("__fold__").agg(
        F.count(F.lit(1)).alias("__n__"),
        F.max(F.when(~F.col(label_col).isin(1, -1), F.col(label_col))).alias("__bad__"),
    ).collect()
    bad = [r["__bad__"] for r in stats if r["__bad__"] is not None]
    if bad:
        raise ValueError(
            f"classifier_cross_validate: {label_col} must be +1/-1, found {bad[0]!r}"
        )
    present = sorted(r["__fold__"] for r in stats)
    if present != list(range(k)):
        raise ValueError(
            f"classifier_cross_validate: fold(s) "
            f"{sorted(set(range(k)) - set(present))} are empty — too few rows "
            f"for k={k} (folds present: {present})"
        )
    out = None
    for f in range(k):
        w = classifier_train(
            base.where(F.col("__fold__") != f),
            text_col,
            label_col,
            dim=dim,
            iters=iters,
            lr_bits=lr_bits,
            validate_labels=False,  # validated on the FULL frame above
        )
        held_out = base.where(F.col("__fold__") == f)
        scored = classifier_score(
            held_out.select(id_col, text_col, label_col),
            id_col,
            text_col,
            dim=dim,
            weights=w,
            keep_all=True,
        )
        ev = classifier_eval(
            scored.withColumn("__pos__", F.col(label_col) == 1),
            "__pos__",
            "score",
            thresholds=[0.0] if thresholds is None else thresholds,
        ).select(F.lit(f).alias("fold"), "*")
        out = ev if out is None else out.unionByName(ev)
    return out
