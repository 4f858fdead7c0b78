"""Text-analysis functions over document tables.

All transforms are pure built-in Spark SQL expressions (JVM-side,
whole-stage-codegen'd, no Python in the hot path) and each has an exact
ANSI-SQL mirror used by the correctness oracle.  At 100 TB these are
embarrassingly parallel scans — no shuffle, no state.

Capabilities (north-star extension surface, BASELINE.json):
- token counting: whitespace tokens + a BPE-ish regex tokenizer
- character-class profiling + quality scoring
- language ID: stopword-hit scoring over a fixed language set
- document fingerprinting: md5 over whitespace-normalized text
  (md5 is available and bit-identical in both Spark and DuckDB, which
  makes fingerprints oracle-checkable; use xxhash64 variants when only
  Spark-side speed matters)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from ..session import materialize
from pyspark.sql import functions as F

# Deliberately small, fixed stopword sets — the heuristic's quality comes
# from coverage of top-frequency function words; the sets are part of the
# deterministic contract (the SQL oracle embeds the same lists).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "für"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es", "que", "para"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "他"],
}

# Priority order for deterministic tie-breaks (first wins).
LANG_PRIORITY = ["en", "fr", "de", "es", "zh"]

# BPE-ish tokenizer: letter runs, digit runs, or single non-space symbols
# — a cheap regex approximation of byte-pair pretokenization.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _tokens(text_col: Column) -> Column:
    return F.split(F.trim(F.lower(text_col)), r"\s+")


def _toks_sql(text_col: str) -> str:
    """The DuckDB tokenizer fragment mirroring :func:`_tokens` — every
    generated oracle in this module MUST use this helper (the whole
    oracle contract is that the SQL tokenizer cannot drift from the
    Spark one; independent copies are the drift vector)."""
    return rf"string_split_regex(trim(lower({text_col})), '\s+')"


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``token_count`` (whitespace tokens) and ``bpe_token_count``
    (regex word-piece count)."""
    col = F.col(text_col)
    ws_count = F.when(F.trim(col) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(col), r"\s+"))
    )
    bpe_count = F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), F.lit(0)))
    return df.withColumn("token_count", ws_count).withColumn("bpe_token_count", bpe_count)


def with_char_classes(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add character-class counts: n_chars, n_letters, n_digits, n_spaces,
    n_punct (= everything else)."""
    col = F.col(text_col)
    n_chars = F.length(col)
    n_letters = n_chars - F.length(F.regexp_replace(col, r"[A-Za-z]", ""))
    n_digits = n_chars - F.length(F.regexp_replace(col, r"[0-9]", ""))
    n_spaces = n_chars - F.length(F.regexp_replace(col, r"\s", ""))
    return (
        df.withColumn("n_chars", n_chars)
        .withColumn("n_letters", n_letters)
        .withColumn("n_digits", n_digits)
        .withColumn("n_spaces", n_spaces)
        .withColumn("n_punct", n_chars - n_letters - n_digits - n_spaces)
    )


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add a deterministic quality score in [0, 1]:

        0.4 * length_score        (chars/500 capped at 1)
      + 0.3 * letter_ratio        (letters / chars)
      + 0.3 * stopword_score      (english stopword hits / tokens, ×5 capped at 1)

    Every term is a double computed in a fixed order, so the SQL mirror
    produces bit-identical values.
    """
    col = F.col(text_col)
    # coalesce: a NULL document must score 0, not ride F.least's
    # null-skipping up to the maximum length score.
    n_chars = F.coalesce(F.length(col).cast("double"), F.lit(0.0))
    n_letters = (F.length(col) - F.length(F.regexp_replace(col, r"[A-Za-z]", ""))).cast("double")
    tokens = _tokens(col)
    n_tokens = F.coalesce(F.size(tokens).cast("double"), F.lit(0.0))
    stop_hits = _stopword_hits(tokens, LANG_STOPWORDS["en"]).cast("double")

    length_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    letter_ratio = F.when(n_chars > 0, n_letters / n_chars).otherwise(F.lit(0.0))
    stop_score = F.when(
        n_tokens > 0, F.least(stop_hits / n_tokens * F.lit(5.0), F.lit(1.0))
    ).otherwise(F.lit(0.0))
    quality = (
        F.lit(0.4) * length_score + F.lit(0.3) * letter_ratio + F.lit(0.3) * stop_score
    )
    return df.withColumn("quality", quality)


def _stopword_hits(tokens: Column, stopwords: list[str]) -> Column:
    """Count of tokens (occurrences, not distinct) present in the
    stopword list.  A closure factory — a plain ``lambda t, sw=sw:``
    would read to PySpark as a binary (element, index) lambda."""

    def pred(t: Column) -> Column:
        return t.isin(*stopwords)

    return F.size(F.filter(tokens, pred))


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``lang_pred``: the language whose stopword set scores the most
    token hits; ties resolve by LANG_PRIORITY order.  A scan-only
    heuristic — no shuffle, no model.

    Expression shape matters: a naive greatest+CASE chain references each
    score (and through it the token split) ~35× per row and Catalyst does
    not CSE across those references — measured ~7× slower.  Instead the
    argmax runs in ONE tree: score structs → array_max picks
    (score, priority) lexicographically (ties → earlier language), and a
    single-element transform binds the winner to a lambda variable so it
    is evaluated exactly once."""
    tokens = _tokens(F.col(text_col))
    n = len(LANG_PRIORITY)
    candidates = F.array(
        *[
            F.struct(
                _stopword_hits(tokens, LANG_STOPWORDS[lang]).alias("s"),
                F.lit(n - i).alias("prio"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(LANG_PRIORITY)
        ]
    )
    pred = F.element_at(
        F.transform(
            F.array(F.array_max(candidates)),
            lambda b: F.when(b["s"] == 0, F.lit("unknown")).otherwise(b["lang"]),
        ),
        1,
    )
    return df.withColumn("lang_pred", pred)


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``fingerprint``: md5 hex of lowercased, whitespace-collapsed
    text — the exact-dedup key for near-identical formatting variants."""
    normalized = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.withColumn("fingerprint", F.md5(normalized.cast("binary")))


def with_repetition(df: DataFrame, text_col: str = "text", ns: tuple[int, ...] = (2, 3)) -> DataFrame:
    """Intra-document repetition signals: for each n in ``ns``, add
    ``dup_{n}gram_frac`` — the fraction of the document's word n-grams
    that are repeats (1 - distinct/total, 0 for docs shorter than n
    tokens).  This is the classic repetitious-text quality filter for
    pretraining corpora (boilerplate, keyword stuffing, decoder loops
    score high).  Pure JVM expressions — one ``transform`` over a
    ``sequence`` builds the n-gram list per row, no shuffle, no Python.
    Mirrored exactly by :func:`repetition_oracle_sql`.

    Expression shape: the token split is bound ONCE per row as a lambda
    variable (the same single-element-transform trick as
    :func:`with_lang_id`).  Referencing the split expression directly
    from the gram lambda would re-evaluate the regex split for every
    element_at — n × (tokens − n + 1) splits per row, measured ~10×
    slower on real documents."""
    # Factories, not default-args: pyspark's HOF bridge introspects the
    # lambda's arity, so extra bound parameters would be treated as
    # lambda variables.
    def _gram_fn(n: int, toks: Column):
        return lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        )

    def _frac_fn(n: int):
        def inner(toks: Column) -> Column:
            total = F.size(toks) - n + 1
            grams = F.transform(F.sequence(F.lit(1), total), _gram_fn(n, toks))
            return F.when(
                total > 0,
                F.lit(1.0)
                - F.size(F.array_distinct(grams)).cast("double")
                / total.cast("double"),
            ).otherwise(F.lit(0.0))

        return inner

    out = df
    for n in ns:
        frac = F.element_at(
            F.transform(F.array(_tokens(F.col(text_col))), _frac_fn(n)), 1
        )
        out = out.withColumn(f"dup_{n}gram_frac", frac)
    return out


def repetition_oracle_sql(
    table: str = "documents", text_col: str = "text", ns: tuple[int, ...] = (2, 3)
) -> str:
    """DuckDB mirror of with_repetition, generated from the same n list
    so the two cannot drift."""
    toks = _toks_sql(text_col)
    exprs = []
    for n in ns:
        gram = " || ' ' || ".join(f"t[i + {j}]" for j in range(n))
        grams = f"list_transform(range(1, len(t) - {n} + 2), i -> {gram})"
        frac = (
            f"CASE WHEN len(t) - {n} + 1 > 0 THEN "
            f"1.0 - CAST(len(list_distinct({grams})) AS DOUBLE) / (len(t) - {n} + 1) "
            f"ELSE 0.0 END AS dup_{n}gram_frac"
        )
        exprs.append(frac)
    return (
        f"SELECT doc_id, {', '.join(exprs)} "
        f"FROM (SELECT doc_id, {toks} AS t FROM {table}) s"
    )


def with_split_assign(
    df: DataFrame,
    key_col: str,
    splits: dict[str, int] | None = None,
    output_column: str = "split",
) -> DataFrame:
    """Assign each row to a named dataset split (train/val/test by
    default) from a hash of its key — the reproducible-split primitive
    for training-data pipelines.

    ``splits`` maps name → percentage (must total 100).  The bucket is
    the first 8 hex chars of md5(key) mod 100, so the assignment is
    deterministic, engine-independent (DuckDB md5 matches Spark's
    bit-for-bit), independent of partitioning and cluster layout, and
    STABLE AS THE DATASET GROWS — a row keeps its split when new data
    arrives, which seeded ``sample()`` cannot guarantee.  Pure JVM
    expressions; embarrassingly parallel at 100 TB."""
    splits = splits or {"train": 80, "val": 10, "test": 10}
    if sum(splits.values()) != 100:
        raise ValueError(f"split percentages must total 100, got {splits}")
    if any(p <= 0 for p in splits.values()):
        # {'train': 110, 'val': -10} sums to 100 but leaves 'val'
        # unreachable; zero-width splits are silently empty
        raise ValueError(f"every split percentage must be positive, got {splits}")
    bucket = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) % 100
    expr = None
    upper = 0
    for name, pct in splits.items():
        upper += pct
        cond = bucket < F.lit(upper)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn(output_column, expr)


def split_assign_oracle_sql(
    key_col: str, splits: dict[str, int] | None = None, output_column: str = "split"
) -> str:
    """DuckDB mirror of with_split_assign — same md5-prefix bucketing,
    generated from the same split table so the two cannot drift."""
    splits = splits or {"train": 80, "val": 10, "test": 10}
    bucket = f"(CAST(('0x' || substr(md5(CAST({key_col} AS VARCHAR)), 1, 8)) AS BIGINT) % 100)"
    case = "CASE"
    upper = 0
    for name, pct in splits.items():
        upper += pct
        case += f" WHEN {bucket} < {upper} THEN '{name}'"
    return case + f" END AS {output_column}"


SAMPLE_BUCKETS = 10_000  # basis-point granularity of the hash sample


def with_hash_sample(df: DataFrame, key_col: str, fraction: float, seed: int = 42) -> DataFrame:
    """Deterministic md5-bucket sample (seed-salted): the identical row
    set on any engine or partitioning, the contract split_assign uses.
    DuckDB mirror: sample_hash_oracle_predicate()."""
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f":{seed}"))), 1, 8),
            16,
            10,
        ).cast("long")
        % SAMPLE_BUCKETS
    )
    return df.filter(bucket < int(round(fraction * SAMPLE_BUCKETS)))


def sample_hash_oracle_predicate(key_col: str, fraction: float, seed: int = 42) -> str:
    """DuckDB WHERE-clause mirror of with_hash_sample — generated from
    the same constants so the two cannot drift."""
    bucket = (
        f"(CAST(('0x' || substr(md5(CAST({key_col} AS VARCHAR) || ':{seed}'), 1, 8)) AS BIGINT) "
        f"% {SAMPLE_BUCKETS})"
    )
    return f"{bucket} < {int(round(fraction * SAMPLE_BUCKETS))}"


def lang_id_oracle_sql(table: str = "documents", text_col: str = "text") -> str:
    """The DuckDB mirror of with_lang_id, generated from the same
    stopword tables so the two can never drift apart."""

    def score(lang: str) -> str:
        lits = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        return (
            f"len(list_filter({_toks_sql(text_col)}, "
            f"t -> list_contains([{lits}], t)))"
        )

    scores = {lang: score(lang) for lang in LANG_PRIORITY}
    best = "greatest(" + ", ".join(scores[lang] for lang in LANG_PRIORITY) + ")"
    case = f"'{LANG_PRIORITY[0]}'"
    for lang in reversed(LANG_PRIORITY):
        case = f"CASE WHEN {scores[lang]} = best THEN '{lang}' ELSE {case} END"
    return (
        f"SELECT doc_id, CASE WHEN best = 0 THEN 'unknown' ELSE {case} END AS lang_pred "
        f"FROM (SELECT doc_id, {text_col}, {best} AS best FROM {table}) t"
    )


# The classic rule-filter stopword set (Rae et al. 2021, "Scaling
# Language Models" §A1.1.2 — public): a document must contain at least
# ``min_stop_hits`` DISTINCT of these to pass the stopword rule.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


# the fixed output names gopher_rules appends — keep_all collision
# guard + apply_gopher_rules' drop list both derive from this
_GOPHER_METRIC_COLS = (
    "n_words", "mean_word_len", "symbol_ratio", "bullet_ratio",
    "ellipsis_ratio", "alpha_ratio", "stop_hits",
    "r_words", "r_mean_word_len", "r_symbol", "r_bullet",
    "r_ellipsis", "r_alpha", "r_stop", "gopher_pass",
)


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_words: int = 5,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_ratio: float = 0.7,
    min_stop_hits: int = 2,
    keep_all: bool = False,
) -> DataFrame:
    """Gopher-style rule-based quality filter — the public heuristic
    battery (word-count bounds, mean word length, symbol-to-word
    ratio, bullet-line and ellipsis-line fractions, alphabetic-word
    ratio, stopword presence) every large-scale curation pipeline runs
    before any model-based scoring.  Returns one row per input row:
    the raw metrics plus per-rule booleans and the conjunctive
    ``gopher_pass``.  ``keep_all=True`` keeps every input column ahead
    of the metrics (pure projection — no join, no id-uniqueness
    assumption) for in-place annotation/filtering.

    Engine-exactness: every metric is an integer count divided at most
    once into a double (no libm), token/line predicates use only
    literal prefix/suffix/containment tests, and the stopword count is
    a distinct-set intersection — each mirrors a DuckDB expression
    bit-for-bit (gopher_rules_oracle_sql is generated from the same
    thresholds and the shared :func:`_toks_sql` tokenizer).  NULL text
    fails every rule with NULL metrics.

    Scale shape (100 TB): pure per-row JVM expressions inside one
    whole-stage-codegen span — no shuffle, no UDF, no state; composes
    with any downstream filter as a scan-level predicate."""
    col = F.col(text_col)
    toks = _tokens(col)
    n_words = F.when(
        col.isNull() | (F.trim(col) == ""), F.lit(0)
    ).otherwise(F.size(toks))
    sum_len = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
    mean_wl = F.when(
        n_words > 0, sum_len.cast("double") / n_words.cast("double")
    )
    # '#' occurrences + non-overlapping '...' occurrences (left-to-right
    # greedy literal replace — identical in both engines)
    n_hash = F.length(col) - F.length(F.regexp_replace(col, r"#", ""))
    n_ellipsis = (
        F.length(col) - F.length(F.replace(col, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = F.when(
        n_words > 0, (n_hash + n_ellipsis).cast("double") / n_words.cast("double")
    )
    lines = F.split(col, "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("- ") | l.startswith("* ") | l.startswith("• "),
        )
    )
    n_ell_lines = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    )
    bullet_ratio = F.when(
        n_lines > 0, n_bullet.cast("double") / n_lines.cast("double")
    )
    ellipsis_ratio = F.when(
        n_lines > 0, n_ell_lines.cast("double") / n_lines.cast("double")
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    alpha_ratio = F.when(
        n_words > 0, n_alpha.cast("double") / n_words.cast("double")
    )
    # coalesce BEFORE the rule compare, exactly like the oracle's r CTE
    # (a NULL-text row reports stop_hits = 0, and the rule judges that
    # 0 — with min_stop_hits = 0 the rule is disabled and passes even
    # for NULL text, identically in both engines)
    stop_hits = F.coalesce(
        F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]))
        ),
        F.lit(0),
    )

    r_words = (n_words >= min_words) & (n_words <= max_words)
    r_mwl = F.coalesce(
        (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len), F.lit(False)
    )
    r_symbol = F.coalesce(symbol_ratio <= max_symbol_ratio, F.lit(False))
    r_bullet = F.coalesce(bullet_ratio <= max_bullet_ratio, F.lit(False))
    r_ellipsis = F.coalesce(ellipsis_ratio <= max_ellipsis_ratio, F.lit(False))
    r_alpha = F.coalesce(alpha_ratio >= min_alpha_ratio, F.lit(False))
    r_stop = stop_hits >= min_stop_hits
    if keep_all:
        # keep_all prepends every input column ahead of the FIXED
        # metric/flag names below; an input column already named like a
        # metric would duplicate the name (Spark allows it), escape
        # apply_gopher_rules' metric-drop set-difference, and make any
        # downstream F.col('gopher_pass') ambiguous — fail loudly at
        # plan-build time instead (ADVICE r05)
        clash = sorted(set(df.columns) & set(_GOPHER_METRIC_COLS))
        if clash:
            from ..model import SpecError

            raise SpecError(
                "gopher_rules(keep_all=True): input column(s) "
                f"{clash} collide with the produced metric/flag names "
                f"{sorted(_GOPHER_METRIC_COLS)}; rename them first"
            )
    lead: list[Column] = [F.col("*")] if keep_all else [F.col(id_col)]
    return df.select(
        *lead,
        n_words.cast("bigint").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        stop_hits.cast("bigint").alias("stop_hits"),
        r_words.alias("r_words"),
        r_mwl.alias("r_mean_word_len"),
        r_symbol.alias("r_symbol"),
        r_bullet.alias("r_bullet"),
        r_ellipsis.alias("r_ellipsis"),
        r_alpha.alias("r_alpha"),
        r_stop.alias("r_stop"),
        (
            F.coalesce(r_words, F.lit(False))
            & r_mwl & r_symbol & r_bullet & r_ellipsis & r_alpha
            & F.coalesce(r_stop, F.lit(False))
        ).alias("gopher_pass"),
    )


def gopher_rules_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_words: int = 5,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_ratio: float = 0.7,
    min_stop_hits: int = 2,
) -> str:
    """DuckDB mirror of :func:`gopher_rules`, generated from the same
    thresholds, the shared tokenizer fragment, and the same stopword
    list — none of the three can drift."""
    toks = _toks_sql(text_col)
    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    t = text_col
    return f"""
WITH m AS (
  SELECT {id_col},
    CASE WHEN {t} IS NULL OR trim({t}) = '' THEN 0
         ELSE len({toks}) END AS n_words,
    list_sum(list_transform({toks}, x -> len(x))) AS sum_len,
    len({t}) - len(replace({t}, '#', '')) AS n_hash,
    (len({t}) - len(replace({t}, '...', ''))) / 3 AS n_ellipsis,
    len(string_split({t}, chr(10))) AS n_lines,
    len(list_filter(string_split({t}, chr(10)),
        l -> starts_with(l, '- ') OR starts_with(l, '* ')
          OR starts_with(l, '• '))) AS n_bullet,
    len(list_filter(string_split({t}, chr(10)),
        l -> ends_with(l, '...') OR ends_with(l, '…'))) AS n_ell_lines,
    len(list_filter({toks}, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
    len(list_intersect({toks}, [{stops}])) AS stop_hits
  FROM {table}
), r AS (
  SELECT {id_col}, n_words,
    CASE WHEN n_words > 0
         THEN CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) END AS mean_word_len,
    CASE WHEN n_words > 0
         THEN CAST(n_hash + n_ellipsis AS DOUBLE) / CAST(n_words AS DOUBLE) END AS symbol_ratio,
    CASE WHEN n_lines > 0
         THEN CAST(n_bullet AS DOUBLE) / CAST(n_lines AS DOUBLE) END AS bullet_ratio,
    CASE WHEN n_lines > 0
         THEN CAST(n_ell_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) END AS ellipsis_ratio,
    CASE WHEN n_words > 0
         THEN CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) END AS alpha_ratio,
    COALESCE(stop_hits, 0) AS stop_hits
  FROM m
)
SELECT {id_col}, n_words, mean_word_len, symbol_ratio, bullet_ratio,
  ellipsis_ratio, alpha_ratio, stop_hits,
  (n_words >= {min_words} AND n_words <= {max_words}) AS r_words,
  COALESCE(mean_word_len >= {min_mean_word_len}
           AND mean_word_len <= {max_mean_word_len}, FALSE) AS r_mean_word_len,
  COALESCE(symbol_ratio <= {max_symbol_ratio}, FALSE) AS r_symbol,
  COALESCE(bullet_ratio <= {max_bullet_ratio}, FALSE) AS r_bullet,
  COALESCE(ellipsis_ratio <= {max_ellipsis_ratio}, FALSE) AS r_ellipsis,
  COALESCE(alpha_ratio >= {min_alpha_ratio}, FALSE) AS r_alpha,
  COALESCE(stop_hits >= {min_stop_hits}, FALSE) AS r_stop,
  (COALESCE(n_words >= {min_words} AND n_words <= {max_words}, FALSE)
   AND COALESCE(mean_word_len >= {min_mean_word_len}
                AND mean_word_len <= {max_mean_word_len}, FALSE)
   AND COALESCE(symbol_ratio <= {max_symbol_ratio}, FALSE)
   AND COALESCE(bullet_ratio <= {max_bullet_ratio}, FALSE)
   AND COALESCE(ellipsis_ratio <= {max_ellipsis_ratio}, FALSE)
   AND COALESCE(alpha_ratio >= {min_alpha_ratio}, FALSE)
   AND COALESCE(stop_hits >= {min_stop_hits}, FALSE)) AS gopher_pass
FROM r
"""


def vocab_oov(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 1000,
) -> DataFrame:
    """Out-of-vocabulary rate against the corpus's own top-``top_k``
    vocabulary — the classic rare-token quality signal (gibberish, OCR
    noise, and wrong-language text score high; ordinary prose scores
    low).  Two stages, both corpus-level (unlike the scan-only signals
    above):

    1. vocabulary: token occurrence counts, top-``top_k`` with the
       deterministic tie-break (count desc, token asc) so both engines
       select the identical set at the boundary;
    2. per-document: total tokens and tokens outside the vocabulary,
       plus ``oov_rate`` = n_oov / n_tokens (single per-row double
       division — bit-identical across engines; all accumulation is
       integer counts).

    Scale shape (100 TB): explode → one map-side-combined shuffle for
    the counts → TakeOrdered top-k (driver holds top_k rows, bounded
    like the IVF centroid sample) → the vocab BROADCASTS into a left
    join against the exploded tokens (no shuffle) → one integer-count
    shuffle on the doc id.  Full text never enters a shuffle."""
    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("__id__"), F.explode(_tokens(F.col(text_col))).alias("tok"))
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(top_k)
        .select("tok", F.lit(1).alias("__iv__"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("__id__")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.count(F.lit(1)) - F.count("__iv__")).alias("n_oov"),
        )
        .select(
            F.col("__id__").alias(id_col),
            "n_tokens",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens").cast("double")).alias(
                "oov_rate"
            ),
        )
    )


def tokenize_ids(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 1000,
    oov_id: int = 0,
) -> DataFrame:
    """Last-mile tokenization: map every document to INTEGER token ids
    against the corpus's own top-``top_k`` vocabulary (id = 1..k by the
    deterministic count-desc/token-asc rank; out-of-vocabulary →
    ``oov_id``).  Returns (id, n_tokens, n_oov, token_ids array<int>)
    in original token order — the exact shape a training-shard writer
    consumes after :func:`curation.pack_sequences` decides the layout.

    Scale shape (100 TB): explode → one map-side-combined count
    shuffle → TakeOrdered top-k; the id-rank window runs on the k-row
    vocabulary (bounded, same class as the IVF centroid sample — never
    on the corpus); the vocab BROADCASTS into a left join against the
    exploded tokens; ONE groupBy(id) gathers (pos, tid) pairs and the
    position-sorted rebuild is a JVM array expression (cf.
    doc_lm_score's gather).  Exactness: ids are integers, order is
    pinned by unique positions, and the vocabulary boundary tie-break
    matches vocab_oov's."""
    if top_k <= 0:
        raise ValueError(f"tokenize_ids top_k must be positive, got {top_k!r}")
    if 1 <= oov_id <= top_k:
        raise ValueError(
            f"tokenize_ids oov_id must lie outside the vocabulary id range "
            f"1..{top_k}, got {oov_id!r} (it would alias a real token's id)"
        )
    # e feeds BOTH the vocabulary count and the id join — without the
    # boundary the tokenize+explode of every document runs once per
    # consumer (eager localCheckpoint; blocks free on GC — module
    # policy, cf. doc_lm_score's base)
    e = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id__"),
        F.posexplode(_tokens(F.col(text_col))).alias("__pos__", "tok"),
    ).transform(materialize)
    # rank window runs on the LIMITED k-row frame — single partition by
    # construction and bounded by top_k, not by the corpus
    vocab = (
        e.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(top_k)
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    vocab_ids = vocab.select(
        "tok", F.row_number().over(w).cast("int").alias("__tid__")
    )
    joined = e.join(F.broadcast(vocab_ids), "tok", "left").select(
        "__id__",
        "__pos__",
        F.coalesce(F.col("__tid__"), F.lit(oov_id)).cast("int").alias("__tid__"),
    )
    return joined.groupBy("__id__").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum((F.col("__tid__") == oov_id).cast("long")).alias("n_oov"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("__pos__", "__tid__"))),
            lambda s: s["__tid__"],
        ).alias("token_ids"),
    ).select(
        F.col("__id__").alias(id_col), "n_tokens", "n_oov", "token_ids"
    )


def tokenize_ids_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 1000,
    oov_id: int = 0,
) -> str:
    """DuckDB mirror of :func:`tokenize_ids` with ``token_ids``
    rendered as a space-joined string (the harness's hash compares
    scalars; the query side renders the same string) — same tokenizer
    fragment, same vocabulary tie-break, same position-ordered
    reassembly."""
    toks = _toks_sql(text_col)
    return f"""
WITH t AS (SELECT {id_col} AS id, {toks} AS t FROM {table}
           WHERE {text_col} IS NOT NULL),
l AS (SELECT id, CAST(i AS BIGINT) AS pos, t[CAST(i AS INTEGER)] AS tok
      FROM t, unnest(generate_series(1, len(t))) AS u(i)),
v AS (SELECT tok, CAST(rn AS INTEGER) AS tid FROM
      (SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
       FROM l GROUP BY tok) WHERE rn <= {top_k}),
j AS (SELECT l.id, l.pos, COALESCE(v.tid, {oov_id}) AS tid
      FROM l LEFT JOIN v USING (tok))
SELECT id AS {id_col},
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(CASE WHEN tid = {oov_id} THEN 1 END) AS BIGINT) AS n_oov,
       array_to_string(list(tid ORDER BY pos), ' ') AS token_ids_str
FROM j GROUP BY id
"""


def vocab_oov_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 1000,
) -> str:
    """DuckDB mirror of vocab_oov, generated from the same top_k and the
    same (count desc, token asc) tie-break so the vocabulary boundary is
    identical in both engines."""
    toks = _toks_sql(text_col)
    return (
        f"WITH e AS (SELECT {id_col} AS did, unnest({toks}) AS tok "
        f"FROM {table} WHERE {text_col} IS NOT NULL), "
        f"v AS (SELECT tok FROM (SELECT tok, row_number() OVER "
        f"(ORDER BY count(*) DESC, tok) AS rn FROM e GROUP BY tok) WHERE rn <= {top_k}) "
        f"SELECT did AS {id_col}, count(*) AS n_tokens, "
        f"count(*) - count(v.tok) AS n_oov, "
        f"CAST(count(*) - count(v.tok) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_rate "
        f"FROM e LEFT JOIN v ON e.tok = v.tok GROUP BY did"
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    k: int = 50,
) -> DataFrame:
    """The inner step of BPE tokenizer training at corpus scale: count
    adjacent character pairs inside every word and rank the merge
    candidates.  One training iteration = take the top pair, merge it,
    recount; this operator is that count — the part that actually
    touches 100 TB (the merge-table update is driver-side in every BPE
    trainer).  Returns the top-``k`` (pair_left, pair_right, n_pairs) with the
    deterministic (count desc, pair asc) tie-break.

    Scale shape: words explode from the scan (narrow), per-word char
    pairs are a JVM array expression over a once-bound char split
    (dedup.bind_once — referencing the split per element would
    re-evaluate it), and ONE map-side-combined shuffle produces the
    counts; the ranking is a TakeOrdered top-k."""
    from .dedup import bind_once

    words = df.filter(F.col(text_col).isNotNull()).select(
        F.explode(_tokens(F.col(text_col))).alias("w")
    )

    def build(chars: Column) -> Column:
        # guard: Spark's sequence(1, 0) counts DOWN ([1, 0]), so a
        # 1-char word must short-circuit to an empty index list
        idx = F.when(
            F.size(chars) > 1, F.sequence(F.lit(1), F.size(chars) - 1)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(chars, i).alias("pair_left"),
                F.element_at(chars, i + 1).alias("pair_right"),
            ),
        )

    pair_col = bind_once(F.split(F.col("w"), ""), build)
    return (
        words.select(F.explode(pair_col).alias("p"))
        .groupBy("p.pair_left", "p.pair_right")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), F.asc("pair_left"), F.asc("pair_right"))
        .limit(k)
    )


def bpe_pair_counts_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    k: int = 50,
) -> str:
    """DuckDB mirror of bpe_pair_counts: the same char-pair explosion
    and (count desc, left, right) top-k tie-break."""
    toks = _toks_sql(text_col)
    return (
        f"WITH w AS (SELECT unnest({toks}) AS w FROM {table} "
        f"WHERE {text_col} IS NOT NULL), "
        f"p AS (SELECT substr(w, CAST(i AS INTEGER), 1) AS pair_left, "
        f"substr(w, CAST(i AS INTEGER) + 1, 1) AS pair_right "
        f"FROM (SELECT w, unnest(range(1, greatest(length(w), 1))) AS i FROM w)) "
        f"SELECT pair_left, pair_right, COUNT(*) AS n_pairs FROM p GROUP BY pair_left, pair_right "
        f"ORDER BY n_pairs DESC, pair_left, pair_right LIMIT {k}"
    )


def with_unicode_nfc(
    df: DataFrame, text_col: str = "text", output_col: str | None = None
) -> DataFrame:
    """Unicode NFC normalization — compose decomposed sequences
    (``e`` + COMBINING ACUTE → ``é``) so byte-level operators
    (fingerprints, exact dedup, shingles) see one canonical form of
    visually identical text.  The standard pre-pass before any
    hash-keyed curation stage on multilingual corpora.

    This is the module's ONE pandas-UDF operator: Spark SQL has no
    built-in Unicode normalizer, so the rule "built-ins first, Arrow
    batches when not expressible" (functions/__init__) lands here on
    the Arrow path — ``unicodedata.normalize`` over Arrow-batched
    series, still embarrassingly parallel, no shuffle.  Exactness
    holds because NFC is a fully specified Unicode algorithm: Python's
    unicodedata and DuckDB's nfc_normalize produce identical strings
    (property-tested in test_text_functions)."""
    from pyspark.sql.functions import pandas_udf

    if text_col not in df.columns:
        raise ValueError(
            f"with_unicode_nfc: unknown column {text_col!r}; available {df.columns}"
        )

    @pandas_udf("string")
    def _nfc(s):  # type: ignore[no-untyped-def]
        import unicodedata

        return s.map(
            lambda v: None if v is None else unicodedata.normalize("NFC", v)
        )

    return df.withColumn(output_col or text_col, _nfc(F.col(text_col)))


def bigram_lm_topk(
    df: DataFrame,
    text_col: str = "text",
    k: int = 50,
) -> DataFrame:
    """Top-``k`` bigram transitions of the corpus with their MLE
    conditional probability: (w1, w2, n, p) where ``p = n / count of
    bigrams starting at w1`` — the counting core of an n-gram language
    model (the classic cheap quality/perplexity filter for training
    corpora).  Ordered by (n desc, w1, w2): the full tie-break makes
    the top-k SET engine-exact, and p is one double division of two
    exact integers, bit-identical across engines.

    Scale shape (100 TB): bigrams form as a scan-local zip_with over
    the token array (no self-join, no explode-then-lag window); ONE
    map-side-combined (w1, w2) count shuffle; the per-w1 denominator
    is an integer window sum over the (vocabulary²-sized) count table;
    TakeOrdered top-k.  No collects, no UDFs.
    """
    if k <= 0:
        raise ValueError(f"bigram_lm_topk k must be positive, got {k!r}")
    toks = _tokens(F.col(text_col))
    pairs = F.zip_with(
        toks,
        F.slice(toks, 2, F.size(toks) - F.lit(1)),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    counts = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(pairs).alias("bg"))
        .filter(F.col("bg.w2").isNotNull())
        .groupBy("bg.w1", "bg.w2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w1_total = F.sum("n").over(Window.partitionBy("w1"))
    return (
        counts.withColumn(
            "p", F.col("n").cast("double") / w1_total.cast("double")
        )
        .orderBy(F.desc("n"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )


def bigram_lm_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    k: int = 50,
) -> str:
    """DuckDB mirror of bigram_lm_topk, from the shared tokenizer
    fragment and the same integer-count / single-division tree."""
    toks = _toks_sql(text_col)
    return f"""
WITH t AS (SELECT {toks} AS t FROM {table} WHERE {text_col} IS NOT NULL),
b AS (SELECT t[CAST(i AS INTEGER)] AS w1, t[CAST(i AS INTEGER) + 1] AS w2
      FROM (SELECT t, unnest(range(1, len(t))) AS i FROM t)),
c AS (SELECT w1, w2, COUNT(*) AS n FROM b GROUP BY w1, w2)
SELECT w1, w2, n,
       CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY w1) AS DOUBLE) AS p
FROM c
ORDER BY n DESC, w1, w2
LIMIT {k}
"""


def doc_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 500,
) -> DataFrame:
    """Score every document against the corpus's own top-``k`` bigram
    LM — the CCNet-style language-model quality filter: documents whose
    transitions are mostly outside the corpus's frequent-bigram mass
    are boilerplate/garble candidates.  Returns (id, n_bigrams, n_oov,
    lm_score) where ``n_oov`` counts transitions absent from the
    truncated LM and ``lm_score`` is the mean conditional probability
    of the in-LM transitions — summed in POSITION order (a left fold
    over the document's bigram sequence), so the double is engine-exact
    (an unordered SUM would be nondeterministic across partitions and
    could never hash-match).  NULL score for documents with no in-LM
    bigram.  Rows sharing an id value merge into ONE output row (their
    bigram sequences interleave by position) — ids are expected unique.

    Scale shape (100 TB): the LM is ``k`` rows — always broadcastable;
    doc bigrams explode scan-locally; ONE groupBy(id) gathers
    (position, p) pairs; the fold runs as a JVM array expression.  The
    LM-build side reuses the bigram_lm_topk shape (one count shuffle +
    a vocabulary²-sized window)."""
    if k <= 0:
        raise ValueError(f"doc_lm_score k must be positive, got {k!r}")
    toks = _tokens(F.col(text_col))
    pairs_all = F.zip_with(
        toks,
        F.slice(toks, 2, F.size(toks) - F.lit(1)),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    pairs = F.filter(pairs_all, lambda p: p["w2"].isNotNull())

    # base feeds BOTH the LM-build branch and the per-doc gather — the
    # same two-consumer diamond as tfidf_topk; a localCheckpoint
    # tokenizes the corpus once instead of twice (blocks free on
    # garbage collection)
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id__"), pairs.alias("__bg__")
    ).transform(materialize, False)

    # corpus LM: counts → conditional p → top-k truncation (same
    # (n desc, w1, w2) tie-break as bigram_lm_topk)
    counts = (
        base.select(F.explode("__bg__").alias("bg"))
        .groupBy("bg.w1", "bg.w2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_tot = Window.partitionBy("w1")
    # top-k truncation via orderBy+limit = TakeOrdered (distributed
    # partial top-k per partition, merged on the driver) — a global
    # row_number window would single-partition the vocabulary²-sized
    # count table
    lm = (
        counts.withColumn("p", F.col("n").cast("double") / F.sum("n").over(w_tot).cast("double"))
        .orderBy(F.desc("n"), F.asc("w1"), F.asc("w2"))
        .limit(k)
        .select("w1", "w2", "p")
    )

    exploded = base.select(
        "__id__", F.posexplode_outer("__bg__").alias("pos", "bg")
    ).select("__id__", "pos", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    joined = exploded.join(F.broadcast(lm), ["w1", "w2"], "left")
    agg = joined.groupBy("__id__").agg(
        F.count(F.when(F.col("pos").isNotNull(), 1)).alias("n_bigrams"),
        F.count(
            F.when(F.col("pos").isNotNull() & F.col("p").isNull(), 1)
        ).alias("n_oov"),
        F.array_sort(
            F.collect_list(
                F.when(F.col("p").isNotNull(), F.struct("pos", "p"))
            )
        ).alias("__ps__"),
    )
    seen = F.transform(F.col("__ps__"), lambda s: s["p"])
    fold = F.aggregate(seen, F.lit(0.0), lambda a, b: a + b)
    return agg.select(
        F.col("__id__").alias(id_col),
        "n_bigrams",
        "n_oov",
        F.when(F.size("__ps__") > 0, fold / F.size("__ps__").cast("double")).alias(
            "lm_score"
        ),
    )


def doc_lm_score_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 500,
) -> str:
    """DuckDB mirror of doc_lm_score: shared tokenizer fragment, same
    LM truncation tie-break, ``list(p ORDER BY pos, p)`` +
    ``list_reduce`` reproduces the position-ordered left fold exactly
    (DuckDB's fold starts p1+p2 while Spark's starts (0.0+p1)+p2 —
    bitwise identical because 0.0 + x == x; the secondary ``p`` sort
    key matches Spark's array_sort over (pos, p) structs when
    duplicate ids make positions collide).  The final join-back runs
    against DISTINCT ids — like Spark's groupBy, duplicate id values
    merge into one output row."""
    toks = _toks_sql(text_col)
    return f"""
WITH t AS (SELECT {id_col} AS id, {toks} AS t
           FROM {table} WHERE {text_col} IS NOT NULL),
b AS (SELECT id, CAST(i AS BIGINT) AS pos,
             t[CAST(i AS INTEGER)] AS w1, t[CAST(i AS INTEGER) + 1] AS w2
      FROM (SELECT id, t, unnest(range(1, len(t))) AS i FROM t)),
c AS (SELECT w1, w2, COUNT(*) AS n FROM b GROUP BY w1, w2),
lm AS (SELECT w1, w2, p FROM (
         SELECT w1, w2,
                CAST(n AS DOUBLE)
                  / CAST(SUM(n) OVER (PARTITION BY w1) AS DOUBLE) AS p,
                ROW_NUMBER() OVER (ORDER BY n DESC, w1, w2) AS rk
         FROM c) WHERE rk <= {k}),
j AS (SELECT b.id, b.pos, lm.p
      FROM b LEFT JOIN lm ON b.w1 = lm.w1 AND b.w2 = lm.w2),
agg AS (SELECT id, COUNT(*) AS n_bigrams,
               CAST(SUM(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
               list(p ORDER BY pos, p) FILTER (WHERE p IS NOT NULL) AS ps
        FROM j GROUP BY id)
SELECT d.id AS {id_col},
       COALESCE(agg.n_bigrams, 0) AS n_bigrams,
       COALESCE(agg.n_oov, 0) AS n_oov,
       CASE WHEN ps IS NULL OR len(ps) = 0 THEN NULL
            ELSE list_reduce(ps, (a, b) -> a + b) / CAST(len(ps) AS DOUBLE) END
         AS lm_score
FROM (SELECT DISTINCT id FROM t) d LEFT JOIN agg ON d.id = agg.id
"""


def lm_quality_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    k: int = 500,
    lo: float = 1 / 3,
    hi: float = 2 / 3,
) -> DataFrame:
    """CCNet-style quality bucketing: score every document against the
    corpus's own top-``k`` bigram LM (:func:`doc_lm_score`), then
    split each LANGUAGE into head/middle/tail by that language's own
    ``hi``/``lo`` score quantiles — the public CCNet recipe (Wenzek et
    al. 2019) that keeps per-language quality relative, so low-resource
    languages aren't wiped out by an absolute global threshold.

    Returns (id, lang, lm_score, bucket ∈ head/middle/tail).  Documents
    with no in-LM transition (NULL score) drop — no evidence, same as
    quantile_filter's NULL semantics.

    Scale shape (100 TB): LM broadcast (k rows), one score shuffle
    (doc_lm_score), one id-keyed join to recover the language column,
    then a LANGUAGE-cardinality threshold aggregate that broadcasts
    back — the corpus is never windowed or re-shuffled for the
    bucketing itself (a per-lang ntile window would single-partition
    each language).  Exactness: the interpolated quantile is the same
    double in both engines (cf. quantile_filter), and the bucket CASE
    compares per-row."""
    scored = doc_lm_score(df.select(id_col, text_col), id_col, text_col, k=k)
    j = scored.filter(F.col("lm_score").isNotNull()).join(
        df.select(id_col, lang_col), id_col
    )
    # j feeds BOTH the threshold aggregate and the bucket probe.  No
    # checkpoint here, deliberately: the expensive subtree (corpus
    # tokenization via doc_lm_score's cached base, the per-doc gather
    # SHUFFLE) is shared by ReuseExchange across the two consumers;
    # only the narrow post-shuffle fold + lang join re-run.  An eager
    # checkpoint of j was measured 2.7 s SLOWER at sf0.1 (full warm
    # bench 1.8 → 4.5 s): it pays a full materialization to save a
    # re-projection.
    thr = j.groupBy(lang_col).agg(
        F.percentile(F.col("lm_score"), F.lit(lo)).alias("__q_lo__"),
        F.percentile(F.col("lm_score"), F.lit(hi)).alias("__q_hi__"),
    )
    return (
        j.join(F.broadcast(thr), lang_col)
        .select(
            F.col(id_col),
            F.col(lang_col),
            "lm_score",
            F.when(F.col("lm_score") >= F.col("__q_hi__"), F.lit("head"))
            .when(F.col("lm_score") >= F.col("__q_lo__"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


def lm_quality_buckets_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    k: int = 500,
    lo: float = 1 / 3,
    hi: float = 2 / 3,
) -> str:
    """DuckDB mirror of :func:`lm_quality_buckets`, built on the SAME
    generated doc_lm_score SQL and the same quantile literals — score,
    thresholds, and bucketing cannot drift."""
    score_sql = doc_lm_score_oracle_sql(table, id_col, text_col, k)
    return f"""
WITH s AS ({score_sql}),
j AS (SELECT s.{id_col}, d.{lang_col}, s.lm_score
      FROM s JOIN {table} d USING ({id_col})
      WHERE s.lm_score IS NOT NULL),
t AS (SELECT {lang_col},
             quantile_cont(lm_score, {lo!r}) AS q_lo,
             quantile_cont(lm_score, {hi!r}) AS q_hi
      FROM j GROUP BY {lang_col})
SELECT j.{id_col}, j.{lang_col}, j.lm_score,
       CASE WHEN j.lm_score >= t.q_hi THEN 'head'
            WHEN j.lm_score >= t.q_lo THEN 'middle'
            ELSE 'tail' END AS bucket
FROM j JOIN t ON j.{lang_col} = t.{lang_col}
"""


# --- iterative BPE training --------------------------------------------------


def _bpe_adjacent_pairs(sym: Column) -> Column:
    """Adjacent (left, right) symbol pairs of one symbol array — the
    generalization of bpe_pair_counts' char pairs to post-merge
    multi-char symbols.  Overlapping pairs count, as in every BPE
    trainer ('aaa' holds (a,a) twice)."""
    from .dedup import bind_once

    def build(s: Column) -> Column:
        idx = F.when(
            F.size(s) > 1, F.sequence(F.lit(1), F.size(s) - 1)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(s, i).alias("pair_left"),
                F.element_at(s, i + 1).alias("pair_right"),
            ),
        )

    return bind_once(sym, build)


def _bpe_merge_fold(sym: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of one (left, right) pair inside a
    symbol array — the exact fold every BPE trainer applies.  Nested
    when keeps element_at off the empty-accumulator path (ANSI-safe)."""
    merged = left + right
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(F.size(acc) == 0, F.array(x)).otherwise(
            F.when(
                (F.element_at(acc, -1) == F.lit(left)) & (x == F.lit(right)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(x)))
        ),
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 5,
) -> DataFrame:
    """FULL BPE tokenizer-training loop — the iterative closure of
    bpe_pair_counts (which is one round's count): ``n_merges`` rounds
    of count-pairs → pick the argmax (count desc, pair asc tie-break)
    → greedily merge it everywhere → recount.  Returns the learned
    merge table (merge_rank, pair_left, pair_right, merged, n_pairs) —
    the artifact a tokenizer ships.

    Scale shape (the reason BPE training is feasible at 100 TB): the
    corpus is touched ONCE, by the word-frequency aggregate; every
    training round then runs against the (word, count) VOCAB — bounded
    by distinct-word count, not corpus size — exactly how reference
    BPE trainers operate on frequency tables.  Per round: one
    map-side-combined pair aggregate over the vocab, a 1-row argmax to
    the driver (the same bounded-driver-state class as kmeans'
    centroids), and one JVM fold rewriting the symbol arrays.  The
    vocab persists between rounds (old round unpersisted after the
    next materializes), so lineage stays flat across rounds.

    Exactness: counts are integers, the tie-break is total, and the
    greedy fold is deterministic — the whole loop hash-checks against
    an UNROLLED k-stage SQL oracle (bpe_train_oracle_sql), the same
    strategy as kmeans' unrolled-CTE oracle."""
    if n_merges <= 0:
        raise ValueError(f"bpe_train n_merges must be positive, got {n_merges}")
    spark = df.sparkSession
    words = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(_tokens(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    cur = vocab.select("n", F.split(F.col("w"), "").alias("sym")).persist()
    prev = None
    merges: list[tuple[int, str, str, str, int]] = []
    try:
        for r in range(1, n_merges + 1):
            top = (
                cur.select("n", F.explode(_bpe_adjacent_pairs(F.col("sym"))).alias("p"))
                .groupBy("p.pair_left", "p.pair_right")
                .agg(F.sum("n").alias("n_pairs"))
                .orderBy(F.desc("n_pairs"), F.asc("pair_left"), F.asc("pair_right"))
                .limit(1)
                .collect()
            )
            # the argmax is a FULL scan of ``cur``, so it has just
            # populated cur's cache — the previous round's cache can
            # now be released without re-deriving anything (r13: this
            # deferred unpersist replaces a per-round count() job whose
            # only purpose was cache materialization — one job per
            # merge round instead of two; values untouched)
            if prev is not None:
                prev.unpersist()
                prev = None
            if not top:
                break
            a, b, tot = top[0]["pair_left"], top[0]["pair_right"], int(top[0]["n_pairs"])
            merges.append((r, a, b, a + b, tot))
            nxt = cur.select("n", _bpe_merge_fold(F.col("sym"), a, b).alias("sym")).persist()
            prev, cur = cur, nxt
    finally:
        if prev is not None:
            prev.unpersist()
        cur.unpersist()
    return spark.createDataFrame(
        merges,
        "merge_rank long, pair_left string, pair_right string, merged string, n_pairs long",
    )


def bpe_train_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    n_merges: int = 5,
) -> str:
    """DuckDB mirror of :func:`bpe_train`: the k training rounds
    UNROLLED into chained CTEs — per round the same weighted pair
    aggregate, the same (count desc, pair asc) LIMIT 1 argmax, and the
    same greedy list_reduce merge fold — generated from the same
    ``n_merges``, so the loop and its oracle cannot drift.  A round
    with no pairs left yields an empty m{r} (LIMIT 1 of nothing) and
    an unchanged s{r} (the NULL pair matches no symbol), mirroring the
    Spark loop's early break."""
    toks = _toks_sql(text_col)
    parts = [
        f"v AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n "
        f"FROM (SELECT unnest({toks}) AS w FROM {table} "
        f"WHERE {text_col} IS NOT NULL) WHERE w <> '' GROUP BY w)",
        "s0 AS (SELECT n, string_split(w, '') AS sym FROM v)",
    ]
    for r in range(1, n_merges + 1):
        prev = f"s{r - 1}"
        parts.append(
            f"p{r} AS (SELECT sym[CAST(i AS INTEGER)] AS pair_left, "
            f"sym[CAST(i AS INTEGER) + 1] AS pair_right, n "
            f"FROM (SELECT sym, n, unnest(range(1, len(sym))) AS i FROM {prev}))"
        )
        parts.append(
            f"m{r} AS (SELECT pair_left, pair_right, "
            f"CAST(SUM(n) AS BIGINT) AS n_pairs FROM p{r} "
            f"GROUP BY pair_left, pair_right "
            f"ORDER BY n_pairs DESC, pair_left, pair_right LIMIT 1)"
        )
        # DuckDB lambdas reject subqueries but CAPTURE row columns, so
        # the round's winning pair joins in via LEFT JOIN ON TRUE (an
        # empty m{r} — nothing left to merge — gives NULL captures,
        # which match no symbol: the round is a no-op, mirroring the
        # Spark loop's early break).
        parts.append(
            f"s{r} AS (SELECT n, list_reduce(list_transform(sym, x -> [x]), "
            f"(acc, x) -> CASE WHEN len(acc) > 0 "
            f"AND acc[-1] = __ml AND x[1] = __mr "
            f"THEN list_concat(acc[1:len(acc)-1], [__mm]) "
            f"ELSE list_append(acc, x[1]) END) AS sym "
            f"FROM (SELECT s.n, s.sym, m.pair_left AS __ml, "
            f"m.pair_right AS __mr, m.pair_left || m.pair_right AS __mm "
            f"FROM {prev} s LEFT JOIN m{r} m ON TRUE))"
        )
    finals = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, pair_left, pair_right, "
        f"pair_left || pair_right AS merged, n_pairs FROM m{r}"
        for r in range(1, n_merges + 1)
    )
    return "WITH " + ", ".join(parts) + " " + finals


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """APPLY a learned BPE merge table (the encode step pairing
    :func:`bpe_train`): each document's words are split to characters
    and the merges replay IN RANK ORDER with the same greedy fold the
    trainer used.  Returns per document: ``n_chars_tok`` (symbol count
    before any merge) and ``n_bpe_tokens`` (after all merges) — the
    sequence-length accounting every packing/batching stage needs.

    ``merges`` is the driver-side merge list (rank order), e.g.
    ``[(r.pair_left, r.pair_right) for r in bpe_train(...).collect()]``
    — bounded by the vocab size a tokenizer ships (30-50k), the same
    broadcast-a-model shape as kmeans' centroid literals.

    The encode is a shuffle-free scan in WHOLE-STAGE CODEGEN: every
    symbol is wrapped in DOUBLED ``\\x1f`` boundaries
    (``␟␟s1␟␟s2␟␟``; ``\\x1e`` between words) and each merge is one
    LITERAL ``replace`` of ``␟left␟␟right␟`` with ``␟leftright␟``.
    The single-separator boundary chars at the pattern's edges anchor
    BOTH symbols whole — a pattern can neither start inside a symbol
    (its first char is a separator) nor end mid-symbol (the trailing
    separator must follow ``right``) — while consuming only the INNER
    half of each doubled boundary, so adjacent merge sites keep their
    leading separator and left-to-right non-overlapping replace
    reproduces the trainer's greedy fold EXACTLY (property-tested
    against :func:`_bpe_merge_fold` on adversarial merge tables, e.g.
    (t,h)+(h,e) over 'the', where a naive single-separator pattern
    merges across the freshly-built 'th' boundary; the fold itself ran
    interpreted per element and measured ~3× slower).  Token counts
    read back off separator counts (each word carries 2·(n_syms+1)
    separator chars).  Assumes text carries no ``\\x1e``/``\\x1f``
    control characters (strip control chars upstream — standard
    tokenizer normalization — if the corpus may contain them)."""
    SYM, WRD = "\x1f", "\x1e"
    BND = SYM + SYM
    words = F.when(
        F.trim(F.lower(F.col(text_col))) == "", F.array().cast("array<string>")
    ).otherwise(_tokens(F.col(text_col)))
    joined = F.array_join(
        F.transform(
            words,
            lambda w: F.concat(
                F.lit(BND), F.array_join(F.split(w, ""), BND), F.lit(BND)
            ),
        ),
        WRD,
    )
    n_words = F.coalesce(F.size(words), F.lit(0)).cast("long")

    def n_syms(s: Column) -> Column:
        seps = F.length(s) - F.length(F.replace(s, F.lit(SYM), F.lit("")))
        return (seps / F.lit(2)).cast("long") - n_words

    encoded = joined
    for left, right in merges:
        encoded = F.replace(
            encoded,
            F.lit(SYM + left + BND + right + SYM),
            F.lit(SYM + left + right + SYM),
        )
    return df.select(
        F.col(id_col),
        n_syms(joined).alias("n_chars_tok"),
        n_syms(encoded).alias("n_bpe_tokens"),
    )


def bpe_encode_oracle_sql(
    merges: list[tuple[str, str]],
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB mirror of :func:`bpe_encode`: the same doubled-boundary
    symbol string and the same chain of LITERAL replaces (identical
    left-to-right non-overlap semantics in both engines), generated
    from the same driver-side merge list."""
    toks = _toks_sql(text_col)

    def q(s: str) -> str:
        return s.replace("'", "''")

    words = (
        f"CASE WHEN trim(lower({text_col})) = '' THEN []::VARCHAR[] "
        f"ELSE {toks} END"
    )
    bnd = "chr(31) || chr(31)"
    joined = (
        f"array_to_string(list_transform({words}, "
        f"w -> {bnd} || array_to_string(string_split(w, ''), {bnd}) || {bnd}), "
        f"chr(30))"
    )
    encoded = "j"
    for left, right in merges:
        encoded = (
            f"replace({encoded}, "
            f"chr(31) || '{q(left)}' || {bnd} || '{q(right)}' || chr(31), "
            f"chr(31) || '{q(left + right)}' || chr(31))"
        )
    nsym_j = "(length(j) - length(replace(j, chr(31), ''))) / 2 - nw"
    nsym_e = "(length(e) - length(replace(e, chr(31), ''))) / 2 - nw"
    return (
        f"SELECT {id_col}, "
        f"CAST({nsym_j} AS BIGINT) AS n_chars_tok, "
        f"CAST({nsym_e} AS BIGINT) AS n_bpe_tokens FROM ("
        f"SELECT {id_col}, j, {encoded} AS e, nw FROM ("
        f"SELECT {id_col}, {joined} AS j, len({words}) AS nw FROM {table}))"
    )


def collocations_topk(
    df: DataFrame,
    text_col: str = "text",
    k: int = 50,
    min_count: int = 5,
) -> DataFrame:
    """Top-``k`` collocations — bigrams whose words co-occur far more
    than their individual frequencies predict: (w1, w2, n, score) with

        score = n(w1,w2) · N / (left(w1) · right(w2))

    the pointwise-mutual-information RATIO over the bigram table (its
    own marginals: left = bigrams starting at w1, right = ending at
    w2, N = total bigrams).  Ranking by the ratio is ranking by PMI
    without the logarithm — log is libm and engine-divergent, while
    the ratio is two multiplies and one divide of exact integers in a
    fixed order, bit-identical everywhere.  ``min_count`` floors the
    classic rare-pair pathology (a hapax pair scores N/1).  Ordered by
    (score DESC, w1, w2) — the full tie-break makes the top-k SET
    engine-exact.

    Scale shape (100 TB): identical to bigram_lm_topk — scan-local
    zip_with bigrams, ONE map-side-combined count shuffle; marginals
    are integer window sums over the vocabulary²-sized count table
    (never the corpus); the 1-row N total broadcasts; TakeOrdered
    top-k."""
    if k <= 0 or min_count < 1:
        raise ValueError(
            f"collocations_topk needs k > 0 and min_count >= 1, got {k!r}/{min_count!r}"
        )
    toks = _tokens(F.col(text_col))
    pairs = F.zip_with(
        toks,
        F.slice(toks, 2, F.size(toks) - F.lit(1)),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    counts = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(pairs).alias("bg"))
        .filter(F.col("bg.w2").isNotNull())
        .groupBy("bg.w1", "bg.w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    left = F.sum("n").over(Window.partitionBy("w1")).cast("long")
    right = F.sum("n").over(Window.partitionBy("w2")).cast("long")
    total = F.sum("n").over(Window.partitionBy())  # vocab²-sized input
    scored = counts.select(
        "w1", "w2", "n",
        (
            (F.col("n").cast("double") * total.cast("double"))
            / (left.cast("double") * right.cast("double"))
        ).alias("score"),
    )
    return (
        scored.filter(F.col("n") >= min_count)
        .orderBy(F.desc("score"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )


def collocations_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    k: int = 50,
    min_count: int = 5,
) -> str:
    """DuckDB mirror of collocations_topk — shared tokenizer fragment,
    same marginal window sums, same multiply/divide order."""
    toks = _toks_sql(text_col)
    return f"""
WITH t AS (SELECT {toks} AS t FROM {table} WHERE {text_col} IS NOT NULL),
b AS (SELECT t[CAST(i AS INTEGER)] AS w1, t[CAST(i AS INTEGER) + 1] AS w2
      FROM (SELECT t, unnest(range(1, len(t))) AS i FROM t)),
c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY w1, w2)
SELECT w1, w2, n,
       (CAST(n AS DOUBLE) * CAST(SUM(n) OVER () AS DOUBLE))
       / (CAST(SUM(n) OVER (PARTITION BY w1) AS DOUBLE)
          * CAST(SUM(n) OVER (PARTITION BY w2) AS DOUBLE)) AS score
FROM c
QUALIFY n >= {min_count}
ORDER BY score DESC, w1, w2
LIMIT {k}
"""


def skipgram_pairs(
    df: DataFrame,
    text_col: str = "text",
    window: int = 2,
    min_count: int = 2,
) -> DataFrame:
    """Skip-gram (center, context) pair counts — the word2vec /
    embedding-training data-prep stage: for every token, every
    neighbor within ``window`` positions becomes a context, counted
    per (center, context, dist) so the distance stays an INTEGER
    group key (folding a 1/d weight would be an order-sensitive FP
    sum; downstream can weight the integer counts however it likes).
    Both directions are emitted (center→context and context→center),
    matching the symmetric window of the reference algorithm.

    Scale shape (100 TB): pairs expand SCAN-LOCALLY as a JVM
    zip_with over the token array shifted by d = 1..window (no
    self-join of the corpus on position), then ONE map-side-combined
    count shuffle bounded by vocabulary²·window rows.  ``min_count``
    floors the hapax tail.  Ordered (n DESC, center, context, dist).
    """
    if window < 1:
        raise ValueError(f"skipgram_pairs window must be >= 1, got {window}")
    if min_count < 1:
        raise ValueError(f"skipgram_pairs min_count must be >= 1, got {min_count}")
    toks = _tokens(F.col(text_col))
    # forward pairs (x at i, y at i+d, d) for d in 1..window; zip_with
    # pads the shorter shifted slice with NULLs which the filter drops
    fwd = F.expr(
        f"flatten(transform(sequence(1, {window}), d -> "
        f"zip_with(__sg_toks, slice(__sg_toks, 1 + d, size(__sg_toks)), "
        f"(x, y) -> struct(x AS c, y AS o, d AS dist))))"
    )
    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(toks.alias("__sg_toks"))
        .select(F.explode(fwd).alias("p"))
        .filter(F.col("p.o").isNotNull())
    )
    both = base.select(
        F.col("p.c").alias("center"),
        F.col("p.o").alias("context"),
        F.col("p.dist").alias("dist"),
    ).unionAll(
        base.select(
            F.col("p.o").alias("center"),
            F.col("p.c").alias("context"),
            F.col("p.dist").alias("dist"),
        )
    )
    return (
        both.groupBy("center", "context", "dist")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .filter(F.col("n") >= min_count)
        .orderBy(F.desc("n"), F.asc("center"), F.asc("context"), F.asc("dist"))
    )


def skipgram_pairs_oracle_sql(
    table: str,
    text_col: str = "text",
    window: int = 2,
    min_count: int = 2,
) -> str:
    """DuckDB mirror of :func:`skipgram_pairs` — shared tokenizer,
    same d = 1..window shifted pairing (position join over the
    unnested array, identical pair set), same symmetric emission and
    integer counts."""
    toks = _toks_sql(text_col)
    return f"""
WITH __sg_t AS (
  SELECT {toks} AS t FROM {table} WHERE {text_col} IS NOT NULL
), __sg_p AS (
  SELECT t[CAST(i AS INTEGER)] AS c, t[CAST(i AS INTEGER) + d] AS o,
         CAST(d AS INTEGER) AS dist
  FROM (SELECT t, unnest(range(1, len(t) + 1)) AS i FROM __sg_t)
  CROSS JOIN (SELECT unnest(range(1, {window} + 1)) AS d)
  WHERE i + d <= len(t)
), __sg_b AS (
  SELECT c AS center, o AS context, dist FROM __sg_p
  UNION ALL
  SELECT o AS center, c AS context, dist FROM __sg_p
)
SELECT center, context, dist, CAST(COUNT(*) AS BIGINT) AS n
FROM __sg_b GROUP BY center, context, dist
HAVING COUNT(*) >= {min_count}
ORDER BY n DESC, center ASC, context ASC, dist ASC
"""


def unigram_sampling_table(
    df: DataFrame,
    text_col: str = "text",
    alpha_num: int = 3,
    alpha_log2_den: int = 2,
    k: int = 200,
) -> DataFrame:
    """Negative-sampling unigram table — the word2vec noise
    distribution: token probabilities proportional to
    ``count^(alpha_num / 2^alpha_log2_den)`` (default 3/4, the
    canonical smoothing that damps stopword dominance while keeping
    rare words sampleable).

    Exactness: the fractional power is ``alpha_num`` fixed-order
    integer-exponent MULTIPLIES followed by ``alpha_log2_den``
    REPEATED SQRTS — every step a single correctly-rounded IEEE op in
    both engines, never libm ``pow`` (count^3 stays far inside double
    range for any corpus: (2^63)^3 < 2^190 < DBL_MAX).  The
    denominator is the temperature_mixture sorted-ascending fold;
    probability is one division.  Top-``k`` by (count DESC, token) —
    full tie-break, engine-exact cut.

    Scale shape: one map-side-combined token count shuffle to
    vocabulary rows; the fold total broadcasts."""
    if alpha_num < 1 or alpha_log2_den < 0:
        raise ValueError(
            f"unigram_sampling_table needs alpha_num >= 1 and "
            f"alpha_log2_den >= 0, got {alpha_num}/{alpha_log2_den}"
        )
    if k < 1:
        raise ValueError(f"unigram_sampling_table k must be >= 1, got {k}")
    from ..session import materialize

    counts = materialize(
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(_tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    scaled = F.col("n").cast("double")
    base = scaled
    for _ in range(alpha_num - 1):
        scaled = scaled * base
    for _ in range(alpha_log2_den):
        scaled = F.sqrt(scaled)
    counts = counts.withColumn("scaled", scaled)
    total = counts.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("token", "scaled"))),
                lambda s: s["scaled"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("total")
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "token", "n", "scaled",
            (F.col("scaled") / F.col("total")).alias("prob"),
        )
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(k)
    )


def unigram_sampling_oracle_sql(
    table: str,
    text_col: str = "text",
    alpha_num: int = 3,
    alpha_log2_den: int = 2,
    k: int = 200,
) -> str:
    """DuckDB mirror of :func:`unigram_sampling_table` — shared
    tokenizer, the same multiply-then-repeated-sqrt power, the same
    sorted fold and tie-broken cut."""
    toks = _toks_sql(text_col)
    s = "CAST(n AS DOUBLE)"
    expr = s
    for _ in range(alpha_num - 1):
        expr = f"({expr} * {s})"
    for _ in range(alpha_log2_den):
        expr = f"sqrt({expr})"
    return f"""
WITH __us_c AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT unnest({toks}) AS token FROM {table}
    WHERE {text_col} IS NOT NULL)
  GROUP BY token
), __us_s AS (
  SELECT token, n, {expr} AS scaled FROM __us_c
), __us_t AS (
  SELECT list_reduce(list(scaled ORDER BY token ASC), (a, b) -> a + b) AS total
  FROM __us_s
)
SELECT token, n, scaled, scaled / total AS prob
FROM __us_s CROSS JOIN __us_t
ORDER BY n DESC, token ASC
LIMIT {k}
"""


def text_readability(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Flesch reading-ease per document from deterministic regex
    counting — the curation quality signal "is this text written for
    humans?" (very low = legalese/jargon, ~100 = plain prose):

    ``flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)``

    with sentences = ``[.!?]+`` runs (floored at 1 — a fragment is one
    sentence), words = whitespace tokens (the with_token_counts rule,
    trim = spaces only), and syllables = ``[aeiouy]+`` vowel-group
    runs in the lowercased text — the standard library approximation;
    both regexes sit in the Java/RE2 shared subset.  All counts are
    integers; the score is one fixed double tree over them, so it is
    engine-exact.  Zero-word documents get a NULL score (not a
    division blow-up).  Pure projection: zero shuffles, scales as a
    map-only pass at any corpus size."""
    col = F.col(text_col)
    n_sentences = F.greatest(
        F.size(F.regexp_extract_all(col, F.lit(r"[.!?]+"), F.lit(0))), F.lit(1)
    )
    n_words = F.when(F.trim(col) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(col), r"\s+"))
    )
    n_syllables = F.size(
        F.regexp_extract_all(F.lower(col), F.lit(r"[aeiouy]+"), F.lit(0))
    )
    out = (
        df.where(col.isNotNull())
        .withColumn("n_sentences", n_sentences)
        .withColumn("n_words", n_words)
        .withColumn("n_syllables", n_syllables)
    )
    w = F.col("n_words").cast("double")
    s = F.col("n_sentences").cast("double")
    y = F.col("n_syllables").cast("double")
    flesch = (
        F.lit(206.835) - F.lit(1.015) * (w / s) - F.lit(84.6) * (y / w)
    )
    return out.select(
        id_col,
        "n_sentences",
        "n_words",
        "n_syllables",
        F.when(F.col("n_words") > 0, flesch).alias("flesch"),
    )


def text_readability_oracle_sql(
    table: str, id_col: str, text_col: str = "text"
) -> str:
    """DuckDB mirror of :func:`text_readability` — identical regexes,
    identical token rule (string_split_regex on trimmed text), same
    literal constants and operation tree."""
    t = text_col
    n_sent = f"GREATEST(len(regexp_extract_all({t}, '[.!?]+')), 1)"
    n_words = (
        f"CASE WHEN trim({t}) = '' THEN 0 "
        f"ELSE len(string_split_regex(trim({t}), '\\s+')) END"
    )
    n_syll = f"len(regexp_extract_all(lower({t}), '[aeiouy]+'))"
    return f"""
WITH c AS (
  SELECT {id_col},
         CAST({n_sent} AS INTEGER) AS n_sentences,
         CAST({n_words} AS INTEGER) AS n_words,
         CAST({n_syll} AS INTEGER) AS n_syllables
  FROM {table} WHERE {text_col} IS NOT NULL)
SELECT {id_col}, n_sentences, n_words, n_syllables,
       CASE WHEN n_words > 0 THEN
         206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                 - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
       END AS flesch
FROM c
"""
