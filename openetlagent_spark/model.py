"""Pipeline IR: operation specs, file definitions, pipeline config/flow.

Mirrors the *capability surface* of the reference's Pydantic model layer
(reference: app/models.py:40-149) as plain dataclasses: one spec class
per operation type, discriminated by its ``operation_type`` default
(``OPERATION_TYPES`` is built from the classes), a file/schema model,
and the flat ``PipelineFlow`` op-list IR.  The engine compiles a flow
into ONE lazy Spark DataFrame chain (see runner.py) instead of eagerly
materializing after every op like the reference (app/main.py:402-412).

The reference's eleven operation types are joined by the engine's
extensions (docs/OPERATORS.md lists all of them); they share the same
discriminated-spec shape so flows can mix them freely.
"""

from __future__ import annotations

import functools
import re
import types
import typing

from dataclasses import dataclass, field
from typing import Annotated, Any, Literal

import yaml


class SpecError(ValueError):
    """Raised when an operation spec is structurally invalid."""


# ---------------------------------------------------------------------------
# Field contracts.  A spec field declares what it accepts on its
# annotation: the type, a ``Literal`` for a fixed set of values, and an
# ``Annotated`` marker (``NonEmpty``, ``Bound``) for the rest.
# ``Operation.__post_init__`` checks every field against its annotation
# on every construction, parsed or built in code, then runs the spec's
# own ``check`` for what one field cannot say: cross-field rules,
# patterns and mode-dependent requirements.  ``InputColumn`` declares
# the columns an op reads, which the runner checks against the frame.
# ---------------------------------------------------------------------------


class NonEmpty:
    """Marker: the value may not be empty ("", [], {}) or None."""

    def breach(self, op: str, name: str, value: Any) -> str | None:
        return None if value else f"{op} requires {name}"


@dataclass(frozen=True)
class Bound:
    """Marker: ``value >= lo`` (``>`` when ``lo_open``) and, when ``hi``
    is set, ``value <= hi`` (``<`` when ``hi_open``).  NaN fails every
    bound; None passes, so an optional field is bounded only when set."""

    lo: float
    hi: float | None = None
    lo_open: bool = False
    hi_open: bool = False

    def __str__(self) -> str:
        if self.hi is not None:
            return f"in {'[('[self.lo_open]}{self.lo}, {self.hi}{'])'[self.hi_open]}"
        if self.lo == 0 and self.lo_open:
            return "positive"
        return f"{'>' if self.lo_open else '>='} {self.lo}"

    def breach(self, op: str, name: str, value: Any) -> str | None:
        if value is None:
            return None
        above = value > self.lo if self.lo_open else value >= self.lo
        below = self.hi is None or (value < self.hi if self.hi_open else value <= self.hi)
        return None if above and below else f"{op} {name} must be {self}, got {value!r}"


class InputColumn:
    """Marker: the value names a column the op reads from its current
    frame, in every mode, whenever it is set.  The runner checks that
    the frame has it before the op runs (``columns_read``)."""

    def breach(self, op: str, name: str, value: Any) -> str | None:
        return None


T = typing.TypeVar("T")
Reads = Annotated[T, InputColumn()]
Required = Annotated[T, NonEmpty()]
Positive = Annotated[T, Bound(0, lo_open=True)]
NonNegative = Annotated[T, Bound(0)]
AtLeastOne = Annotated[T, Bound(1)]
GateMode = Literal["annotate", "filter"]
MatchStrategy = Literal["exact", "near"]


# ---------------------------------------------------------------------------
# Operation specs (reference: app/models.py:40-137)
# ---------------------------------------------------------------------------


@dataclass
class Operation:
    """Base spec: every op has a type and most produce one output column
    (reference: app/models.py:40-42)."""

    output_column: str | None = None

    operation_type: str = ""

    def __init_subclass__(cls, **kwargs: Any) -> None:
        super().__init_subclass__(**kwargs)
        if "__post_init__" in cls.__dict__:
            raise TypeError(
                f"{cls.__name__}: put spec checks in check(), so the field "
                "contract check in Operation.__post_init__ always runs first"
            )

    def __post_init__(self) -> None:
        op, hints = self.operation_type, _field_types(type(self))
        # every type before any bound: a bound compared against a
        # mistyped value would raise a raw TypeError
        for name, tp in hints.items():
            value = getattr(self, name)
            if not _conforms(value, tp):
                raise SpecError(
                    f"Invalid spec for {op}: field {name!r} expects {_type_name(tp)}, "
                    f"got {value!r} ({type(value).__name__})"
                )
        for name, tp in hints.items():
            breach = _breach(op, name, getattr(self, name), tp)
            if breach:
                raise SpecError(breach)
        self.check()

    def check(self) -> None:
        """The spec's own rules beyond its field annotations."""


@dataclass
class EqualityOperation(Operation):
    """Copy a column under a new name (reference: app/models.py:46-48)."""

    input_column: Required[Reads[str]] = ""
    operation_type: str = "equality"


@dataclass
class ConcatenationOperation(Operation):
    """Null-propagating string concat with separator
    (reference: app/models.py:50-53; null semantics per concat_str,
    app/operations/concatenation.py:10-13)."""

    input_columns: list[Reads[str]] = field(default_factory=list)
    separator: str = ""
    operation_type: str = "concatenation"


@dataclass
class ApplicationOperation(Operation):
    """Row-wise sandboxed lambda over named input columns
    (reference: app/models.py:55-58, app/operations/application.py:5-33)."""

    input_columns: list[Reads[str]] = field(default_factory=list)
    function_str: str = ""
    # Engine extension: declared Spark-side return logical type.  The
    # reference relies on Polars type inference; Spark UDFs need a declared
    # type, so we accept one and fall back to probe-based inference.
    return_type: str | None = None
    operation_type: str = "application"


@dataclass
class SwitchingOperation(Operation):
    """Multi-way CASE copying from mapped *source columns*
    (reference: app/models.py:60-76).  Exactly one of default_column /
    default_value must be set (validator at app/models.py:67-76)."""

    switch_column: Required[Reads[str]] = ""
    mapping: dict[Any, Reads[str]] = field(default_factory=dict)
    default_column: Reads[str | None] = None
    default_value: Any = None
    operation_type: str = "switching"

    def check(self) -> None:
        if (self.default_column is None) == (self.default_value is None):
            raise SpecError(
                "switching requires exactly one of default_column / default_value "
                "(reference validator: app/models.py:67-76)"
            )


@dataclass
class AssignationOperation(Operation):
    """Constant column from a literal (reference: app/models.py:78-80)."""

    value: Any = None
    operation_type: str = "assignation"


@dataclass
class CastingOperation(Operation):
    """Cast one column to one of the logical types
    (reference: app/models.py:82-85)."""

    input_column: Required[Reads[str]] = ""
    target_type: str = "string"
    operation_type: str = "casting"


@dataclass
class ArithmeticOperation(Operation):
    """Binary + - * / between exactly two columns
    (reference: app/models.py:87-90)."""

    input_columns: list[Reads[str]] = field(default_factory=list)
    operator: Literal["+", "-", "*", "/"] = "+"
    operation_type: str = "arithmetic"

    def check(self) -> None:
        if len(self.input_columns) != 2:
            raise SpecError(
                f"arithmetic requires exactly two input columns, got "
                f"{self.input_columns} (reference: app/models.py:88)"
            )


@dataclass
class ComparisonOperation(Operation):
    """Compare a column to a literal producing a boolean *column* — a
    projection, NOT a row filter (reference: app/models.py:92-96)."""

    input_column: Required[Reads[str]] = ""
    operator: Literal["==", "!=", ">", "<", ">=", "<="] = "=="
    value: Any = None
    operation_type: str = "comparison"


@dataclass
class BindOperation(Operation):
    """Join against an external file or named input
    (reference: app/models.py:98-105, app/operations/bind.py:7-59).
    Right side is projected to {right_on} ∪ columns_to_add before the
    join; colliding right columns are renamed ``{col}_right`` and the
    right key is dropped (Polars semantics, SURVEY §2.3.2)."""

    right_file_path: str = ""
    right_schema_columns: dict[str, str] = field(default_factory=dict)
    left_on: Reads[str | list[str]] = ""
    right_on: str | list[str] = ""
    # the reference surface is left/inner/outer/cross (app/models.py:104);
    # semi/anti are engine extensions (SURVEY §2.2 gap)
    how: Literal["left", "inner", "outer", "cross", "semi", "anti"] = "left"
    columns_to_add: list[str] = field(default_factory=list)
    skew_salt: NonNegative[int] = 0
    operation_type: str = "bind"

    def check(self) -> None:
        if len(self.left_keys()) != len(self.right_keys()):
            raise SpecError(
                f"bind left_on/right_on key counts differ: {self.left_on!r} vs {self.right_on!r}"
            )
        # An empty key set on a keyed join would join unconditionally —
        # a silent cartesian product.  Cross joins must be asked for.
        if self.how != "cross" and not [k for k in self.left_keys() if k]:
            raise SpecError(f"bind how={self.how!r} requires join keys (use how='cross' for none)")
        if self.skew_salt > 1 and self.how not in ("inner", "left"):
            raise SpecError("bind skew_salt applies to inner/left joins only")

    def left_keys(self) -> list[str]:
        """Join keys, single-key string or multi-key list (multi-key is
        an engine extension — the reference joins on one equi-key,
        app/models.py:104)."""
        return [self.left_on] if isinstance(self.left_on, str) else list(self.left_on)

    def right_keys(self) -> list[str]:
        return [self.right_on] if isinstance(self.right_on, str) else list(self.right_on)


@dataclass
class FoldOperation(Operation):
    """Unpivot wide→long (reference: app/models.py:107-112,
    app/operations/fold.py:6-32).  id/value overlap is legal."""

    id_columns: list[Reads[str]] = field(default_factory=list)
    value_columns: list[Reads[str]] = field(default_factory=list)
    key_column_name: str = "key"
    value_column_name: str = "value"
    operation_type: str = "fold"


@dataclass
class UnfoldOperation(Operation):
    """Pivot long→wide; duplicate (index, key) resolved by FIRST
    (reference: app/models.py:114-118; hard-coded first at
    app/operations/unfold.py:34).  ``order_column`` is an engine
    extension giving 'first' a deterministic meaning under distributed
    execution (min_by over that column); when absent, a stable row id
    captured at scan time is used."""

    index_columns: list[Reads[str]] = field(default_factory=list)
    key_column: Required[Reads[str]] = ""
    value_column: Required[Reads[str]] = ""
    order_column: Reads[str | None] = None
    operation_type: str = "unfold"


# --- Extension operations (beyond the reference surface, SURVEY §2.2) ------


@dataclass
class FilterOperation(Operation):
    """Row filter — absent from the reference (SURVEY §2.2: 'no
    row-filtering operator exists'); added because any real pipeline
    needs one.  Either a boolean ``input_column`` or a (column, operator,
    value) predicate like comparison."""

    input_column: Required[Reads[str]] = ""
    operator: str | None = None
    value: Any = None
    operation_type: str = "filter"


@dataclass
class AggregationOperation(Operation):
    """Group-by aggregation — absent from the reference (SURVEY §2.2).
    aggregations: {output_name: {"column": c, "agg": fn}} with
    fn ∈ sum/min/max/avg/count/count_distinct/first/collect_set/
    percentile (extra key "p", exact interpolated)/approx_count_distinct
    (HLL sketch, extra key "rsd").
    ``grouping``: "groupby" (default) | "rollup" | "cube" |
    "sets" (explicit ``grouping_sets``) for subtotal combinations."""

    group_by: list[Reads[str]] = field(default_factory=list)
    aggregations: dict[str, dict[str, str]] = field(default_factory=dict)
    grouping: Literal["groupby", "rollup", "cube", "sets"] = "groupby"
    grouping_sets: list[list[str]] = field(default_factory=list)
    operation_type: str = "aggregation"

    def check(self) -> None:
        if self.grouping == "sets" and not self.grouping_sets:
            raise SpecError("aggregation grouping='sets' requires grouping_sets")


@dataclass
class SortOperation(Operation):
    columns: list[Reads[str]] = field(default_factory=list)
    descending: list[bool] = field(default_factory=list)
    operation_type: str = "sort"


@dataclass
class LimitOperation(Operation):
    n: int = 0
    operation_type: str = "limit"


@dataclass
class DistinctOperation(Operation):
    subset: list[Reads[str]] = field(default_factory=list)
    operation_type: str = "distinct"


@dataclass
class UnionOperation(Operation):
    """Set operation by name with another named input.  mode ∈
    all (UNION ALL, default) / distinct (UNION) / intersect / except —
    the reference has NO set ops (SURVEY §2.2); intersect/except use
    Spark's DISTINCT set semantics, matching SQL INTERSECT/EXCEPT."""

    right_input: str = ""
    mode: Literal["all", "distinct", "intersect", "except"] = "all"
    operation_type: str = "union"


@dataclass
class JsonExtractOperation(Operation):
    """Extract a scalar from a JSON-string column by JSONPath (e.g.
    ``$.user.id``), optionally cast to a logical type — a scalar-
    function capability the reference lacks entirely (SURVEY §2.2
    'no array/map/json functions').  Malformed JSON or a missing path
    yields NULL (get_json_object semantics)."""

    input_column: Required[Reads[str]] = ""
    json_path: str = "$"
    target_type: str | None = None
    operation_type: str = "json_extract"

    def check(self) -> None:
        if not self.json_path.startswith("$"):
            raise SpecError(f"json_extract path must start with '$', got {self.json_path!r}")


@dataclass
class SelectOperation(Operation):
    """Mid-pipeline projection: keep exactly ``columns`` in order, or
    drop ``drop_columns`` (exactly one must be given).  The reference
    can only drop columns via the ``_x_`` temp convention at flow end
    (SURVEY §1.4); set ops and sinks need explicit shape control."""

    columns: list[Reads[str]] = field(default_factory=list)
    drop_columns: list[Reads[str]] = field(default_factory=list)
    operation_type: str = "select"

    def check(self) -> None:
        if bool(self.columns) == bool(self.drop_columns):
            raise SpecError("select requires exactly one of columns / drop_columns")


@dataclass
class SampleOperation(Operation):
    """Row sample (without replacement), two modes:

    - default: seeded Bernoulli — reproducible WITHIN Spark, but the
      row subset is partitioning-dependent;
    - ``key_column`` set: deterministic md5-bucket sample of rows whose
      hashed key falls under ``fraction`` (basis-point granularity) —
      stable across engines, cluster layouts, and dataset growth (the
      same hashing contract as functions.text.split_assign), and
      therefore oracle-checkable."""

    fraction: Annotated[float, Bound(0, 1, lo_open=True)] = 0.1
    seed: int = 42
    key_column: Reads[str] = ""
    operation_type: str = "sample"


@dataclass
class RepartitionOperation(Operation):
    """Explicit partitioning control — pre-shuffle on join/agg keys to
    co-locate downstream stages, or rebalance after a skewing filter.
    ``columns`` empty → round-robin rebalance to ``num_partitions``."""

    columns: list[Reads[str]] = field(default_factory=list)
    num_partitions: int | None = None
    operation_type: str = "repartition"


@dataclass
class WindowOperation(Operation):
    """Window function over partition/order: fn ∈ row_number/rank/
    dense_rank/ntile/percent_rank/cume_dist/lag/lead/first_value/
    last_value/sum/avg/min/max/count.  first/last span the WHOLE
    partition (deterministic given a total order), not the default
    running frame.  For the aggregate functions an optional ``frame`` =
    [start, end] offsets (negative = preceding, e.g. [-2, 0] =
    2 PRECEDING .. CURRENT ROW; ``frame_type`` rows|range) turns the
    running aggregate into a sliding one."""

    function: str = "row_number"
    partition_by: list[Reads[str]] = field(default_factory=list)
    order_by: list[Reads[str]] = field(default_factory=list)
    descending: list[bool] = field(default_factory=list)
    value_column: str | None = None
    offset: int = 1
    frame: list[int] = field(default_factory=list)
    frame_type: Literal["rows", "range"] = "rows"
    operation_type: str = "window"

    def check(self) -> None:
        if self.frame and len(self.frame) != 2:
            raise SpecError(f"window frame must be [start, end] offsets, got {self.frame!r}")
        if self.frame and self.frame[0] > self.frame[1]:
            raise SpecError(f"window frame start must be <= end, got {self.frame!r}")
        if self.frame and self.function not in ("sum", "avg", "min", "max", "count"):
            raise SpecError(
                f"window frame applies to aggregate functions only, not {self.function!r}"
            )
        if self.frame_type == "range" and len(self.order_by) != 1:
            raise SpecError("window range frames require exactly one (numeric) order_by column")


# --- North-star operations as flow ops (SURVEY §2 extension surface) -------
# These make the training-data operators reachable from a GENERATED
# pipeline (the reference's LLM flow path, app/main.py:85-283): an LLM
# emitting YAML can now dispatch dedup / similarity / asof / range joins
# like any parity op.


@dataclass
class DedupOperation(Operation):
    """Deduplication as a flow op (functions/dedup.py strategies).

    strategy ∈ exact / minhash / simhash / ngram / embedding / substring
    (exact shared token runs — partial-duplication signal) / fuzzy
    (blocked Levenshtein prefix pairs — functions/fuzzy.py);
    mode ∈ drop (single-hop: rows with a lower-id near-dup partner
    removed) / pairs (the pair table id_a, id_b, score) / components
    (cluster labels: node, component via distributed connected
    components — functions/graph.py) / cluster_drop (TRANSITIVE dedup:
    exactly one survivor, the minimum id, per duplicate cluster) /
    keep_best (TRANSITIVE dedup keeping each cluster's highest
    ``score_column`` row, min id on ties — functions/graph.py
    dedup_keep_best, the production curation policy).
    ``exact`` supports only drop (its keep-min semantics have no pair
    form)."""

    strategy: Literal[
        "exact", "minhash", "simhash", "ngram", "embedding", "substring", "fuzzy"
    ] = "exact"
    mode: Literal["drop", "pairs", "components", "cluster_drop", "keep_best"] = "drop"
    # exact
    keys: list[str] = field(default_factory=list)
    order_column: str = ""
    # approximate strategies
    id_column: str = ""
    text_column: str = ""
    vector_column: str = ""
    threshold: float = 0.5
    num_perm: int = 64
    bands: int = 16
    shingle_size: int = 3
    max_hamming: int = 3
    ngram_size: int = 3
    n_planes: int = 8
    n_tables: int = 2
    seed: int = 42
    max_bucket: int = 1000
    run_len: int = 8
    min_shared: int = 1
    max_dist: int = 8
    prefix_chars: int = 40
    block_tokens: int = 2
    len_band: int = 8
    # keep_best
    score_column: str = ""
    operation_type: str = "dedup"

    def check(self) -> None:
        if self.mode == "keep_best" and not self.score_column:
            raise SpecError("dedup mode='keep_best' requires score_column")
        if self.strategy == "exact":
            if self.mode != "drop":
                raise SpecError("dedup strategy='exact' supports mode='drop' only")
            if not self.keys or not self.order_column:
                raise SpecError("dedup strategy='exact' requires keys and order_column")
        elif self.strategy == "embedding":
            if not self.id_column or not self.vector_column:
                raise SpecError(
                    "dedup strategy='embedding' requires id_column and vector_column"
                )
        elif not self.id_column or not self.text_column:
            raise SpecError(f"dedup strategy={self.strategy!r} requires id_column and text_column")
        if self.strategy == "minhash" and (
            self.num_perm <= 0 or self.bands <= 0 or self.num_perm % self.bands
        ):
            raise SpecError(
                "dedup num_perm must be a positive multiple of bands, "
                f"got num_perm={self.num_perm!r} bands={self.bands!r}"
            )


@dataclass
class SimilarityOperation(Operation):
    """ANN top-k as a flow op: the CURRENT frame is the corpus, the
    query side resolves like bind's right side (named input key or file
    path).  method ∈ brute (exact broadcast baseline) / lsh / ivf
    (approximate scale paths — functions/similarity.py).  Both
    approximate paths run the code their generated oracles check:
    ``lsh`` hashes with ±1.0 planes drawn from ``seed`` (n_planes,
    n_tables); ``ivf`` fits ``n_centroids`` centroids by integer-grid
    Lloyd's over a hash-chosen sample and probes ``nprobe`` lists.
    ``seed`` applies to lsh only.  ivf raises two named errors: a
    corpus with fewer non-NULL vectors than n_centroids
    (``n_centroids=16 exceeds the N sampled vectors``), and a NaN or
    infinite coordinate (``quantization overflow``)."""

    method: Literal["brute", "lsh", "ivf"] = "brute"
    queries_path: Required[str] = ""  # named input or file path
    queries_schema_columns: dict[str, str] = field(default_factory=dict)
    id_column: Reads[str] = "vec_id"
    vector_column: Reads[str] = "embedding"
    k: Positive[int] = 10
    n_planes: Positive[int] = 4
    n_tables: Positive[int] = 8
    n_centroids: Positive[int] = 16
    nprobe: Positive[int] = 4
    seed: int = 42
    operation_type: str = "similarity"


@dataclass
class AsofJoinOperation(Operation):
    """As-of join as a flow op (functions/asof.py): attach the latest
    (backward) / earliest (forward) right row's value_columns per key;
    right side resolves like bind's."""

    right_file_path: Required[str] = ""
    right_schema_columns: dict[str, str] = field(default_factory=dict)
    left_on: Required[Reads[str]] = ""
    right_on: Required[str] = ""
    left_time: Required[Reads[str]] = ""
    right_time: Required[str] = ""
    value_columns: Required[list[str]] = field(default_factory=list)
    direction: Literal["backward", "forward"] = "backward"
    suffix: str = "_asof"
    # None = unbounded; seconds otherwise (stale matches revert to NULL).
    # NaN fails the bound, so it cannot silently disable staleness.
    tolerance: NonNegative[float | None] = None
    operation_type: str = "asof_join"


@dataclass
class RangeJoinOperation(Operation):
    """Range join as a flow op (functions/range_join.py).

    kind='tolerance': SELF pair join — rows sharing ``key`` with
    |t_a - t_b| <= tolerance seconds (bucketed, one shuffle).
    kind='interval': point-in-interval join against a right side
    resolved like bind's (start_column <= t <= end_column per key).
    kind='overlap': interval × interval overlap join — the current
    frame's [left_start_column, left_end_column] ranges against the
    right side's [start_column, end_column] ranges per ``key``,
    emitting (key, left_id, right_id, overlap_us); dup-free by the
    canonical-bucket condition (functions/range_join.py
    interval_overlap_join)."""

    kind: Literal["tolerance", "interval", "overlap"] = "tolerance"
    # tolerance (self-join)
    key: str = ""
    time_column: str = ""
    id_column: str = ""
    tolerance: Positive[float] = 60.0
    # interval (two-sided)
    right_file_path: str = ""
    right_schema_columns: dict[str, str] = field(default_factory=dict)
    left_on: str = ""
    right_on: str = ""
    start_column: str = ""
    end_column: str = ""
    value_columns: list[str] = field(default_factory=list)
    bucket_width: Positive[float] = 3600.0
    # overlap (two-sided interval × interval)
    left_id_column: str = ""
    right_id_column: str = ""
    left_start_column: str = ""
    left_end_column: str = ""
    operation_type: str = "range_join"

    def check(self) -> None:
        if self.kind == "overlap":
            for f_name in (
                "right_file_path", "key", "left_id_column", "right_id_column",
                "left_start_column", "left_end_column", "start_column",
                "end_column",
            ):
                if not getattr(self, f_name):
                    raise SpecError(f"range_join kind='overlap' requires {f_name}")
            return
        if self.kind == "tolerance":
            if not self.key or not self.time_column or not self.id_column:
                raise SpecError(
                    "range_join kind='tolerance' requires key, time_column, id_column"
                )
        else:
            for f_name in (
                "right_file_path", "left_on", "right_on",
                "time_column", "start_column", "end_column",
            ):
                if not getattr(self, f_name):
                    raise SpecError(f"range_join kind='interval' requires {f_name}")
            if not self.value_columns:
                raise SpecError("range_join kind='interval' requires value_columns")


@dataclass
class ContaminationOperation(Operation):
    """Benchmark-contamination check as a flow op
    (functions/curation.py): the CURRENT frame is the corpus, the
    benchmark side resolves like bind's right side (named input key or
    file path).  mode ∈ annotate (return per-doc overlap stats:
    id, n_shingles, n_hits, contamination_rate, contaminated) /
    filter (return the corpus with contaminated rows removed)."""

    benchmark_path: Required[str] = ""  # named input or file path
    benchmark_schema_columns: dict[str, str] = field(default_factory=dict)
    id_column: Reads[str] = "doc_id"
    text_column: Reads[str] = "text"
    benchmark_text_column: str = ""
    ngram_size: int = 3
    rate_threshold: float = 0.3
    mode: GateMode = "annotate"
    # strategy='near' switches from exact shingle overlap to banded
    # MinHash near-dup pairing (functions/curation.py
    # near_contamination) — catches paraphrased benchmark items the
    # exact check misses.  The near-specific knobs below are ignored
    # under strategy='exact'.
    strategy: MatchStrategy = "exact"
    jaccard_threshold: float = 0.5
    num_perm: int = 64
    bands: int = 16
    max_bucket: int = 1000
    operation_type: str = "contamination"

    def check(self) -> None:
        if self.strategy == "near":
            if not 0.0 < self.jaccard_threshold <= 1.0:
                raise SpecError(
                    "contamination jaccard_threshold must be in (0, 1], got "
                    f"{self.jaccard_threshold!r}"
                )
            if self.num_perm <= 0 or self.bands <= 0 or self.num_perm % self.bands:
                raise SpecError(
                    "contamination num_perm must be a positive multiple of bands, "
                    f"got num_perm={self.num_perm!r} bands={self.bands!r}"
                )


@dataclass
class SnapshotDiffOperation(Operation):
    """Table-version diff as a flow op (functions/profile.py
    snapshot_diff): the CURRENT frame is the NEW snapshot, the OLD
    snapshot resolves like bind's right side.  mode ∈ labels (one row
    per key: key columns + diff_status ∈ added/removed/changed/
    unchanged) / counts ((diff_status, n) summary)."""

    old_path: Required[str] = ""  # named input or file path
    old_schema_columns: dict[str, str] = field(default_factory=dict)
    key_columns: Required[list[Reads[str]]] = field(default_factory=list)
    compare_columns: Required[list[Reads[str]]] = field(default_factory=list)
    mode: Literal["labels", "counts"] = "labels"
    operation_type: str = "snapshot_diff"


@dataclass
class ProvenanceOperation(Operation):
    """Ingest-lineage columns from Spark's hidden file metadata
    (``_metadata``): stamp every row with the physical file it was
    scanned from (and optionally size / modification time) — the audit
    columns a landing-zone pipeline carries so any downstream row can
    be traced back to its source object.  Valid only on frames that
    originate from a file scan (parquet/csv/json/orc/text); a derived
    frame with no file lineage fails at analysis with a clear error.

    ``fields``: subset of path / name / size / mtime (default
    [name]) — ``name`` is the basename, ``path`` the full URI."""

    column_prefix: str = "src_"
    fields: Required[list[Literal["path", "name", "size", "mtime"]]] = field(
        default_factory=lambda: ["name"]
    )
    operation_type: str = "provenance"


@dataclass
class ScrubOperation(Operation):
    """Text scrubbing / redaction as a flow op (functions/curation.py
    scrub_text): an ordered regexp_replace chain.  ``rules`` is a list
    of [pattern, replacement] pairs; empty = the default PII set
    (emails, URLs, IPv4s, digit runs)."""

    input_column: Reads[str] = "text"
    output_column: str = ""
    rules: list[list[str]] = field(default_factory=list)
    operation_type: str = "scrub"

    def check(self) -> None:
        for r in self.rules:
            if len(r) != 2:
                raise SpecError(
                    f"scrub rules must be [pattern, replacement] pairs, got {r!r}"
                )


@dataclass
class PackSequencesOperation(Operation):
    """Sequence packing (concat-and-chunk) as a flow op
    (functions/curation.py): annotates every row with its global token
    offset, context-window chunk id, and span in ``id_column`` order —
    the two-phase distributed prefix scan, never a global single
    -partition window."""

    id_column: Reads[str] = "doc_id"
    text_column: Reads[str] = "text"
    context_length: Positive[int] = 512
    operation_type: str = "pack_sequences"


@dataclass
class RepetitionOperation(Operation):
    """Intra-document repetition signals as a flow op (functions/text.py
    with_repetition): adds ``dup_{n}gram_frac`` per n — the repetitious-
    text quality screen for pretraining corpora."""

    input_column: Reads[str] = "text"
    ns: Required[list[Positive[int]]] = field(default_factory=lambda: [2, 3])
    operation_type: str = "repetition"


@dataclass
class MixtureOperation(Operation):
    """Deterministic per-group dataset mixing as a flow op
    (functions/curation.py weighted_mixture): each row in group ``g``
    with weight ``w`` is kept/replicated ``floor(w)`` times plus a
    hash-chosen extra copy with probability ``frac(w)`` — domain/epoch
    re-weighting for training-data pipelines, engine-exact (same md5
    bucket contract as SampleOperation.key_column)."""

    # no column is marked Reads: group_column is read only for the
    # groups in weights, key_column only under a fractional weight
    group_column: Required[str] = ""
    key_column: Required[str] = ""
    weights: dict[str, NonNegative[float]] = field(default_factory=dict)
    default_weight: NonNegative[float] = 1.0
    seed: int = 42
    copy_column: str = "copy"
    operation_type: str = "mixture"


@dataclass
class MergeOperation(Operation):
    """CDC merge as a flow op (functions/incremental.py merge_changes):
    the CURRENT frame is the base snapshot, the change feed resolves
    like bind's right side (named input key or file path).  The feed
    must carry the base's full column payload plus optional
    ``op_column`` (rows equal to ``delete_value`` remove the key) and
    ``seq_column`` (highest sequence wins per key)."""

    right_file_path: Required[str] = ""  # named input or file path
    right_schema_columns: dict[str, str] = field(default_factory=dict)
    keys: Required[list[Reads[str]]] = field(default_factory=list)
    op_column: str = ""
    delete_value: str = "D"
    seq_column: str = ""
    operation_type: str = "merge"


@dataclass
class Scd2Operation(Operation):
    """SCD2 history build as a flow op (functions/incremental.py
    scd2_history): collapse a change log into validity intervals
    (valid_from / valid_to / is_current) per key.  ``collapse`` opens a
    new version only when an attr_column actually changes (null-safe)."""

    keys: Required[list[Reads[str]]] = field(default_factory=list)
    ts_column: Required[Reads[str]] = ""
    attr_columns: Required[list[Reads[str]]] = field(default_factory=list)
    order_column: Reads[str] = ""
    collapse: bool = True
    operation_type: str = "scd2"


@dataclass
class StratifiedSampleOperation(Operation):
    """Exact-quota stratified sampling as a flow op (functions/
    curation.py stratified_sample): k rows per group, ranked by
    md5(key ∥ seed) — deterministic and partition-independent, unlike
    fraction-based sampling."""

    group_columns: Required[list[Reads[str]]] = field(default_factory=list)
    key_column: Required[Reads[str]] = ""
    k: Positive[int] = 0
    seed: int = 42
    rank_column: str = ""
    operation_type: str = "stratified_sample"


@dataclass
class WeightedSampleOperation(Operation):
    """Weighted (PPS) sampling as a flow op (functions/curation.py
    weighted_sample — sequential Poisson): k rows per group with
    inclusion probability ≈ proportional to ``weight_column``; rows
    with NULL/non-positive weight are excluded.  Deterministic,
    partition-independent, engine-exact."""

    group_columns: Required[list[Reads[str]]] = field(default_factory=list)
    key_column: Required[Reads[str]] = ""
    weight_column: Required[Reads[str]] = ""
    k: Positive[int] = 0
    seed: int = 42
    rank_column: str = ""
    operation_type: str = "weighted_sample"


@dataclass
class ChunkOperation(Operation):
    """Overlapping-window text chunking as a flow op (functions/
    curation.py chunk_text): one output row per ``chunk_size``-token
    window advancing ``chunk_size - overlap`` tokens."""

    id_column: Reads[str] = "doc_id"
    text_column: Reads[str] = "text"
    chunk_size: Positive[int] = 512
    overlap: int = 0
    operation_type: str = "chunk"

    def check(self) -> None:
        if not (0 <= self.overlap < self.chunk_size):
            raise SpecError(
                f"chunk overlap must be in [0, chunk_size), got {self.overlap!r}"
            )


@dataclass
class KeywordSearchOperation(Operation):
    """Ranked keyword retrieval as a flow op (functions/search.py
    keyword_search_topk): rational-idf BM25 top-k for a fixed list of
    query terms over the current frame."""

    query_terms: Required[list[str]] = field(default_factory=list)
    id_column: Reads[str] = "doc_id"
    text_column: Reads[str] = "text"
    k: Positive[int] = 10
    k1: float = 1.2
    b: float = 0.75
    operation_type: str = "keyword_search"

    def check(self) -> None:
        folded = [str(t).lower() for t in self.query_terms]
        if len(set(folded)) != len(folded):
            raise SpecError(
                f"keyword_search query_terms must be unique (case-folded), "
                f"got {self.query_terms!r}"
            )


@dataclass
class InvertedIndexOperation(Operation):
    """Inverted-index build as a flow op (functions/search.py
    inverted_index): term → df, tf_total, id-sorted posting string;
    ``max_df`` = 0 disables the hot-term posting cap."""

    id_column: Reads[str] = "doc_id"
    text_column: Reads[str] = "text"
    max_df: NonNegative[int] = 0
    operation_type: str = "inverted_index"


@dataclass
class FuzzyPairsOperation(Operation):
    """Blocked edit-distance pair join as a flow op (functions/fuzzy.py
    fuzzy_pairs): (id_a, id_b, dist) for same-block rows whose
    normalized prefixes are within ``max_dist`` Levenshtein edits."""

    id_column: Reads[str] = "doc_id"
    string_column: Reads[str] = "text"
    max_dist: NonNegative[int] = 8
    prefix_chars: Positive[int] = 40
    block_tokens: Positive[int] = 2
    len_band: Positive[int] = 8
    max_bucket: Positive[int] = 500
    operation_type: str = "fuzzy_pairs"


@dataclass
class TfidfOperation(Operation):
    """Per-document top-k TF-IDF keyword extraction as a flow op
    (functions/search.py tfidf_topk): (id, rank, term, tfidf) with the
    rational-idf weight and (weight desc, term asc) tie-break."""

    id_column: Reads[str] = "doc_id"
    text_column: Reads[str] = "text"
    k: Positive[int] = 3
    operation_type: str = "tfidf"


@dataclass
class BigramLmOperation(Operation):
    """Corpus bigram-LM transition counts as a flow op
    (functions/text.py bigram_lm_topk): top-k (w1, w2, n, p) with the
    exact-integer MLE conditional probability."""

    text_column: Reads[str] = "text"
    k: Positive[int] = 50
    operation_type: str = "bigram_lm"


@dataclass
class DocLmScoreOperation(Operation):
    """Bigram-LM document quality scoring as a flow op
    (functions/text.py doc_lm_score): each document's mean in-LM
    transition probability + OOV count against the corpus's own top-k
    bigram LM — the CCNet-style LM filter stage."""

    id_column: Reads[str] = "doc_id"
    text_column: Reads[str] = "text"
    k: Positive[int] = 500
    operation_type: str = "doc_lm_score"


@dataclass
class BpeTrainOperation(Operation):
    """Full iterative BPE tokenizer training as a flow op
    (functions/text.py bpe_train): n_merges rounds of weighted pair
    counting + greedy merge over the corpus word-frequency vocab,
    returning the learned merge table."""

    text_column: Reads[str] = "text"
    n_merges: Positive[int] = 5
    operation_type: str = "bpe_train"


@dataclass
class BpeEncodeOperation(Operation):
    """BPE encode step as a flow op (functions/text.py bpe_encode):
    apply a shipped merge table — ``merges`` is a list of [left, right]
    pairs in rank order — returning per-doc symbol counts."""

    id_column: Reads[str] = "doc_id"
    text_column: Reads[str] = "text"
    merges: list[list[str]] = field(default_factory=list)
    operation_type: str = "bpe_encode"

    def check(self) -> None:
        for m in self.merges:
            if len(m) != 2 or not all(isinstance(x, str) and x for x in m):
                raise SpecError(
                    f"bpe_encode merges must be [left, right] string pairs, got {m!r}"
                )


@dataclass
class VocabOovOperation(Operation):
    """Rare-token/OOV quality scoring as a flow op (functions/text.py
    vocab_oov): per-doc token totals and out-of-vocabulary counts
    against the corpus's own top-``top_k`` vocabulary."""

    id_column: Reads[str] = "doc_id"
    text_column: Reads[str] = "text"
    top_k: Positive[int] = 1000
    operation_type: str = "vocab_oov"


@dataclass
class ClusteringOperation(Operation):
    """Deterministic quantized k-means as a flow op (functions/
    clustering.py).  mode ∈ assign (per-vector cluster + distance) /
    sample (cluster-balanced ``per_cluster`` quota draw)."""

    mode: Literal["assign", "sample"] = "assign"
    id_column: Reads[str] = "vec_id"
    vector_column: Reads[str] = "embedding"
    k: Positive[int] = 8
    iters: NonNegative[int] = 2
    per_cluster: int = 10
    # a negative value would surface later as a cryptic Python
    # 'negative shift count' from 1 << scale_bits; a huge one
    # silently overflows the quantized grid's usable int64 range
    scale_bits: Annotated[int, Bound(0, 40)] = 20
    operation_type: str = "kmeans"

    def check(self) -> None:
        if self.mode == "sample" and self.per_cluster <= 0:
            raise SpecError(
                f"kmeans sample per_cluster must be positive, got {self.per_cluster!r}"
            )


@dataclass
class ProfileOperation(Operation):
    """ANALYZE-style column statistics as a flow op (functions/
    profile.py profile_columns).  ``columns`` empty = all columns;
    ``approx`` swaps exact COUNT(DISTINCT) for the HLL sketch (the
    petabyte path)."""

    columns: list[Reads[str]] = field(default_factory=list)
    approx: bool = False
    operation_type: str = "profile"


@dataclass
class HistogramOperation(Operation):
    """Fixed-width value histogram as a flow op (functions/profile.py
    value_histogram).  ``lo``/``hi`` omitted (None) derive from the
    column min/max."""

    input_column: Required[Reads[str]] = ""
    bins: Positive[int] = 20
    lo: float | None = None
    hi: float | None = None
    operation_type: str = "histogram"

    def check(self) -> None:
        if self.lo is not None and self.hi is not None and not self.hi > self.lo:
            raise SpecError(f"histogram needs hi > lo, got [{self.lo!r}, {self.hi!r}]")


@dataclass
class OutlierOperation(Operation):
    """Z-score outlier screen as a flow op (functions/profile.py
    outlier_flags): adds zscore + is_outlier per row; ``group_columns``
    switches to per-stratum statistics."""

    input_column: Required[Reads[str]] = ""
    z_threshold: Positive[float] = 3.0
    group_columns: list[Reads[str]] = field(default_factory=list)
    operation_type: str = "outliers"


@dataclass
class SplitAssignOperation(Operation):
    """Deterministic dataset-split assignment as a flow op
    (functions/text.py with_split_assign): each row gets a named split
    from the md5-bucket of its key — stable as the dataset grows,
    identical on any engine or partitioning."""

    key_column: Required[Reads[str]] = ""
    splits: dict[str, Positive[int]] = field(default_factory=dict)
    output_column: str = "split"
    operation_type: str = "split_assign"

    def check(self) -> None:
        if self.splits and sum(self.splits.values()) != 100:
            raise SpecError(
                f"split_assign percentages must total 100, got {self.splits!r}"
            )


@dataclass
class IncrementalDedupOperation(Operation):
    """Append-batch dedup as a flow op (functions/incremental.py
    incremental_dedup): the CURRENT frame is the incoming batch, the
    existing corpus resolves like bind's right side.  mode ∈ annotate
    (add is_known / is_batch_dup flags) / filter (keep admissible
    rows)."""

    corpus_path: Required[str] = ""  # named input or file path
    corpus_schema_columns: dict[str, str] = field(default_factory=dict)
    id_column: Reads[str] = "doc_id"
    text_column: Reads[str] = "text"
    mode: GateMode = "annotate"
    # strategy='near' switches the match key from the exact normalized-
    # text fingerprint to banded MinHash near-duplication (functions/
    # incremental.py incremental_neardup) — catches paraphrased
    # re-crawls the fingerprint gate admits.  The knobs below are
    # ignored under strategy='exact'.
    strategy: MatchStrategy = "exact"
    jaccard_threshold: float = 0.5
    num_perm: int = 64
    bands: int = 16
    shingle_size: int = 3
    max_bucket: int = 1000
    operation_type: str = "incremental_dedup"

    def check(self) -> None:
        if self.strategy == "near":
            if not 0.0 < self.jaccard_threshold <= 1.0:
                raise SpecError(
                    "incremental_dedup jaccard_threshold must be in (0, 1], got "
                    f"{self.jaccard_threshold!r}"
                )
            if self.num_perm <= 0 or self.bands <= 0 or self.num_perm % self.bands:
                raise SpecError(
                    "incremental_dedup num_perm must be a positive multiple of "
                    f"bands, got num_perm={self.num_perm!r} bands={self.bands!r}"
                )


@dataclass
class GlobalShuffleOperation(Operation):
    """Deterministic global training-order shuffle as a flow op
    (functions/curation.py global_shuffle): every row gets an
    md5(key || '-' || seed) shuffle key and its exact 1-based global
    rank — reproducible from (key, seed) alone, independent of engine
    and partitioning."""

    key_column: Required[Reads[str]] = ""
    seed: int = 42
    shuffle_key_column: str = "shuffle_key"
    position_column: str = "position"
    operation_type: str = "global_shuffle"

    def check(self) -> None:
        if self.shuffle_key_column == self.position_column:
            raise SpecError(
                "global_shuffle shuffle_key_column and position_column must differ"
            )


@dataclass
class QuantileFilterOperation(Operation):
    """Per-group quantile quality gate as a flow op
    (functions/curation.py quantile_filter): keep rows whose value is
    at or above their group's q-quantile — a relative threshold that
    cannot wipe out an entire group."""

    group_columns: Required[list[Reads[str]]] = field(default_factory=list)
    value_column: Required[Reads[str]] = ""
    q: Annotated[float, Bound(0, 1, lo_open=True, hi_open=True)] = 0.75
    threshold_column: str = ""
    operation_type: str = "quantile_filter"


@dataclass
class TokenizeIdsOperation(Operation):
    """Last-mile integer tokenization as a flow op (functions/text.py
    tokenize_ids): map each document to ids against the corpus's own
    top-k vocabulary; replaces the frame with (id, n_tokens, n_oov,
    token_ids)."""

    id_column: Reads[str] = "doc_id"
    text_column: Reads[str] = "text"
    top_k: Positive[int] = 1000
    oov_id: int = 0
    operation_type: str = "tokenize_ids"


@dataclass
class CurriculumOrderOperation(Operation):
    """Deterministic curriculum ordering as a flow op
    (functions/curation.py curriculum_order): global rank by a score
    column (desc NULLS LAST by default; ascending for easy-to-hard),
    optional batch assignment."""

    score_column: Required[Reads[str]] = ""
    id_column: Reads[str] = "doc_id"
    ascending: bool = False
    position_column: str = "position"
    batch_size: NonNegative[int] = 0  # 0 = no batch column
    batch_column: str = "batch_id"
    operation_type: str = "curriculum_order"


@dataclass
class StoreGateOperation(Operation):
    """Admission gate against a persisted signature store as a flow op
    (functions/incremental.py dedup_gate_from_store /
    neardup_gate_from_store): the CURRENT frame is the incoming batch;
    ``store_path`` names the parquet store built by the matching
    build_* function.  strategy ∈ exact (fingerprint store) / near
    (band store); mode ∈ annotate / filter."""

    store_path: Required[str] = ""
    id_column: Reads[str] = "doc_id"
    text_column: Reads[str] = "text"
    strategy: MatchStrategy = "exact"
    mode: GateMode = "annotate"
    # bands = 0 would silently admit EVERY document (no band rows →
    # empty known set); rows_per_band = 0 dies with a bare
    # IndexError inside the band fold — fail at parse time instead
    shingle_size: AtLeastOne[int] = 3
    bands: AtLeastOne[int] = 4
    rows_per_band: AtLeastOne[int] = 3
    seed: int = 7
    operation_type: str = "store_gate"


@dataclass
class GopherRulesOperation(Operation):
    """Gopher-style rule-filter battery as a flow op
    (functions/text.py gopher_rules): per-rule booleans + conjunctive
    ``gopher_pass``; mode='annotate' keeps metrics and flags,
    mode='filter' keeps only passing rows of the ORIGINAL frame."""

    text_column: Reads[str] = "text"
    mode: GateMode = "annotate"
    min_words: int = 5
    max_words: int = 100_000
    min_mean_word_len: float = 2.0
    max_mean_word_len: float = 12.0
    max_symbol_ratio: float = 0.1
    max_bullet_ratio: float = 0.9
    max_ellipsis_ratio: float = 0.3
    min_alpha_ratio: float = 0.7
    min_stop_hits: NonNegative[int] = 2
    operation_type: str = "gopher_rules"

    def check(self) -> None:
        if self.min_words < 0 or self.max_words < self.min_words:
            raise SpecError(
                "gopher_rules requires 0 <= min_words <= max_words, got "
                f"{self.min_words!r}/{self.max_words!r}"
            )


@dataclass
class LineDedupOperation(Operation):
    """C4-style corpus-wide boilerplate line removal as a flow op
    (functions/curation.py line_dedup): normalized non-blank lines
    occurring in more than ``max_docs`` distinct documents are
    stripped from every document; the text column is REPLACED by the
    rebuilt text."""

    id_column: Reads[str] = "doc_id"
    text_column: Reads[str] = "text"
    max_docs: AtLeastOne[int] = 1
    group_column: Reads[str | None] = None
    min_df: AtLeastOne[int | None] = None
    operation_type: str = "line_dedup"


@dataclass
class HtmlToTextOperation(Operation):
    """HTML → plain-text extraction as a flow op (functions/curation.py
    html_to_text): the text column is REPLACED by the extracted text
    (or written to ``output_column`` when set)."""

    input_column: Reads[str] = "text"
    operation_type: str = "html_to_text"


@dataclass
class ClassifierScoreOperation(Operation):
    """Hashed linear quality classifier as a flow op
    (functions/classifier.py): mode='annotate' appends n_tokens /
    score / clf_pass; mode='filter' keeps passing rows and drops the
    metric columns.  ``weights_path`` loads a trained weight artifact
    (JSON list or parquet (bucket, weight) rows — see
    save_classifier_weights) instead of the seeded stub table; ``dim``
    must match the artifact."""

    id_column: Reads[str] = "doc_id"
    text_column: Reads[str] = "text"
    dim: AtLeastOne[int] = 1024
    seed: int = 42
    bias: float = 0.0
    threshold: float = 0.0
    mode: GateMode = "annotate"
    weights_path: str | None = None
    operation_type: str = "classifier_score"


@dataclass
class ClassifierTrainOperation(Operation):
    """Deterministic distributed classifier TRAINING as a flow op
    (functions/classifier.py classifier_train): full-batch perceptron
    with integer per-bucket gradients and halving power-of-two steps
    over the CURRENT frame's ``label_column`` (+1/-1 integers, or a
    BOOLEAN such as a rule battery's pass flag, mapped true→+1 /
    false→-1 — the rule-distillation recipe), then scores the
    frame with the trained weights.  ``save_path`` (optional) persists
    the weight artifact (JSON list or parquet, by extension) for later
    ``classifier_score weights_path=`` serving.  mode='annotate'
    appends n_tokens / score / clf_pass; mode='filter' keeps passing
    rows."""

    id_column: Reads[str] = "doc_id"
    text_column: Reads[str] = "text"
    label_column: Required[Reads[str]] = ""  # +1/-1 or boolean
    dim: AtLeastOne[int] = 256
    iters: AtLeastOne[int] = 8
    lr_bits: int = 10
    bias: float = 0.0
    threshold: float = 0.0
    mode: GateMode = "annotate"
    save_path: str | None = None
    operation_type: str = "classifier_train"

    def check(self) -> None:
        if not 0 <= self.lr_bits <= 40 or self.lr_bits + self.iters > 52:
            raise SpecError(
                f"classifier_train needs lr_bits in [0, 40] and lr_bits + iters "
                f"<= 52, got lr_bits={self.lr_bits!r}, iters={self.iters!r}"
            )


@dataclass
class UrlNormalizeOperation(Operation):
    """URL normalization as a flow op (functions/web.py url_normalize):
    lowercase scheme/host, strip fragments, default ports, and tracking
    query params; appends ``output_column``."""

    url_column: Reads[str] = "url"
    output_column: str = "url_norm"
    operation_type: str = "url_normalize"


@dataclass
class DomainExtractOperation(Operation):
    """Domain + apex-domain extraction from a URL column
    (functions/web.py domain_extract)."""

    url_column: Reads[str] = "url"
    domain_column: str = "domain"
    apex_column: str = "apex_domain"
    operation_type: str = "domain_extract"


@dataclass
class DomainQuotaOperation(Operation):
    """Per-domain document cap (functions/web.py domain_quota): keep
    the top ``n_per_domain`` rows of each domain by ``order_column``
    (descending unless ``ascending``), ties broken by ``tie_column``
    ascending — the RefinedWeb/C4 crawl-balance gate."""

    domain_column: Reads[str] = "domain"
    # order and tie columns make the per-domain ranking deterministic
    order_column: Required[Reads[str]] = ""
    n_per_domain: AtLeastOne[int] = 100
    tie_column: Required[Reads[str]] = ""
    ascending: bool = False
    operation_type: str = "domain_quota"


@dataclass
class LmBucketsOperation(Operation):
    """CCNet-style per-language LM quality bucketing as a flow op
    (functions/text.py lm_quality_buckets): head/middle/tail by each
    language's own score quantiles."""

    id_column: Reads[str] = "doc_id"
    text_column: Reads[str] = "text"
    lang_column: Reads[str] = "lang"
    k: Positive[int] = 500
    operation_type: str = "lm_buckets"


@dataclass
class GapFillOperation(Operation):
    """Hourly gap fill + forward fill as a flow op
    (functions/timeseries.py gap_fill_hourly): REPLACES the frame with
    the dense per-key hourly grid (key, hour_idx, n_events, observed,
    filled_sum) — the resample-and-ffill stage of a metrics pipeline."""

    key_column: Required[Reads[str]] = ""
    ts_column: Reads[str] = "ts"
    value_column: Reads[str] = "value"
    max_span_hours: AtLeastOne[int] = 24 * 366
    operation_type: str = "gap_fill"


@dataclass
class BloomGateOperation(Operation):
    """Broadcast Bloom-filter membership gate as a flow op
    (functions/bloom.py): the CURRENT frame is the corpus, the
    benchmark/eval side resolves like bind's right side (named input
    key or file path) and packs into an m-bit bitmap served as a pure
    projection — the shuffle-free decontamination pre-filter.
    mode ∈ annotate (append ``bloom_hit`` 1/0) / filter (drop hits —
    conservative: deterministic false positives drop too)."""

    eval_path: Required[str] = ""  # input key or file path
    eval_schema_columns: dict[str, str] = field(default_factory=dict)
    text_column: Reads[str] = "text"
    eval_text_column: str = ""
    m: int = 1 << 16
    k: AtLeastOne[int] = 3
    mode: GateMode = "annotate"
    operation_type: str = "bloom_gate"

    def check(self) -> None:
        if self.m < 64 or self.m % 64:
            raise SpecError(f"bloom_gate m must be a positive multiple of 64, got {self.m!r}")


@dataclass
class HllDistinctOperation(Operation):
    """Deterministic HLL distinct estimate as a flow op
    (functions/sketch.py): REPLACES the frame with one row per group
    (group_columns, n_buckets_used, hll_est)."""

    key_column: Required[Reads[str]] = ""
    group_columns: Required[list[Reads[str]]] = field(default_factory=list)
    p: Annotated[int, Bound(4, 16)] = 8
    operation_type: str = "hll_distinct"


@dataclass
class QuantileSketchOperation(Operation):
    """Deterministic mergeable quantile estimates as a flow op
    (functions/quantile.py): REPLACES the frame with one row per
    (group, q) — ``group_columns, q, est``.  ``min_group_rows``
    (optional) engages the map-side hash prefilter; it is a
    caller-asserted LOWER BOUND on every group's non-null row count."""

    value_column: Required[Reads[str]] = ""
    id_column: Required[Reads[str]] = ""
    group_columns: Required[list[Reads[str]]] = field(default_factory=list)
    qs: Required[list[float]] = field(default_factory=lambda: [0.5])
    k: AtLeastOne[int] = 1024
    min_group_rows: int | None = None
    operation_type: str = "quantile_sketch"

    def check(self) -> None:
        from .functions.quantile import _q_parts

        for q in self.qs:
            # _q_parts is the single float↔rational authority (the same
            # conversion the Spark build and the oracle generator use);
            # any parse/range failure surfaces as SpecError like every
            # other field validation here.
            try:
                _q_parts(q)
            except (ValueError, TypeError, ZeroDivisionError) as exc:
                raise SpecError(
                    f"quantile_sketch qs must be numbers in (0, 1], got {q!r}"
                ) from exc
        if self.min_group_rows is not None and self.min_group_rows < self.k:
            raise SpecError(
                f"quantile_sketch min_group_rows ({self.min_group_rows!r}) must "
                f"be >= k ({self.k!r})"
            )


@dataclass
class SqlTransformOperation(Operation):
    """Ad-hoc Spark SQL over the CURRENT frame — the declarative
    escape hatch for anything the op vocabulary lacks: the frame is
    registered as the temp view named by ``view`` (default ``frame``),
    ``statement`` runs against it, and its result REPLACES the frame.
    Catalyst treats the statement like any other plan fragment
    (pushdown/pruning/codegen compose across the boundary).  The
    statement must be a single SELECT/WITH query — DDL/DML is
    rejected at parse time (a pipeline op must not mutate catalogs).

    ``views`` optionally exposes OTHER pipeline inputs to the
    statement: ``{view_name: input_key}`` registers each named input
    (resolved against the config's inputs dict, the union/bind
    side-resolve pattern) as an additional temp view for the
    statement's lifetime — so ad-hoc joins across declared inputs stay
    inside the declarative escape hatch."""

    statement: str = ""
    view: str = "frame"
    views: dict[str, str] = field(default_factory=dict)
    operation_type: str = "sql_transform"

    def check(self) -> None:
        if not self.statement or not self.statement.strip():
            raise SpecError("sql_transform requires a statement")
        for vname, key in self.views.items():
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", str(vname)):
                raise SpecError(
                    f"sql_transform views key must be a bare identifier, "
                    f"got {vname!r}"
                )
            if not key:
                raise SpecError(
                    f"sql_transform views[{vname!r}] must name an input key, "
                    f"got {key!r}"
                )
        if self.view in self.views:
            raise SpecError(
                f"sql_transform views may not reuse the frame view name "
                f"{self.view!r}"
            )
        # fast parse-time sanity check (comments stripped, leading
        # parens allowed); the AUTHORITATIVE DML/DDL guard walks the
        # parsed logical plan at apply time — a leading-keyword test
        # alone is bypassable (WITH x AS (...) INSERT INTO ...)
        body = re.sub(r"/\*.*?\*/", " ", self.statement, flags=re.S)
        body = re.sub(r"--[^\n]*", " ", body)
        if not re.match(r"\s*\(*\s*(SELECT|WITH)\b", body, flags=re.I):
            raise SpecError(
                "sql_transform statement must be a single SELECT/WITH query"
            )
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", self.view):
            raise SpecError(
                f"sql_transform view must be a bare identifier, got {self.view!r}"
            )


@dataclass
class ExpectationsOperation(Operation):
    """Row-level data-quality expectations as a flow op
    (functions/expectations.py).  Rules support per-column checks
    (not_null/min/max/in_set/regex/unique), cross-column ``expr``
    checks (a named boolean expression in the shared Spark/DuckDB SQL
    subset), and per-rule ``severity`` (``fail`` default; ``warn``
    rules are counted/flagged but never quarantine or enforce).
    ``mode``:
    - ``summary`` (default): REPLACES the frame with one row per rule
      (``rule, severity, n_rows, n_violations, violation_rate``);
    - ``annotate``: adds per-rule ``ok_<column>_<check>`` booleans and
      the conjunctive ``expect_pass`` (per-row rules only);
    - ``filter``: keeps only rows passing every per-row rule;
    - ``enforce``: frame passes through with an ``expect_checked``
      guard column; materialization FAILS loudly on the first
      violating row (the strict-cast contract)."""

    rules: list[dict] = field(default_factory=list)
    mode: Literal["summary", "annotate", "filter", "enforce"] = "summary"
    operation_type: str = "expectations"

    def check(self) -> None:
        from .functions.expectations import AGG_CHECKS, validate_rules

        try:
            validate_rules(self.rules)
        except ValueError as exc:
            raise SpecError(str(exc)) from exc
        if self.mode != "summary":
            aggish = [
                f"{r['column']}:{r['check']}"
                for r in self.rules
                if isinstance(r, dict) and r.get("check") in AGG_CHECKS
            ]
            if aggish:
                raise SpecError(
                    f"expectations mode={self.mode!r} needs per-row rules only; "
                    f"aggregate-shaped rules {aggish} work in mode='summary'"
                )


@dataclass
class TimeWeightedAvgOperation(Operation):
    """Time-weighted average per key as a flow op
    (functions/timeseries.py time_weighted_avg): REPLACES the frame
    with one row per key that has >= 2 observations — ``key,
    n_segments, total_ms, twa`` (each value held until the key's next
    observation; duration-weighted mean)."""

    key_column: Required[Reads[str]] = ""
    ts_column: Reads[str] = "ts"
    value_column: Reads[str] = "value"
    id_column: Required[Reads[str]] = ""
    q_bits: Annotated[int, Bound(0, 30)] = 16
    operation_type: str = "time_weighted_avg"


@dataclass
class RollupOperation(Operation):
    """Continuous-aggregate rollup as a flow op (functions/rollup.py):
    REPLACES the frame with one row per (group, time bucket) —
    ``group_columns..., bucket_idx, n_rows, n_vals, sum_q, sum_v,
    avg_v, min_v, max_v``.  ``grain`` is the bucket width in seconds
    (3600 = hour); ``coarsen_factor`` re-buckets the built partials by
    FLOOR(bucket/factor) before serving (hour partials → day serve)."""

    ts_column: Required[Reads[str]] = ""
    value_column: Required[Reads[str]] = ""
    group_columns: Required[list[Reads[str]]] = field(default_factory=list)
    grain: AtLeastOne[int] = 3600
    coarsen_factor: AtLeastOne[int | None] = None
    q_bits: Annotated[int, Bound(0, 40)] = 20
    operation_type: str = "rollup_aggregate"


@dataclass
class HeavyHittersOperation(Operation):
    """Exact heavy hitters behind the lossless CMS prefilter as a flow
    op (functions/cms.py cms_heavy_hitters): REPLACES the frame with
    one row per group whose row count reaches ``threshold`` —
    ``group_columns..., <count_column>``."""

    group_columns: Required[list[Reads[str]]] = field(default_factory=list)
    threshold: AtLeastOne[int] = 0
    w: Annotated[int, Bound(2)] = 256
    d: AtLeastOne[int] = 3
    count_column: str = "cnt"
    operation_type: str = "heavy_hitters"

    def check(self) -> None:
        if self.w * self.d > 8192:
            raise SpecError(
                f"heavy_hitters w*d must be <= 8192 (plan-literal table), got "
                f"{self.w * self.d}"
            )


@dataclass
class ClassifierEvalOperation(Operation):
    """Threshold-sweep gate evaluation as a flow op
    (functions/classifier.py classifier_eval): REPLACES the frame
    (which must already carry a score column and a boolean label
    column) with one row per candidate threshold — confusion counts
    plus accuracy/precision/recall/F1."""

    label_column: Required[Reads[str]] = ""
    score_column: Reads[str] = "score"
    thresholds: Required[list[float]] = field(default_factory=lambda: [0.0])
    operation_type: str = "classifier_eval"

    def check(self) -> None:
        if len(set(self.thresholds)) != len(self.thresholds):
            raise SpecError(
                f"classifier_eval thresholds must be distinct: {self.thresholds!r}"
            )


@dataclass
class CmsCountsOperation(Operation):
    """Count-min frequency estimates as a flow op (functions/cms.py):
    builds the d·w counter table over the CURRENT frame's key column
    and REPLACES the frame with (key, est_count) for the probe side —
    a named input key or file path, like bind's right side.  An empty
    probe_path probes the frame's own distinct keys."""

    key_column: Required[Reads[str]] = ""
    probe_path: str = ""
    probe_schema_columns: dict[str, str] = field(default_factory=dict)
    probe_key_column: str = ""
    w: Annotated[int, Bound(2)] = 1024
    d: AtLeastOne[int] = 3
    operation_type: str = "cms_counts"

    def check(self) -> None:
        if not self.probe_path and (self.probe_key_column or self.probe_schema_columns):
            raise SpecError(
                "cms_counts: probe_key_column/probe_schema_columns are only "
                "meaningful with probe_path (the self-probe default uses "
                "key_column)"
            )


@dataclass
class OhlcOperation(Operation):
    """Per-key OHLC candlestick bars as a flow op
    (functions/timeseries.py ohlc_bars): REPLACES the frame with one
    row per (key, time bucket) — ``key, bucket, open, high, low,
    close, n_obs``."""

    key_column: Required[Reads[str]] = ""
    ts_column: Reads[str] = "ts"
    value_column: Reads[str] = "value"
    bucket_seconds: AtLeastOne[int] = 3600
    operation_type: str = "ohlc"


@dataclass
class EwmaOperation(Operation):
    """Per-key bounded-lookback EWMA smoothing as a flow op
    (functions/timeseries.py ewma_smooth): REPLACES the frame with
    ``key, <id_column>, value, ewma`` ordered (key, ts, id)."""

    key_column: Required[Reads[str]] = ""
    ts_column: Reads[str] = "ts"
    id_column: Required[Reads[str]] = ""
    value_column: Reads[str] = "value"
    alpha_num: int = 1
    alpha_den: int = 4
    lookback: AtLeastOne[int] = 64
    operation_type: str = "ewma"

    def check(self) -> None:
        if not (0 < self.alpha_num < self.alpha_den):
            raise SpecError(
                f"ewma needs 0 < alpha_num < alpha_den, got "
                f"{self.alpha_num!r}/{self.alpha_den!r}"
            )


@dataclass
class RollingMedianOperation(Operation):
    """Per-key rolling lower-median smoothing as a flow op
    (functions/timeseries.py rolling_median): REPLACES the frame with
    ``key, <id_column>, value, med`` ordered (key, ts, id)."""

    key_column: Required[Reads[str]] = ""
    ts_column: Reads[str] = "ts"
    id_column: Required[Reads[str]] = ""
    value_column: Reads[str] = "value"
    window_rows: AtLeastOne[int] = 5
    operation_type: str = "rolling_median"


@dataclass
class ChangepointOperation(Operation):
    """Per-key CUSUM changepoint audit as a flow op
    (functions/timeseries.py changepoint_cusum): REPLACES the frame
    with one row per key — ``key, change_day, cusum_scaled, strength,
    n_days, total``."""

    key_column: Required[Reads[str]] = ""
    ts_column: Reads[str] = "ts"
    operation_type: str = "changepoint"


@dataclass
class AssociationRulesOperation(Operation):
    """Directed association rules as a flow op (functions/mining.py
    association_rules): REPLACES the frame with the top-``k`` rules —
    ``antecedent, consequent, n_pair, n_ante, n_cons, support,
    confidence, lift``."""

    basket_column: Required[Reads[str]] = ""
    item_column: Required[Reads[str]] = ""
    min_count: AtLeastOne[int] = 2
    k: AtLeastOne[int] = 100
    operation_type: str = "association_rules"


@dataclass
class MarkovOperation(Operation):
    """First-order Markov transition matrix as a flow op
    (functions/mining.py markov_transitions): REPLACES the frame with
    ``src, dst, n_trans, n_src, prob``."""

    seq_column: Required[Reads[str]] = ""
    order_column: Reads[str] = "ts"
    tiebreak_column: Required[Reads[str]] = ""
    state_column: Required[Reads[str]] = ""
    operation_type: str = "markov"


@dataclass
class SkylineOperation(Operation):
    """2-D skyline (Pareto frontier, maximizing both axes) as a flow
    op (functions/mining.py skyline2d): REPLACES the frame with the
    frontier rows ``id, x, y``.  The X axis must be an INTEGRAL
    column (the unit-step RANGE frame — skyline2d refuses fractional
    x loudly); y carries no frame and may be any orderable type."""

    id_column: Required[Reads[str]] = ""
    x_column: Required[Reads[str]] = ""
    y_column: Required[Reads[str]] = ""
    prune_buckets: AtLeastOne[int] = 32
    operation_type: str = "skyline"


@dataclass
class KAnonymityOperation(Operation):
    """k-anonymity screen as a flow op (functions/integrity.py
    k_anonymity): REPLACES the frame with the quasi-identifier
    combinations whose group size is below ``k`` (quasi columns +
    ``group_size``) — the cells a privacy release must suppress."""

    quasi_columns: Required[list[Reads[str]]] = field(default_factory=list)
    k: AtLeastOne[int] = 0
    operation_type: str = "k_anonymity"


@dataclass
class BenfordOperation(Operation):
    """Benford first-digit audit as a flow op (functions/integrity.py
    benford_audit): REPLACES the frame with one row per digit 1..9
    (``digit, obs, obs_frac, expected_frac, chi2_term``).  The column
    must be INTEGER-valued (cast monetary doubles to exact cents
    upstream with arithmetic + casting ops)."""

    input_column: Required[Reads[str]] = ""
    operation_type: str = "benford"


@dataclass
class MediaFeaturesOperation(Operation):
    """Media featurization as a flow op (functions/multimodal.py
    extract_image_features / extract_audio_features): opaque binary
    payloads → fixed-dim feature rows in one Arrow mapInPandas stage.
    REPLACES the frame with the feature table (image: ``media_id,
    mime, n_bytes, n_pixels, feature``; audio: ``media_id, mime,
    n_bytes, n_samples, duration_ms, feature``).  Pair with a
    ``binary``-format input (sources/io.py binaryFile scan) to run a
    directory-of-media-files corpus through the YAML surface.

    Decode runs the built-in BMP/PNM/PNG/JPEG codecs (audio: RIFF/WAVE
    PCM); a payload in any other format is undecodable and yields the
    zero vector.  ``strict=True`` fails loudly on an undecodable
    NON-EMPTY payload instead — the trusted-format-corpus setting."""

    modality: Literal["image", "audio"] = "image"
    payload_column: Required[Reads[str]] = "payload"
    id_column: Required[Reads[str]] = "media_id"
    mime_column: Required[Reads[str]] = "mime"
    dim: AtLeastOne[int] = 16
    strict: bool = False
    operation_type: str = "media_features"


@dataclass
class AnnStoreBuildOperation(Operation):
    """BUILD a persisted ANN index from the current frame as a flow op
    (functions/similarity.py build_ann_store / functions/pq.py
    build_pq_store): the CURRENT frame is the corpus; ``store_path``
    receives the parquet store (centroids + meta + cid-partitioned
    inverted lists; ``kind='pq'`` adds codebooks + a refine layer).
    REPLACES the frame with the build manifest — one row per inverted
    list, ``(cid, n_vectors)`` ordered by cid — read back from the
    written store, so the sink records what actually landed on disk.
    Rebuilding from the same corpus reproduces the same index
    bit-for-bit (hash-sampled integer Lloyd's)."""

    store_path: Required[str] = ""
    id_column: Required[Reads[str]] = "vec_id"
    vector_column: Required[Reads[str]] = "embedding"
    kind: Literal["ivf", "pq"] = "ivf"
    n_centroids: AtLeastOne[int] = 16
    iters: AtLeastOne[int] = 2
    sample_size: AtLeastOne[int] = 2048
    scale_bits: AtLeastOne[int] = 20
    m: int = 8
    k_codes: int = 16
    operation_type: str = "ann_store_build"

    def check(self) -> None:
        if self.kind == "pq":
            # m=0 would divide the vector into no subspaces (ZeroDivision
            # deep in the codebook fit); k_codes<2 fits a degenerate
            # single-word codebook that quantizes everything to one point
            if self.m < 1:
                raise SpecError(f"ann_store_build m must be >= 1, got {self.m!r}")
            if self.k_codes < 2:
                raise SpecError(
                    f"ann_store_build k_codes must be >= 2, got {self.k_codes!r}"
                )


@dataclass
class AnnStoreAppendOperation(Operation):
    """Incrementally ADD the current frame to a persisted ANN store as
    a flow op (functions/similarity.py append_to_ann_store): each
    vector is assigned to its nearest EXISTING centroid (the coarse
    quantizer is immutable after build) and appended into that cid's
    list directory — O(|batch|) regardless of index size; the existing
    lists are never read or rewritten.  IVF-PQ stores are refused (the
    shared header gate — their lists hold codes).  At-most-once:
    appending the same batch twice duplicates rows.  REPLACES the
    frame with the store manifest ``(cid, n_vectors)`` AFTER the
    append — the same read-back shape as ann_store_build."""

    store_path: Required[str] = ""
    id_column: Required[Reads[str]] = "vec_id"
    vector_column: Required[Reads[str]] = "embedding"
    operation_type: str = "ann_store_append"


@dataclass
class AnnStoreQueryOperation(Operation):
    """SERVE a query batch against a persisted ANN store as a flow op
    (functions/similarity.py ann_from_store / functions/pq.py
    ann_pq_from_store — the store kind is auto-detected from its meta
    table, so one op serves both layouts): the CURRENT frame is the
    query batch; only the ``nprobe`` probed inverted-list DIRECTORIES
    are read (partition pruning).  REPLACES the frame with
    ``(query_id, neighbor_id, rank, cosine)`` — exact cosine of every
    emitted neighbor, self-matches excluded.  ``refine_factor`` only
    applies to PQ stores (exact re-rank width)."""

    store_path: Required[str] = ""
    id_column: Required[Reads[str]] = "vec_id"
    vector_column: Required[Reads[str]] = "embedding"
    k: AtLeastOne[int] = 10
    nprobe: AtLeastOne[int] = 4
    refine_factor: AtLeastOne[int] = 4
    scale_bits: AtLeastOne[int] = 20
    operation_type: str = "ann_store_query"


@dataclass
class FkCheckOperation(Operation):
    """Foreign-key orphan audit as a flow op (functions/integrity.py
    fk_orphans): the CURRENT frame is the CHILD; the parent resolves
    like bind's right side (named input or file path).  REPLACES the
    frame with the 1-row audit (``relationship, child_rows, null_keys,
    orphan_rows, orphan_keys``)."""

    child_key: Required[Reads[str]] = ""
    parent_path: Required[str] = ""
    parent_key: Required[str] = ""
    parent_schema_columns: dict[str, str] = field(default_factory=dict)
    name: str = ""
    operation_type: str = "fk_check"

    def check(self) -> None:
        if not self.name:
            self.name = f"{self.child_key}->{self.parent_key}"


@dataclass
class SeasonalBaselineOperation(Operation):
    """Day-of-week seasonal profile as a flow op
    (functions/timeseries.py seasonal_baseline): REPLACES the frame
    with one row per (key, dow): ``key, dow, n_events, mean_value,
    lift``."""

    key_column: Required[Reads[str]] = ""
    ts_column: Reads[str] = "ts"
    value_column: Reads[str] = "value"
    operation_type: str = "seasonal_baseline"


@dataclass
class AutocorrOperation(Operation):
    """Daily-count autocorrelation as a flow op
    (functions/timeseries.py autocorr_lags): REPLACES the frame with
    one row per lag 1..max_lag: ``lag, n_pairs, autocorr``."""

    ts_column: Reads[str] = "ts"
    max_lag: AtLeastOne[int] = 7
    operation_type: str = "autocorr"


@dataclass
class ItemSimilarityOperation(Operation):
    """Item–item cosine similarity as a flow op (functions/mining.py
    item_similarity): REPLACES the frame with one row per co-occurring
    item pair: ``item_a, item_b, users_both, cosine``."""

    user_column: Required[Reads[str]] = ""
    item_column: Required[Reads[str]] = ""
    operation_type: str = "item_similarity"


@dataclass
class LinkPredictionOperation(Operation):
    """Common-neighbor link prediction as a flow op
    (functions/graph.py link_prediction): REPLACES the frame with the
    top-k item pairs by Jaccard of their group sets: ``item_a, item_b,
    co_groups, jaccard``."""

    group_column: Required[Reads[str]] = ""
    item_column: Required[Reads[str]] = ""
    k: AtLeastOne[int] = 100
    operation_type: str = "link_prediction"


@dataclass
class AbTestOperation(Operation):
    """Welch two-sample z-test as a flow op (functions/stats.py
    welch_z_test): REPLACES the frame with the 1-row readout
    ``n_a, mean_a, var_a, n_b, mean_b, var_b, z_score``."""

    cohort_column: Required[Reads[str]] = ""
    cohort_a: Required[str] = ""
    cohort_b: Required[str] = ""
    value_column: Reads[str] = "value"
    operation_type: str = "ab_test"

    def check(self) -> None:
        if self.cohort_a == self.cohort_b:
            raise SpecError("ab_test cohorts must differ")


@dataclass
class KsTestOperation(Operation):
    """Two-sample Kolmogorov–Smirnov test as a flow op
    (functions/stats.py ks_two_sample): REPLACES the frame with the
    1-row readout ``n_a, n_b, ks_d, ks_stat``."""

    cohort_column: Required[Reads[str]] = ""
    cohort_a: Required[str] = ""
    cohort_b: Required[str] = ""
    value_column: Reads[str] = "value"
    operation_type: str = "ks_test"

    def check(self) -> None:
        if self.cohort_a == self.cohort_b:
            raise SpecError("ks_test cohorts must differ")


def _operation_types() -> dict[str, type[Operation]]:
    """Every spec class keyed by its own ``operation_type`` default."""
    found: dict[str, type[Operation]] = {}
    for cls in Operation.__subclasses__():
        name = cls.__dataclass_fields__["operation_type"].default  # type: ignore[attr-defined]
        if not name or name in found:
            raise TypeError(f"{cls.__name__}: operation_type {name!r} is empty or taken")
        found[name] = cls
    return found


OPERATION_TYPES: dict[str, type[Operation]] = _operation_types()


@functools.cache
def _field_types(cls: type[Operation]) -> dict[str, Any]:
    return typing.get_type_hints(cls, include_extras=True)


@functools.cache
def _input_fields(cls: type[Operation]) -> tuple[str, ...]:
    """The fields marked ``InputColumn``, on the field itself or on its
    list elements or dict values."""

    def marked(tp: Any) -> bool:
        return typing.get_origin(tp) is Annotated and any(
            isinstance(m, InputColumn) for m in tp.__metadata__
        )

    found = []
    for name, tp in _field_types(cls).items():
        bare = typing.get_args(tp)[0] if typing.get_origin(tp) is Annotated else tp
        nested = typing.get_origin(bare) in (list, dict) and marked(typing.get_args(bare)[-1])
        if marked(tp) or nested:
            found.append(name)
    return tuple(found)


def columns_read(op: Operation) -> list[str]:
    """The columns an op reads from its current frame: the non-empty
    values of its ``InputColumn`` fields, in field order."""
    cols: list[str] = []
    for name in _input_fields(type(op)):
        value = getattr(op, name)
        if isinstance(value, dict):
            value = list(value.values())
        elif not isinstance(value, list):
            value = [value]
        cols += [c for c in value if c]
    return cols


def _conforms(value: Any, tp: Any) -> bool:
    """Does a value fit a spec field annotation's type?  An int fits
    ``float``; a bool fits neither ``int`` nor ``float``; a ``Literal``
    takes its values' type (membership is a bound, see ``_breach``)."""
    if tp is Any:
        return True
    origin, args = typing.get_origin(tp), typing.get_args(tp)
    if origin is Annotated:
        return _conforms(value, args[0])
    if origin is Literal:
        return isinstance(value, type(args[0]))
    if origin is types.UnionType:
        return any(_conforms(value, t) for t in args)
    if origin is list:
        return isinstance(value, list) and all(_conforms(v, args[0]) for v in value)
    if origin is dict:
        return isinstance(value, dict) and all(
            _conforms(k, args[0]) and _conforms(v, args[1]) for k, v in value.items()
        )
    if tp in (int, float):
        return isinstance(value, (int, tp)) and not isinstance(value, bool)
    return isinstance(value, tp)


def _breach(op: str, name: str, value: Any, tp: Any) -> str | None:
    """The message for the first declared bound a well-typed value
    breaks, or None."""
    origin, args = typing.get_origin(tp), typing.get_args(tp)
    if origin is Annotated:
        for mark in tp.__metadata__:
            breach = mark.breach(op, name, value)
            if breach:
                return breach
        return _breach(op, name, value, args[0])
    if origin is Literal and value not in args:
        return f"{op} {name} must be one of {', '.join(map(repr, args))}, got {value!r}"
    if origin in (list, dict):
        for item in value.values() if origin is dict else value:
            breach = _breach(op, name, item, args[-1])
            if breach:
                return breach
    return None


def _type_name(tp: Any) -> str:
    """An annotation as a message names it: markers dropped, a
    ``Literal`` named by its values' type."""
    origin, args = typing.get_origin(tp), typing.get_args(tp)
    if origin is Annotated:
        return _type_name(args[0])
    if origin is Literal:
        return type(args[0]).__name__
    if origin is types.UnionType:
        return " | ".join(map(_type_name, args))
    if origin in (list, dict):
        return f"{origin.__name__}[{', '.join(map(_type_name, args))}]"
    if tp is type(None):
        return "None"
    return tp.__name__ if isinstance(tp, type) else str(tp).replace("typing.", "")


def parse_operation(raw: dict[str, Any]) -> Operation:
    """Parse one raw op dict via the ``operation_type`` discriminator
    (reference: discriminated union at app/models.py:122-137)."""
    if not isinstance(raw, dict) or "operation_type" not in raw:
        raise SpecError(f"operation spec must be a dict with operation_type, got {raw!r}")
    op_type = raw["operation_type"]
    cls = OPERATION_TYPES.get(op_type)
    if cls is None:
        raise SpecError(
            f"Unknown operation_type {op_type!r}. Known: {sorted(OPERATION_TYPES)}"
        )
    hints = _field_types(cls)
    # Unknown keys fail LOUDLY (deliberate deviation from the
    # reference's lenient pydantic parsing): a silently-dropped key
    # means a typo'd or unsupported knob reverts to its default and
    # the pipeline runs with the WRONG semantics — caught in the wild
    # when a gopher_rules threshold was ignored and a trained gate
    # learned the degenerate all-pass label.  The message is
    # LLM-feedback-grade: it names the field and the valid set.
    unknown = sorted(set(raw) - set(hints))
    if unknown:
        raise SpecError(
            f"Unknown field(s) {unknown} for operation_type {op_type!r}. "
            f"Valid fields: {sorted(set(hints) - {'operation_type'})}"
        )
    try:
        return cls(**raw)
    except TypeError as exc:
        raise SpecError(f"Invalid spec for {op_type}: {exc}") from exc


# ---------------------------------------------------------------------------
# File / pipeline model (reference: app/models.py:21-35,141-149)
# ---------------------------------------------------------------------------


@dataclass
class ColumnDefinition:
    type: str
    description: str | None = None


@dataclass
class FileSchema:
    name: str
    columns: dict[str, ColumnDefinition]

    def logical_types(self) -> dict[str, str]:
        return {name: cd.type for name, cd in self.columns.items()}


@dataclass
class FileDefinition:
    path: str
    file_schema: FileSchema
    format: str = "csv"

    def __post_init__(self) -> None:
        # text/binary are INPUT-only formats (raw corpus lines, opaque
        # media payloads); save_data rejects them at write time.
        if self.format not in ("csv", "json", "parquet", "orc", "text", "binary"):
            raise SpecError(
                f"format must be csv/json/parquet/orc/text/binary, got {self.format!r}"
            )


@dataclass
class PipelineConfig:
    inputs: dict[str, FileDefinition]
    outputs: dict[str, FileDefinition]

    def __post_init__(self) -> None:
        if not self.inputs or not self.outputs:
            raise SpecError(
                "pipeline config needs at least one input and one output "
                "(reference: app/main.py:348-351)"
            )


@dataclass
class PipelineFlow:
    """The flat op-list IR (reference: app/models.py:146-149)."""

    source: str
    operations: list[Operation]


def _parse_file_definition(raw: dict[str, Any]) -> FileDefinition:
    schema_raw = raw.get("file_schema", {})
    # Any key other than name/columns is almost always the FLAT
    # {col: type} mis-nesting (the schema belongs under 'columns');
    # silently parsing it as zero columns turns every downstream op
    # into "input column not found" far from the real mistake — the
    # parse_operation unknown-key lesson, applied to the config side.
    # A name-only schema (columns legitimately empty) stays valid.
    stray = sorted(set(schema_raw) - {"name", "columns"})
    if stray:
        raise SpecError(
            f"file_schema for path {raw.get('path')!r} has unknown key(s) "
            f"{stray} — column declarations belong under 'columns': "
            "file_schema: {name: ..., columns: {col: {type: ...}, ...}}"
        )
    cols = {
        name: ColumnDefinition(
            type=cd["type"] if isinstance(cd, dict) else str(cd),
            description=(cd.get("description") if isinstance(cd, dict) else None),
        )
        for name, cd in schema_raw.get("columns", {}).items()
    }
    return FileDefinition(
        path=raw["path"],
        format=raw.get("format", "csv"),
        file_schema=FileSchema(name=schema_raw.get("name", ""), columns=cols),
    )


def load_pipeline_config(path: str) -> PipelineConfig:
    """YAML → PipelineConfig (reference: app/main.py:337-358)."""
    with open(path) as f:
        raw = yaml.safe_load(f)
    return PipelineConfig(
        inputs={k: _parse_file_definition(v) for k, v in raw.get("inputs", {}).items()},
        outputs={k: _parse_file_definition(v) for k, v in raw.get("outputs", {}).items()},
    )


def load_pipeline_flow(path: str) -> PipelineFlow:
    """YAML → PipelineFlow (reference: app/main.py:483-499)."""
    with open(path) as f:
        raw = yaml.safe_load(f)
    return PipelineFlow(
        source=raw["source"],
        operations=[parse_operation(op) for op in raw.get("operations", [])],
    )


def save_pipeline_flow(flow: PipelineFlow, path: str) -> None:
    """PipelineFlow → YAML (reference: app/main.py:502-513)."""
    ops = []
    for op in flow.operations:
        d = {k: v for k, v in op.__dict__.items() if v is not None}
        d["operation_type"] = op.operation_type
        ops.append(d)
    with open(path, "w") as f:
        yaml.safe_dump({"source": flow.source, "operations": ops}, f, sort_keys=False)
