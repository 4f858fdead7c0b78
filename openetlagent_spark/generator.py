"""LLM-assisted pipeline generation — the reference's entry path C
(app/main.py:85-283) re-built for this engine with the LLM itself kept
EXTERNAL (BASELINE.json north star: "LLM agent orchestration ... are
external"): the caller supplies ``complete: Callable[[str], str]`` and
this module supplies everything around it —

1. source selection: prompt with all input schemas + the target schema,
   answer validated against the input keys with bounded retries
   (reference: app/main.py:97-132);
2. the iterative step loop (≤ MAX_STEPS): each prompt carries the LIVE
   schema, a 3-row sample, the op history, the target schema, and any
   failure feedback (reference: app/main.py:135-283, prompt content at
   app/instruct_prompt.py:356-453 — ours is written fresh for this
   engine's op set);
3. YAML extraction + spec validation through the engine's discriminated
   op parser (reference regex+model_validate: app/main.py:175-245);
4. TRIAL EXECUTION of each candidate op: the op is appended to the lazy
   chain and probed with schema analysis + limit(3) — the lazy analogue
   of the reference's clone-and-run (app/main.py:255); errors become
   feedback and the step retries (≤ MAX_ATTEMPTS);
5. termination on ``operation_type: done`` → output-schema validation;
   mismatch feeds back into the loop (reference: app/main.py:207-216).

Tests drive this with scripted fake completions; production callers pass
a closure over whatever LLM client they use.
"""

from __future__ import annotations

import logging
import re
from collections.abc import Callable
from dataclasses import dataclass

import yaml
from pyspark.sql import DataFrame, SparkSession

from .model import (
    FileDefinition,
    Operation,
    PipelineConfig,
    PipelineFlow,
    SpecError,
    parse_operation,
)
from .runner import apply_operations, probe
from .sources import scan_data
from .validate import validate_schema

logger = logging.getLogger(__name__)

MAX_STEPS = 35          # reference: app/main.py:82
MAX_ATTEMPTS_PER_STEP = 6  # reference: app/main.py:83

# Operation DSL documentation written for THIS engine (parity ops plus
# extensions) — deliberately not the reference's prompt text.
OPERATION_DOCS = """
Each step is ONE operation as a YAML list with a single element.
Available operation_type values and their fields:

- equality: copy a column. {input_column, output_column}
- concatenation: join columns as strings (null if any input is null).
  {input_columns: [..], separator, output_column}
- application: python lambda over named columns, e.g.
  "lambda r: r['price'].replace('$','')".
  {input_columns, function_str, return_type (string/integer/float/boolean), output_column}
- switching: CASE on a column's value -> copy from mapped SOURCE COLUMNS.
  {switch_column, mapping: {value: source_column}, default_column OR default_value, output_column}
- assignation: constant column. {value, output_column}
- casting: cast to string/integer/float/boolean/date (dates are ISO yyyy-MM-dd).
  {input_column, target_type, output_column}
- arithmetic: + - * / between exactly two columns. {input_columns: [a, b], operator, output_column}
- comparison: compare column to literal -> boolean column (rows are NOT removed).
  {input_column, operator (== != > < >= <=), value, output_column}
- bind: join another input by key. {right_file_path: input_key, left_on, right_on,
  how (left/inner/outer/cross), columns_to_add: [..]}
- fold: wide->long unpivot. {id_columns, value_columns, key_column_name, value_column_name, output_column omitted}
- unfold: long->wide pivot, first value wins. {index_columns, key_column, value_column, order_column}
- filter: keep rows matching a predicate. {input_column, operator, value}
- aggregation: group-by aggregate. {group_by: [..], aggregations: {out_name: {column, agg}}}
- sort / limit / distinct / window / repartition: see engine docs.
- sample: {fraction, seed, key_column} — key_column set = deterministic
  engine-stable hash sample; unset = Bernoulli.
- dedup: remove duplicate/near-duplicate rows. {strategy (exact/minhash/
  simhash/ngram/embedding/substring/fuzzy), mode (drop/pairs/components/
  cluster_drop/keep_best — cluster_drop keeps ONE row per transitive
  duplicate cluster, keep_best keeps the highest-score_column row per
  cluster), keys+order_column for exact, id_column+text_column (or
  vector_column) + threshold for the rest, score_column for keep_best}
- contamination: benchmark-overlap check. {benchmark_path: input_key,
  id_column, text_column, mode (annotate/filter), rate_threshold;
  strategy: near for paraphrase-level MinHash matching + jaccard_threshold}
- pack_sequences: concat-and-chunk packing layout. {id_column, text_column,
  context_length} — adds n_tokens/start_offset/chunk_id/n_chunks
- scrub: redact a string column with ordered regex rules. {input_column,
  output_column?, rules: [[pattern, replacement], ...]} — empty rules =
  default PII set (emails/URLs/IPs/digit runs)
- repetition: intra-document repetition quality signals. {input_column,
  ns: [2, 3]} — adds dup_{n}gram_frac (duplicate word-n-gram fraction)
  per n, the repetitious-text screen for pretraining corpora
- mixture: deterministic per-group up/down-sampling (domain re-weighting).
  {group_column, key_column, weights: {group: weight}, default_weight,
  copy_column} — weight 0 drops the group, 2.5 = two copies of every row
  plus a hash-chosen half a third time
- asof_join: latest-right-row-at-or-before join. {right_file_path: input_key,
  left_on, right_on, left_time, right_time, value_columns, direction,
  tolerance (seconds; staler matches revert to NULL)}
- range_join: time-proximity join. {kind: tolerance (self pairs: key,
  time_column, id_column, tolerance) or interval (right_file_path, left_on,
  right_on, time_column, start_column, end_column, value_columns)}
- similarity: top-k nearest vectors. {method (brute/lsh/ivf),
  queries_path: input_key, id_column, vector_column, k}
- keyword_search: ranked keyword retrieval (rational-idf BM25 top-k).
  {query_terms: [..], id_column, text_column, k}
- inverted_index: term -> df/tf_total/posting-list string. {id_column,
  text_column, max_df (0 = no hot-term posting cap)}
- vocab_oov: per-doc out-of-vocabulary rate vs the corpus top-k
  vocabulary. {id_column, text_column, top_k}
- kmeans: deterministic embedding clustering. {mode (assign/sample),
  id_column, vector_column, k, iters, per_cluster (sample mode)}
- incremental_dedup: flag/drop batch rows already in a corpus by
  normalized-text fingerprint. {corpus_path: input_key, id_column,
  text_column, mode (annotate/filter); strategy: near for paraphrase-
  level MinHash admission + jaccard_threshold}
- merge: apply a CDC change feed (latest-seq wins). {right_file_path: input_key,
  keys: [..], op_column, delete_value, seq_column}
- scd2: collapse a history into validity intervals. {keys, ts_column,
  attr_columns, order_column} — adds valid_from/valid_to/is_current
- stratified_sample: exact k rows per group by md5 rank. {group_columns,
  key_column, k, rank_column?}
- chunk: overlapping token windows (RAG layout). {id_column, text_column,
  chunk_size, overlap}
- fuzzy_pairs: blocked Levenshtein near-match pairs. {id_column,
  string_column, max_dist, prefix_chars}
- tfidf: per-doc top-k TF-IDF keywords. {id_column, text_column, k}
- bigram_lm: corpus bigram-LM top-k transitions. {text_column, k}
- doc_lm_score: per-doc mean LM transition probability + OOV count
  (CCNet-style LM quality filter). {id_column, text_column, k}
- global_shuffle: deterministic training-order permutation — adds
  shuffle_key + exact global position. {key_column, seed}
- quantile_filter: keep rows at/above their group's q-quantile of a
  value (relative quality gate). {group_columns, value_column, q,
  threshold_column?}
- bpe_train: learn a BPE merge table from the corpus (k rounds over the
  word-frequency vocab). {text_column, n_merges}
- bpe_encode: apply a merge table, adds n_chars_tok/n_bpe_tokens.
  {id_column, text_column, merges: [[left, right], ...]}
- split_assign: deterministic md5-bucket dataset split, stable as data
  grows. {key_column, splits: {train: 80, val: 10, test: 10},
  output_column}
- profile: per-column stats table (rows/nulls/distincts/min/max).
  {columns: [..] (empty = all), approx}
- histogram: fixed-width value histogram. {input_column, bins, lo, hi
  (omit bounds to derive from min/max)}
- outliers: z-score outlier flags (adds zscore, is_outlier).
  {input_column, z_threshold, group_columns: [..] for per-stratum}

Name temporary working columns with leading AND trailing underscores
(e.g. _clean_price_) — they are dropped automatically at the end.
When done and the schema matches the target, emit:
```yaml
- operation_type: done
```
"""


@dataclass
class GenerationResult:
    flow: PipelineFlow | None
    success: bool
    steps_taken: int
    transcript: list[str]


def _schemas_block(inputs: dict[str, FileDefinition]) -> str:
    parts = []
    for key, fd in inputs.items():
        cols = {name: cd.type for name, cd in fd.file_schema.columns.items()}
        parts.append(f"input '{key}': {cols}")
    return "\n".join(parts)


def build_source_prompt(config: PipelineConfig, output_key: str) -> str:
    out_cols = {n: c.type for n, c in config.outputs[output_key].file_schema.columns.items()}
    return (
        "You are generating an ETL pipeline.\n"
        f"Available inputs:\n{_schemas_block(config.inputs)}\n"
        f"Target output '{output_key}' schema: {out_cols}\n"
        f"Respond with ONLY the input key to use as the pipeline source, one of: "
        f"{sorted(config.inputs)}"
    )


def build_step_prompt(
    config: PipelineConfig,
    output_key: str,
    live_schema: dict[str, str],
    sample_rows: list[dict],
    history: list[Operation],
    feedback: str | None,
) -> str:
    out_cols = {n: c.type for n, c in config.outputs[output_key].file_schema.columns.items()}
    history_yaml = yaml.safe_dump(
        [{**{k: v for k, v in op.__dict__.items() if v is not None}} for op in history],
        sort_keys=False,
    )
    parts = [
        "You are generating an ETL pipeline one operation at a time.",
        OPERATION_DOCS,
        f"Other available inputs for bind:\n{_schemas_block(config.inputs)}",
        f"Current dataframe schema: {live_schema}",
        f"First rows: {sample_rows}",
        f"Operations so far:\n{history_yaml}",
        f"Target output schema: {out_cols}",
        "Respond with a ```yaml block containing exactly ONE next operation.",
    ]
    if feedback:
        parts.append(f"The previous attempt failed. Fix this and try again:\n{feedback}")
    return "\n\n".join(parts)


def extract_yaml_block(reply: str):
    """Pull the first ```yaml block (or bare YAML) and return element [0]
    (reference: app/main.py:175-197)."""
    m = re.search(r"```(?:yaml)?\s*(.*?)```", reply, re.DOTALL)
    text = m.group(1) if m else reply
    loaded = yaml.safe_load(text)
    if isinstance(loaded, list):
        if not loaded:
            raise SpecError("empty operation list in reply")
        return loaded[0]
    if isinstance(loaded, dict):
        return loaded
    raise SpecError(f"reply is not a YAML operation: {reply[:200]!r}")


def select_source(
    config: PipelineConfig, output_key: str, complete: Callable[[str], str]
) -> str:
    """Ask for the source input key; fall back to the first input after
    bounded retries (reference: app/main.py:97-132)."""
    prompt = build_source_prompt(config, output_key)
    for _ in range(MAX_ATTEMPTS_PER_STEP):
        answer = complete(prompt).strip().strip("'\"` ")
        if answer in config.inputs:
            return answer
        prompt = prompt + f"\n'{answer}' is not a valid input key."
    return next(iter(config.inputs))


def generate_pipeline_step_by_step(
    spark: SparkSession,
    config: PipelineConfig,
    output_key: str,
    complete: Callable[[str], str],
) -> GenerationResult:
    """The generation loop.  Each accepted op extends ONE lazy DataFrame
    chain; trial execution is schema analysis plus a limit(3) probe —
    no full materialization ever happens during generation."""
    transcript: list[str] = []
    source = select_source(config, output_key, complete)
    transcript.append(f"source={source}")
    base = scan_data(spark, config.inputs[source])

    history: list[Operation] = []
    current: DataFrame = base
    feedback: str | None = None

    for step in range(MAX_STEPS):
        accepted = False
        for _attempt in range(MAX_ATTEMPTS_PER_STEP):
            schema, sample = probe(current, 3)
            prompt = build_step_prompt(config, output_key, schema, sample, history, feedback)
            reply = complete(prompt)
            try:
                raw = extract_yaml_block(reply)
                if isinstance(raw, dict) and raw.get("operation_type") == "done":
                    from .runner import drop_temp_columns as _sweep

                    ok, messages = validate_schema(_sweep(current), config.outputs[output_key])
                    if ok:
                        transcript.append("done")
                        return GenerationResult(
                            PipelineFlow(source=source, operations=history),
                            True,
                            step,
                            transcript,
                        )
                    feedback = "Schema does not match target yet: " + "; ".join(messages)
                    transcript.append(f"done-rejected: {feedback}")
                    continue
                op = parse_operation(raw)
                # Trial execution on the lazy chain (probe forces analysis
                # plus a 3-row evaluation, surfacing executor-side errors).
                # Temp columns must survive across per-op calls: they drop
                # only after the FULL flow (runner drop_temp_columns).
                candidate = apply_operations(
                    current, [op], spark, config.inputs, drop_temp_columns=False
                )
                probe(candidate, 3)
            except Exception as exc:
                feedback = f"{type(exc).__name__}: {exc}"
                transcript.append(f"step {step} rejected: {feedback[:200]}")
                continue
            current = candidate
            history.append(op)
            feedback = None
            transcript.append(f"step {step} accepted: {op.operation_type}")
            accepted = True
            break
        if not accepted:
            transcript.append(f"aborted at step {step}: {MAX_ATTEMPTS_PER_STEP} failures")
            return GenerationResult(None, False, step, transcript)

    transcript.append(f"aborted: exceeded {MAX_STEPS} steps")
    return GenerationResult(None, False, MAX_STEPS, transcript)
