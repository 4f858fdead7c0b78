"""Distributed connected components — the clustering step that turns
near-duplicate PAIRS (dedup.py emits them) into duplicate CLUSTERS and
a deterministic survivor set.  This closes the dedup loop the
single-hop ``dedup`` flow mode ``drop`` leaves open: transitive chains (A~B, B~C, but A≁C) collapse into one
component here, so exactly one document per duplicate cluster
survives.

Algorithm: iterative min-label propagation over the undirected edge
set.  Each round every node takes the minimum component label among
itself and its neighbors; the fixpoint labels every node with the
smallest node id reachable from it.  Rounds are pure DataFrame ops —
one shuffle join (labels onto edges) + one groupBy min per round —
and the driver only inspects a per-round CHANGE COUNT (a scalar), not
data.  Convergence needs O(graph diameter) rounds; near-dup clusters
are shallow (a handful of hops), and ``max_iter`` bounds adversarial
chains.  At 100 TB scale the same loop holds (each round is a
key-partitioned shuffle of (node, label) pairs — no collect, no
cartesian); for graphs with genuinely deep diameters, switch to the
large-star/small-star contraction of Kiveris et al. ("Connected
Components in MapReduce and Beyond", SoCC'14), which converges in
O(log n) rounds with the same per-round primitive mix.

Determinism: the fixpoint is unique (min over a fixed set), so the
result is independent of partitioning and iteration interleaving —
exactly oracle-checkable via a recursive transitive-closure CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from ..session import materialize
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    edges_deduped: bool = False,
    steps_per_cycle: int | str = "auto",
) -> DataFrame:
    """Label every node that appears in ``edges`` with its component id
    (= the minimum node id in its component).  Returns (node, component).

    Isolated nodes never enter the edge list, so they are not emitted —
    callers treat absence as "its own singleton component" (see
    dedup_by_components).

    STEP-BUDGET CONTRACT (load-bearing, r13): the result is defined as
    the label state after EXACTLY ``max_iter`` min-label push steps
    (early exit allowed only at the fixpoint, which later steps cannot
    change).  components_oracle_sql unrolls the same ``rounds =
    max_iter`` recurrence, and a graph whose diameter exceeds the
    budget (the sf1 embedding graph's ~20k-node threshold-0.3
    component does) is TRUNCATED identically on both sides — so any
    restructuring here must conserve the total push count, not just
    the fixpoint.  The r13 init+round-1 fusion initially violated this
    (26 pushes vs the oracle's 25; caught by the sf1 oracle re-check,
    OPTIMIZATION_r13.md) — the fused init now consumes push #1 of the
    budget.  Pinned by test_optimization_r13.py's truncated-path-graph
    oracle comparison."""
    if max_iter < 1:
        # the fused init below IS push #1, so a 0-push budget cannot
        # be honored by this shape (r14, ADVICE: the old identity-init
        # code returned untouched labels at 0; no caller ever passes
        # <1 — fail loudly rather than silently spend 2 pushes)
        raise ValueError(f"connected_components: max_iter must be >= 1, got {max_iter}")
    if steps_per_cycle != "auto" and int(steps_per_cycle) < 1:
        # a 0-push cycle leaves the label sum unchanged, which the loop
        # below would read as convergence after the fused first push
        raise ValueError(
            "connected_components: steps_per_cycle must be >= 1 or 'auto', "
            f"got {steps_per_cycle!r}"
        )
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # localCheckpoint (not persist): each round references the previous
    # labels TWICE (union + join), so the un-truncated logical plan
    # doubles per round — 20 rounds is a 2^20-node tree that OOMs the
    # JVM before any data moves.  Checkpointing truncates lineage to
    # the materialized result, which is what every Spark iterative
    # algorithm (GraphX, MLlib) does; on a cluster with a checkpoint
    # dir configured, swap for reliable checkpoint() for fault
    # tolerance beyond executor storage.
    sym = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # ``edges_deduped``: callers whose pair lists are distinct with
    # src < dst by construction (the LSH miners end in
    # dropDuplicates(id_a, id_b) over b > a expansions) may skip the
    # symmetric-table distinct — the union of the two orientations
    # cannot collide, so distinct() is a pure pass-through there, and
    # dropping it removes CC's only wide setup op (a full exchange +
    # hash-dedup of the edge table; r14, guide §2.4).  Duplicate edges
    # would not change any label (every consumer is a MIN), only the
    # per-round join volume — hence opt-in, not automatic.
    if not edges_deduped:
        sym = sym.distinct()
    sym = sym.transform(materialize, False)
    # Init + round 1 FUSED (r13 optimization): the old identity init
    # (distinct node list, component = node) followed by the first
    # push round computes min(node, min(neighbors)) — but with
    # identity labels that is a plain grouped aggregate over the edge
    # list, no join needed.  One groupBy replaces the init action AND
    # the first join+union+groupBy round: two fewer passes over the
    # edge list per call, identical label state after round 1
    # (symmetry guarantees every node appears as ``a``), so every
    # subsequent round — and the fixpoint — is bit-identical.
    #
    # Rounds scale with graph DIAMETER (one hop per round).  An
    # O(log²)-round large-star/small-star contraction variant (Kiveris
    # et al.) was implemented and measured in r13: a contraction round
    # costs ~10 Spark jobs against ~4 for a push round, so it loses on
    # every shallow near-dup graph in the suite and only breaks even
    # at diameter ≈ 17 (image_neardup's worst case: 68 push-round jobs
    # vs 58 contraction jobs, inside the bench noise).  See
    # OPTIMIZATION_r13.md — revisit when a real corpus produces
    # diameters well beyond ~30, where the log-round shape wins on
    # shuffled bytes as well as rounds.
    labels = (
        sym.groupBy("a")
        .agg(F.least(F.col("a"), F.min("b")).alias("component"))
        .select(F.col("a").alias("node"), "component")
        .transform(materialize, False)
    )
    # Convergence probe: propagation only ever DECREASES labels, so the
    # fixpoint is reached exactly when the label sum stops changing —
    # one cheap aggregate per round instead of a join + count job.
    # DECIMAL(38,0) keeps the sum exact at any node-id scale.
    def label_sum(lbl: DataFrame):
        return lbl.agg(F.sum(F.col("component").cast("decimal(38,0)"))).collect()[0][0]

    # TWO push steps per materialize+probe cycle (r13 optimization):
    # the expensive per-cycle items at any scale are the label-table
    # checkpoint WRITE and the convergence-probe action, not the
    # join+groupBy compute — so chain two propagation hops into one
    # lazily-planned query and pay one checkpoint + one probe per TWO
    # hops.  Composition is exact: the label state after N pushes is
    # f^N regardless of where the materialization boundaries sit, so
    # cycle grouping changes nothing — converged or truncated.  The
    # probe stays sound: the decimal label sum strictly decreases
    # whenever EITHER hop changed any label, so sum-unchanged ⟺ both
    # hops were no-ops ⟺ fixpoint.  Plan depth per cycle is two
    # join+groupBy levels — constant, not the exponential-doubling
    # trap the checkpoint guards against.
    #
    # Budget accounting (see the step-budget contract above): the
    # fused init consumed push #1, leaving max_iter - 1 pushes —
    # (max_iter - 1) // 2 double cycles plus one final single push
    # when max_iter is even.
    def push(lbl: DataFrame) -> DataFrame:
        # each node's neighbors push their current label to it
        pushed = sym.join(lbl, sym["a"] == lbl["node"]).select(
            F.col("b").alias("node"), F.col("component")
        )
        return (
            lbl.unionByName(pushed)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )

    def push_n(lbl: DataFrame, n: int) -> DataFrame:
        for _ in range(n):
            lbl = push(lbl)
        return lbl

    # Cycle DEPTH SCHEDULE (r14): chaining k pushes per
    # materialize+probe cycle trades plan depth for k× fewer label
    # checkpoints and probe actions — sound because each push's
    # groupBy exchange is SAME-KEYED (hashpartitioning(node)) in both
    # of its downstream references (the next push's broadcast build
    # and its union arm), so ReuseExchange computes it once; the r13
    # LP/kcore rejection was about DIFFERENTLY-keyed rounds.  Measured
    # on the sf1 truncated embedding graph (25-push budget): k=2
    # 5.37s, k=3 4.60s, k=4 4.04s, k=6 5.97s (deeper plans stop
    # paying) — and k=4 LOSES ~0.2s on shallow toy graphs that exit in
    # 1–2 cycles (deeper no-op cycles).  The "auto" schedule takes the
    # best of both: the first two cycles run 2 pushes (a shallow
    # near-dup graph exits IDENTICALLY to the old fixed-2 code), then
    # 4 pushes per cycle for graphs that are still moving — the
    # diameter-25 budget goes 12 → 7 cycles.  Composition is exact for
    # ANY schedule (label state after N pushes is f^N wherever the
    # materialization boundaries sit), and the budget arithmetic below
    # lands on exactly ``max_iter`` pushes when truncated; pinned by
    # the truncated-path oracle tests at several budgets and depths.
    if steps_per_cycle == "auto":
        def step_len(i: int) -> int:
            return 2 if i < 2 else 4
    else:
        def step_len(i: int) -> int:
            return int(steps_per_cycle)

    prev_sum = label_sum(labels)
    remaining = max_iter - 1
    converged = False
    i = 0
    while not converged and remaining >= step_len(i):
        k = step_len(i)
        new_labels = push_n(labels, k).transform(materialize, False)
        new_sum = label_sum(new_labels)
        labels = new_labels
        remaining -= k
        if new_sum == prev_sum:
            converged = True
        prev_sum = new_sum
        i += 1
    if not converged and remaining:
        # remainder pushes in one final lazy query land exactly on the
        # max_iter-push state the oracle unrolls
        new_labels = push_n(labels, remaining).transform(materialize, False)
        # label_sum is the action that materializes the lazy
        # checkpoint; its value is not needed after the final push
        label_sum(new_labels)
        labels = new_labels
    return labels


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
    edges_deduped: bool = False,
) -> DataFrame:
    """Keep exactly one row (the minimum id) per duplicate cluster:
    connected components over the near-dup pairs, then an anti-join
    dropping every node that is NOT its component's minimum.  Rows
    never involved in any pair survive untouched (they are absent from
    the component table — singleton clusters by definition)."""
    comps = connected_components(pairs, src=src, dst=dst, edges_deduped=edges_deduped)
    losers = comps.filter(F.col("component") != F.col("node")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def components_oracle_sql(
    pairs_sql: str, id_alias: str = "doc_id", rounds: int = 25
) -> str:
    """DuckDB oracle for connected_components over a pair relation —
    the SAME min-label recurrence as the Spark side, unrolled as
    ``rounds`` materialized CTEs (default 25 = connected_components'
    max_iter): each round every node's label becomes the MIN of its
    own and its neighbors' previous-round labels.  Rounds past
    convergence are idempotent, so the unrolled chain equals Spark's
    early-exit fixpoint exactly, for ANY component structure.

    ``pairs_sql`` is any SELECT producing (id_a, id_b) — e.g. the
    generated near-dup-pair oracle, so the WHOLE pipeline (LSH pair
    mining → clustering) is checked end-to-end.

    History: the original formulation here was a WITH RECURSIVE
    transitive closure (Σ |component|² rows) — fine while near-dup
    clusters were small, but the sf1 embedding graph has ONE
    ~20k-node component, whose closure is ~4·10⁸ rows re-joined per
    recursion round; it never finished.  The unrolled min-label chain
    is Θ(rounds · (|V| + |E|)) with every CTE pinned AS MATERIALIZED
    (DuckDB inlines multiply-referenced CTEs — pq.py's _materialize
    rule; each round reads its predecessor twice)."""
    parts = [
        f"__cc_pairs AS MATERIALIZED ({pairs_sql})",
        "__cc_edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM __cc_pairs "
        "UNION SELECT id_b, id_a FROM __cc_pairs)",
        "__cc_l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS component "
        "FROM __cc_edges)",
    ]
    prev = "__cc_l0"
    for i in range(1, rounds + 1):
        nxt = f"__cc_l{i}"
        parts.append(
            f"{nxt} AS MATERIALIZED (SELECT node, MIN(component) AS component "
            f"FROM (SELECT node, component FROM {prev} "
            f"UNION ALL SELECT e.b AS node, l.component FROM {prev} l "
            f"JOIN __cc_edges e ON e.a = l.node) GROUP BY node)"
        )
        prev = nxt
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node AS {id_alias}, component FROM {prev}"
    )


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
    src: str = "id_a",
    dst: str = "id_b",
    edges_deduped: bool = False,
) -> DataFrame:
    """Keep the BEST-scoring row per duplicate cluster (highest
    ``score_col``, minimum id on ties) — the production dedup policy:
    keep-min discards arbitrarily, while real curation keeps the
    longest / highest-quality representative of each near-dup cluster.

    Shape: connected components over the pair list (clustered nodes
    only — a small fraction of the corpus), scores joined onto that
    bounded node table (AQE broadcasts it), one per-component rank
    window, and a left-anti join dropping the non-winners from the
    ORIGINAL frame.  Rows never involved in any pair survive untouched.
    The corpus itself is touched only by the two anti/score joins —
    never shuffled wide."""
    from pyspark.sql import Window

    comps = connected_components(pairs, src=src, dst=dst, edges_deduped=edges_deduped)
    scored = comps.join(
        df.select(F.col(id_col).alias("node"), F.col(score_col)), "node"
    )
    w = Window.partitionBy("component").orderBy(
        F.col(score_col).desc(), F.col("node").asc()
    )
    losers = (
        scored.withColumn("_x_r", F.row_number().over(w))
        .filter(F.col("_x_r") > 1)
        .select(F.col("node").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


def keep_best_oracle_sql(
    pairs_sql: str,
    table: str,
    id_col: str,
    score_col: str,
    select_cols: list[str],
) -> str:
    """DuckDB mirror of :func:`dedup_keep_best`, built on the SAME
    recursive-closure component SQL (components_oracle_sql) over the
    same generated pair SQL, so pair mining, clustering, and the
    keep-best policy are all checked together and cannot drift."""
    comp_sql = components_oracle_sql(pairs_sql, id_alias=id_col)
    cols = ", ".join(select_cols)
    return (
        f"WITH comp AS ({comp_sql}), "
        f"scored AS (SELECT c.{id_col}, c.component, t.{score_col} "
        f"FROM comp c JOIN {table} t USING ({id_col})), "
        f"losers AS (SELECT {id_col} FROM ("
        f"SELECT {id_col}, ROW_NUMBER() OVER (PARTITION BY component "
        f"ORDER BY {score_col} DESC, {id_col}) AS r FROM scored) WHERE r > 1) "
        f"SELECT {cols} FROM {table} t "
        # NOT EXISTS, not NOT IN: a NULL id makes NOT IN evaluate to
        # NULL (row dropped) while Spark's left_anti keeps it — NOT
        # EXISTS with an equality matches the anti-join exactly
        f"WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.{id_col} = t.{id_col})"
    )


# --- PageRank ---------------------------------------------------------------


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 3,
    scale_bits: int = 40,
    damping: tuple[int, int] = (17, 20),
    materialize_every: int = 5,
) -> DataFrame:
    """Deterministic INTEGER PageRank — link-graph authority scoring,
    the signal CommonCrawl-scale web curation uses to weight domains
    before any per-document heuristic runs.

    All arithmetic is int64 on a ``2^scale_bits`` grid with rational
    damping (default 17/20 = 0.85) and floor divisions, so the whole
    fixed-``iters`` power iteration is partition-order-independent and
    bit-identical to pagerank_oracle_sql's unrolled CTEs — the same
    determinism contract as kmeans/BPE/IVF.  Per iteration:

        r'(v) = (S·(dd−dn)) // (dd·N)  +  (dn · Σ_{u→v} r(u)//out(u)) // dd

    Dangling-node mass evaporates (documented standard simplification;
    total mass stays bounded, relative ranking unaffected for
    curation).  Ranks are non-negative throughout, so floor == trunc
    and Spark ``DIV`` == DuckDB ``//`` exactly.

    Inputs: ``nodes`` with column ``node`` (every vertex, isolated
    ones included — they hold the teleport base), ``edges`` with
    (src, dst), self-loop-free and distinct.

    Scale shape (a real web graph): each iteration is one broadcast-or
    -shuffle join of edges⋈ranks⋈out-degree plus one groupBy(dst) with
    map-side combine — the standard Spark power-iteration layout; the
    only driver state is N (one count) and the loop index.  Rank
    lineage grows LINEARLY per round (each round reads the previous
    ranks once), so unlike connected components no per-round
    truncation is required for correctness — a materialize() boundary
    every ``materialize_every`` rounds (default 5) keeps deep runs'
    plans bounded while short runs (3-iter curation scoring) compile
    into ONE job with zero checkpoint latency; 0 disables boundaries.
    Returns (node, rank_int, rank) with ``rank = rank_int / 2^scale_bits``
    (exact: a power-of-two division of an int64 < 2^53)."""
    dn, dd = damping
    if not (0 < dn < dd):
        raise ValueError(f"pagerank damping must satisfy 0 < num < den, got {damping}")
    S = 1 << scale_bits
    N = nodes.count()
    if N == 0:
        raise ValueError("pagerank: empty node set")
    base = (S * (dd - dn)) // (dd * N)
    # Edges and out-degrees are re-joined EVERY round: materialize them
    # once so iterations read a materialized table instead of
    # re-deriving the edge list from source each time (the GraphX
    # cache-the-graph discipline).  One boundary each, before the loop.
    edges = materialize(edges.select("src", "dst"))
    out = materialize(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    )
    ranks = nodes.select("node", F.lit(S // N).cast("long").alias("r"))
    for i in range(iters):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(out, "src")
            .select(F.col("dst").alias("node"), F.expr("r DIV out_deg").alias("c"))
        )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = nodes.join(summed, "node", "left").select(
            "node",
            (
                F.lit(base).cast("long")
                + F.expr(f"(COALESCE(s, 0) * {dn}) DIV {dd}")
            ).cast("long").alias("r"),
        )
        if materialize_every and (i + 1) % materialize_every == 0 and i + 1 < iters:
            ranks = materialize(ranks)
    return ranks.select(
        "node",
        F.col("r").alias("rank_int"),
        (F.col("r").cast("double") / F.lit(float(S))).alias("rank"),
    )


def pagerank_oracle_sql(
    nodes_sql: str,
    edges_sql: str,
    iters: int = 3,
    scale_bits: int = 40,
    damping: tuple[int, int] = (17, 20),
) -> str:
    """DuckDB mirror of :func:`pagerank` as unrolled CTEs — same grid,
    same rational damping, same floor divisions; N comes from a COUNT
    CTE so the generated SQL is data-independent.  ``nodes_sql`` must
    yield column ``node``; ``edges_sql`` (src, dst), distinct and
    self-loop-free."""
    dn, dd = damping
    S = 1 << scale_bits
    parts = [
        f"nodes AS (SELECT node FROM {nodes_sql})",
        f"edges AS (SELECT src, dst FROM {edges_sql})",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "outd AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src)",
        f"r0 AS (SELECT node, CAST({S} AS BIGINT) // nn.n AS r FROM nodes CROSS JOIN nn)",
    ]
    base = f"(CAST({S * (dd - dn)} AS BIGINT) // (CAST({dd} AS BIGINT) * nn.n))"
    for i in range(iters):
        parts.append(
            f"r{i + 1} AS (SELECT n.node, "
            f"CAST({base} + (COALESCE(x.s, 0) * {dn}) // {dd} AS BIGINT) AS r "
            f"FROM nodes n CROSS JOIN nn LEFT JOIN ("
            f"SELECT e.dst AS node, SUM(r.r // o.out_deg) AS s "
            f"FROM edges e JOIN r{i} r ON r.node = e.src "
            f"JOIN outd o ON o.src = e.src GROUP BY e.dst) x ON x.node = n.node)"
        )
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT node, r AS rank_int, "
        f"CAST(r AS DOUBLE) / {float(S)!r} AS rank FROM r{iters}"
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph
    — ``(node, n_triangles)`` for every node in at least one triangle.
    The clustering-coefficient / community-density primitive (spam
    rings in web graphs, co-citation cliques) the PageRank family
    complements.

    Algorithm: the degree-ordered compact-forward join — every
    canonical edge is ORIENTED from its lower (degree, node) endpoint
    to the higher, wedges come from pairs of out-edges at a common
    source, and a wedge is a triangle iff its (v, w) closure exists in
    the oriented edge set.  The orientation is the 100 TB move: a
    node's out-degree is bounded by O(sqrt(|E|)) under this ordering,
    so the wedge join never explodes on celebrity nodes the way a raw
    id-ordered join does (the remaining skew is AQE's to split).
    Two shuffles over the edge list (degree attach + wedge join) plus
    the closure semi-join.

    Output is orientation-independent (the triangle SET does not
    depend on the ordering), which is what lets the oracle use the
    simple id-ordered formulation — equality proves both."""
    from ..session import materialize

    a = F.least(F.col(src), F.col(dst)).alias("a")
    b = F.greatest(F.col(src), F.col(dst)).alias("b")
    # materialize: the canonical edge list feeds the degree count, the
    # orientation join (twice), and the closure — unboundaried lineage
    # would re-run the upstream edge construction per consumer
    e = materialize(
        edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(a, b)
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    keyed = e.join(da, "a").join(db, "b")
    ka = F.struct(F.col("deg_a").alias("d"), F.col("a").alias("n"))
    kb = F.struct(F.col("deg_b").alias("d"), F.col("b").alias("n"))
    # materialize again: the oriented edges feed both wedge sides and
    # the closure join
    directed = materialize(
        keyed.select(
            F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(ka < kb, kb).otherwise(ka).alias("vk"),
        )
    )
    e1 = directed.select(
        F.col("u"), F.col("v").alias("v1"), F.col("vk").alias("vk1")
    )
    e2 = directed.select(
        F.col("u"), F.col("v").alias("v2"), F.col("vk").alias("vk2")
    )
    wedges = e1.join(e2, "u").filter(F.col("vk1") < F.col("vk2"))
    closure = directed.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    tris = wedges.join(closure, ["v1", "v2"]).select("u", "v1", "v2")
    nodes = (
        tris.select(F.col("u").alias("node"))
        .unionAll(tris.select(F.col("v1").alias("node")))
        .unionAll(tris.select(F.col("v2").alias("node")))
    )
    return nodes.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def triangle_count_oracle_sql(edges_sql: str) -> str:
    """DuckDB mirror of :func:`triangle_count` over ``edges_sql``
    (a parenthesized subquery yielding (src, dst)).  Uses the simple
    id-ordered formulation a < b < c — the triangle set (and therefore
    every per-node count) is orientation-independent, so equality with
    the degree-oriented Spark plan proves both."""
    return f"""
WITH __tc_e AS MATERIALIZED (
  SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM {edges_sql}
  WHERE src IS NOT NULL AND dst IS NOT NULL AND src != dst
  GROUP BY 1, 2
), __tc_t AS MATERIALIZED (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM __tc_e e1
  JOIN __tc_e e2 ON e2.a = e1.b
  JOIN __tc_e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
  SELECT x AS node FROM __tc_t
  UNION ALL SELECT y FROM __tc_t
  UNION ALL SELECT z FROM __tc_t
) GROUP BY node
"""


def label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 4,
) -> DataFrame:
    """Deterministic SYNCHRONOUS label propagation — community
    detection over an undirected graph (the modularity-free LPA every
    graph library ships, made bit-reproducible): labels start as the
    node's own id, and each round every node adopts the MOST FREQUENT
    label among its neighbors' previous-round labels, ties broken by
    the SMALLEST label, isolated nodes keeping their own.  A fixed
    ``iters`` makes the operator a pure function of the graph — no
    convergence race, no asynchronous update order, the same
    determinism contract as pagerank/kmeans/BPE.

    Distinct from :func:`connected_components` (which converges to
    min-id per component): mode-adoption splits a weakly-bridged
    component into dense cores, which is the community structure.

    Inputs: ``nodes`` (column ``node``), ``edges`` (src, dst) —
    treated as undirected; the function symmetrizes and dedups, so
    callers may pass either orientation.  Returns (node, community,
    community_size) ordered by (community, node).

    Scale shape (real graphs): per round ONE edges⋈labels join plus a
    (node, label) count with map-side combine and a per-node
    row_number cut — all shuffles on node/dst keys, state bounded by
    |V|+|E|.  Each round references the previous labels frame TWICE
    (the neighbor join and the keep-own fallback), so the
    unmaterialized plan would DOUBLE per round — labels therefore
    truncate through materialize() EVERY round, the same discipline
    :func:`connected_components` uses for the identical structure
    (a 2^iters logical plan would hang analysis long before any data
    moved).  The oracle is the same recurrence unrolled as
    MATERIALIZED CTEs — materialized for the same double-reference
    reason."""
    if iters < 1:
        raise ValueError(f"label_propagation iters must be >= 1, got {iters}")
    sym = materialize(
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    labels = nodes.select("node", F.col("node").alias("lab"))
    for i in range(iters):
        neigh = (
            sym.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), F.col("lab"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        from pyspark.sql import Window

        pick = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("lab"))
        mode = (
            neigh.withColumn("rn", F.row_number().over(pick))
            .filter(F.col("rn") == 1)
            .select("node", F.col("lab").alias("new_lab"))
        )
        labels = materialize(
            labels.join(mode, "node", "left")
            .select("node", F.coalesce("new_lab", "lab").alias("lab"))
        )
    from pyspark.sql import Window

    size = F.count(F.lit(1)).over(Window.partitionBy("lab")).cast("long")
    return labels.select(
        "node", F.col("lab").alias("community"), size.alias("community_size")
    ).orderBy(F.asc("community"), F.asc("node"))


def label_propagation_oracle_sql(
    nodes_sql: str, edges_sql: str, iters: int = 4
) -> str:
    """DuckDB mirror of :func:`label_propagation` — the same
    symmetrize/dedup, mode-with-(count DESC, label ASC)-tie rounds
    unrolled as CTEs.  Every label CTE is ``AS MATERIALIZED``: each is
    referenced twice per round (neighbor join + keep-own fallback) and
    DuckDB would otherwise inline and re-evaluate the chain
    exponentially (the proven classifier_train lesson)."""
    parts = [
        f"lp_nodes AS MATERIALIZED (SELECT node FROM {nodes_sql})",
        f"lp_edges AS MATERIALIZED ("
        f"SELECT DISTINCT src, dst FROM ("
        f"SELECT src, dst FROM {edges_sql} "
        f"UNION ALL SELECT dst AS src, src AS dst FROM {edges_sql}) "
        f"WHERE src <> dst)",
        "lp0 AS MATERIALIZED (SELECT node, node AS lab FROM lp_nodes)",
    ]
    for i in range(iters):
        parts.append(
            f"lp{i + 1} AS MATERIALIZED ("
            f"SELECT l.node, COALESCE(p.new_lab, l.lab) AS lab "
            f"FROM lp{i} l LEFT JOIN ("
            f"SELECT node, lab AS new_lab FROM ("
            f"SELECT e.dst AS node, l.lab AS lab, "
            f"row_number() OVER (PARTITION BY e.dst "
            f"ORDER BY COUNT(*) DESC, l.lab ASC) AS rn "
            f"FROM lp_edges e JOIN lp{i} l ON l.node = e.src "
            f"GROUP BY e.dst, l.lab) WHERE rn = 1"
            f") p ON p.node = l.node)"
        )
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT node, lab AS community, "
        f"CAST(COUNT(*) OVER (PARTITION BY lab) AS BIGINT) AS community_size "
        f"FROM lp{iters} ORDER BY community ASC, node ASC"
    )


def kcore(
    nodes: DataFrame,
    edges: DataFrame,
    k: int = 2,
    rounds: int = 4,
) -> DataFrame:
    """Deterministic k-core peeling — the densest-subgraph cleaning
    pass (drop every node with fewer than ``k`` surviving neighbors,
    repeat): after enough rounds the surviving set is the k-core, the
    standard graph-cleaning step before community / centrality
    analysis (spam tendrils and leaf chains peel away; the core
    remains).  A FIXED ``rounds`` makes the operator a pure function
    of the graph (peeling a converged set changes nothing, so extra
    rounds are idempotent) — the label_propagation determinism
    contract.

    Inputs: ``nodes`` (column ``node``), ``edges`` (src, dst) —
    undirected; symmetrized and deduped here, either orientation
    accepted.  Returns the surviving nodes with their final
    within-alive degree: (node, degree), ordered (degree DESC, node).
    The report applies one more ``degree >= k`` cut, so it acts as an
    extra peel round; choose ``rounds`` at least the longest tendril
    length — on a CONVERGED set the report is the exact k-core with
    self-consistent degrees, while an under-rounded run returns a
    documented superset whose degrees still count not-yet-peeled
    neighbors.  All arithmetic is integer counting — exactness is
    structural.

    Scale shape: per round two semi-joins restrict the edge table to
    the alive set (broadcast when the alive set is small, shuffle
    otherwise) and one map-side-combined degree count; the alive set
    is referenced on BOTH endpoints each round, so it truncates
    through materialize() every round (the label_propagation /
    connected_components plan-doubling discipline)."""
    if k < 1 or rounds < 1:
        raise ValueError(f"kcore needs k >= 1 and rounds >= 1, got k={k}, rounds={rounds}")
    sym = materialize(
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    alive = nodes.select("node")
    deg = None
    for _ in range(rounds):
        e_alive = sym.join(
            alive.withColumnRenamed("node", "src"), "src", "left_semi"
        ).join(alive.withColumnRenamed("node", "dst"), "dst", "left_semi")
        deg = e_alive.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("degree")
        )
        alive = materialize(deg.filter(F.col("degree") >= k).select("node"))
    # final within-core degrees over the converged alive set
    e_final = sym.join(
        alive.withColumnRenamed("node", "src"), "src", "left_semi"
    ).join(alive.withColumnRenamed("node", "dst"), "dst", "left_semi")
    return (
        e_final.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .filter(F.col("degree") >= k)
        .orderBy(F.desc("degree"), F.asc("node"))
    )


def kcore_oracle_sql(
    nodes_sql: str, edges_sql: str, k: int = 2, rounds: int = 4
) -> str:
    """DuckDB mirror of :func:`kcore` — same symmetrize/dedup, the
    same peel recurrence unrolled as MATERIALIZED CTEs (each alive
    set is referenced on both edge endpoints — the anti-inlining
    rule), same final within-core degree report."""
    parts = [
        f"kc_edges AS MATERIALIZED ("
        f"SELECT DISTINCT src, dst FROM ("
        f"SELECT src, dst FROM {edges_sql} "
        f"UNION ALL SELECT dst AS src, src AS dst FROM {edges_sql}) "
        f"WHERE src <> dst)",
        f"kc0 AS MATERIALIZED (SELECT node FROM {nodes_sql})",
    ]
    for i in range(rounds):
        parts.append(
            f"kc{i + 1} AS MATERIALIZED ("
            f"SELECT e.src AS node FROM kc_edges e "
            f"JOIN kc{i} s ON s.node = e.src "
            f"JOIN kc{i} d ON d.node = e.dst "
            f"GROUP BY e.src HAVING COUNT(*) >= {k})"
        )
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS degree "
        f"FROM kc_edges e "
        f"JOIN kc{rounds} s ON s.node = e.src "
        f"JOIN kc{rounds} d ON d.node = e.dst "
        f"GROUP BY e.src HAVING COUNT(*) >= {k} "
        f"ORDER BY degree DESC, node ASC"
    )


def link_prediction(
    edges: DataFrame,
    group_col: str,
    item_col: str,
    *,
    k: int = 100,
) -> DataFrame:
    """Common-neighbor link prediction over a bipartite co-occurrence
    graph: for every unordered item pair sharing at least one group,
    the shared-group count and the Jaccard score
    ``co / (deg_a + deg_b - co)`` — ranked, top-k.  The classic
    "customers who bought X also bought Y" / citation-recommendation
    primitive (Liben-Nowell & Kleinberg 2003).

    Shape: distinct (group, item) → per-group sorted item array →
    pairs expand as a JVM array expression (pair volume is
    Σ|group|²/2, bounded by group size — orders hold a handful of
    items, so growth is LINEAR in groups; never an item×item
    cartesian) → one (a, b) count exchange; degrees join back onto the
    pair table (|items| rows — AQE broadcasts when small); the final
    cut is TakeOrdered (never a global sort).  Deterministic: ties at
    the boundary break on (item_a, item_b); the score is one integer
    subtraction tree and one IEEE division, engine-exact.
    """
    if k < 1:
        raise ValueError(f"link_prediction: k must be >= 1, got {k}")
    e = (
        edges.filter(F.col(group_col).isNotNull() & F.col(item_col).isNotNull())
        .select(F.col(group_col).alias("_x_g"), F.col(item_col).alias("_x_i"))
        .distinct()
    )
    deg = e.groupBy(F.col("_x_i")).agg(F.count(F.lit(1)).alias("deg"))
    per_group = e.groupBy("_x_g").agg(F.array_sort(F.collect_set("_x_i")).alias("items"))
    items = F.col("items")
    pair_expr = F.flatten(
        F.transform(
            items,
            lambda a: F.transform(
                F.filter(items, lambda b: b > a),
                lambda b: F.struct(a.alias("item_a"), b.alias("item_b")),
            ),
        )
    )
    co = (
        per_group.select(F.explode(pair_expr).alias("p"))
        .groupBy("p.item_a", "p.item_b")
        .agg(F.count(F.lit(1)).alias("co_groups"))
    )
    da = deg.select(F.col("_x_i").alias("item_a"), F.col("deg").alias("_x_da"))
    db = deg.select(F.col("_x_i").alias("item_b"), F.col("deg").alias("_x_db"))
    scored = (
        co.join(da, "item_a")
        .join(db, "item_b")
        .select(
            "item_a",
            "item_b",
            "co_groups",
            (
                F.col("co_groups").cast("double")
                / (F.col("_x_da") + F.col("_x_db") - F.col("co_groups")).cast("double")
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), F.col("item_a"), F.col("item_b")
    ).limit(k)


def link_prediction_oracle_sql(
    table: str, group_col: str, item_col: str, *, k: int = 100
) -> str:
    """DuckDB mirror of :func:`link_prediction` — equi-self-join pair
    generation (same multiset as the array expand), identical integer
    denominator tree and division."""
    return f"""
WITH e AS (
  SELECT DISTINCT {group_col} AS g, {item_col} AS i FROM {table}
  WHERE {group_col} IS NOT NULL AND {item_col} IS NOT NULL),
deg AS (SELECT i, COUNT(*) AS deg FROM e GROUP BY i),
co AS (
  SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS co_groups
  FROM e a JOIN e b ON a.g = b.g AND a.i < b.i
  GROUP BY 1, 2)
SELECT item_a, item_b, co_groups,
       CAST(co_groups AS DOUBLE)
         / CAST(da.deg + db.deg - co_groups AS DOUBLE) AS jaccard
FROM co JOIN deg da ON da.i = item_a JOIN deg db ON db.i = item_b
ORDER BY jaccard DESC, item_a, item_b LIMIT {int(k)}
"""


def bfs_hops(
    nodes: DataFrame,
    edges: DataFrame,
    max_hops: int,
) -> DataFrame:
    """Deterministic synchronous BFS from the LEXICOGRAPHICALLY
    SMALLEST node: minimum hop distance (0..max_hops) for every node
    reachable within ``max_hops`` over the UNDIRECTED graph —
    the reachability / blast-radius primitive (which domains sit
    within k links of a seed?).

    Each round is one frontier-edge equi-join plus a min-hop
    re-aggregate — |rounds| keyed exchanges total, no iteration-count
    data dependence (fixed unrolling, like label_propagation's fixed
    rounds).  Edges are symmetrized inside (union of both
    orientations, distinct) and the symmetrized frame goes through
    materialize() ONCE — callers typically pass a DERIVED edge set
    (the co-citation join in the harness graph queries), and without
    the boundary every round would re-derive it from scratch.  The
    running ``dist`` frame is referenced TWICE per round (the frontier
    filter and the union), so it truncates through materialize() every
    round — the label_propagation / kcore / connected_components
    plan-doubling discipline.  The seed choice (MIN(node)) is a 1-row
    aggregate broadcast — swap in any literal seed frame for targeted
    runs.  Output: ``(node, hops)``, hops = the exact BFS level."""
    if max_hops < 1:
        raise ValueError(f"bfs_hops: max_hops must be >= 1, got {max_hops}")
    sym = materialize(
        edges.select(F.col("src").alias("s"), F.col("dst").alias("d"))
        .unionAll(edges.select(F.col("dst").alias("s"), F.col("src").alias("d")))
        .where(F.col("s") != F.col("d"))
        .distinct()
    )
    seed = nodes.agg(F.min("node").alias("node")).select(
        "node", F.lit(0).alias("hops")
    )
    dist = seed
    for k in range(1, max_hops + 1):
        frontier = dist.where(F.col("hops") == k - 1)
        step = (
            frontier.join(sym, frontier["node"] == sym["s"])
            .select(F.col("d").alias("node"), F.lit(k).alias("hops"))
        )
        dist = materialize(
            dist.unionByName(step)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
        )
    return dist


def bfs_hops_oracle_sql(
    nodes_sql: str,
    edges_sql: str,
    max_hops: int,
) -> str:
    """DuckDB mirror of :func:`bfs_hops`: the identical recurrence
    unrolled as CTEs — seed = MIN(node), per round a frontier join and
    a MIN(hops) regroup over the running distance table."""
    parts = [
        f"WITH __bfs_nodes AS ({nodes_sql})",
        f"__bfs_e0 AS ({edges_sql})",
        "__bfs_edges AS (SELECT DISTINCT s, d FROM ("
        "SELECT src AS s, dst AS d FROM __bfs_e0 "
        "UNION ALL SELECT dst AS s, src AS d FROM __bfs_e0) WHERE s <> d)",
        "__bfs_d0 AS (SELECT MIN(node) AS node, 0 AS hops FROM __bfs_nodes)",
    ]
    prev = "__bfs_d0"
    for k in range(1, max_hops + 1):
        parts.append(
            f"__bfs_f{k} AS (SELECT e.d AS node, {k} AS hops "
            f"FROM {prev} p JOIN __bfs_edges e ON e.s = p.node "
            f"WHERE p.hops = {k - 1})"
        )
        parts.append(
            f"__bfs_d{k} AS (SELECT node, MIN(hops) AS hops FROM "
            f"(SELECT * FROM {prev} UNION ALL SELECT * FROM __bfs_f{k}) "
            f"GROUP BY node)"
        )
        prev = f"__bfs_d{k}"
    return (
        ",\n".join(parts)
        + f"\nSELECT node, CAST(hops AS INTEGER) AS hops FROM {prev}"
    )
