"""Iterative graph operators: connected components for dedup clustering.

Near-dup discovery (MinHash/SimHash/SRP banding) emits PAIRS; a corpus
pipeline needs CLUSTERS — "these 40 documents are all the same article" —
to keep one representative per group, audit cluster-size distributions,
and cap pathological mega-clusters. Pair → cluster is connected
components, the one genuinely *iterative* operator in the pipeline (the
reference has no counterpart: it is a single-table scan engine,
/root/reference/lakeshack/lakeshack.py:476-579).

The implementation is hash-min label propagation with pointer jumping —
the MapReduce-CC shape (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) expressed as DataFrame joins:

- propagate: every node's label becomes the min of its own and its
  neighbors' labels (one shuffle on the edge key);
- jump: ``label = label[label]`` (one self-join) halves the distance to
  the component minimum each round, so rounds are O(log diameter) even
  on path graphs, not O(diameter).

Each round materializes via ``localCheckpoint(eager=True)``: an
iterative plan that is merely ``persist()``-ed keeps its full lineage,
so Catalyst re-analyzes a tree that grows with every round (and a lost
partition would recompute the whole history). Checkpointing truncates
lineage to the materialized data. On a real cluster prefer
``spark.sparkContext.setCheckpointDir`` + ``checkpoint()`` for
executor-loss resilience; local mode has no such loss model.
"""

from __future__ import annotations

from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession, functions as F


#: connected_components' per-round propagate checkpoint takes the
#: scoped-AQE-off form (keeps HashPartitioning(node), saving the jump's
#: per-round |V| lookup exchange) only at or above this node count —
#: measured interleaved at four sizes (r14, VERDICT_r13 item 4,
#: plans/r14/cc_aqeoff_ab.txt): a win at 25M nodes (−7..−19%), a wash
#: at 5M (r13), a tie at 250k, and a LOSS on the 5k-node bench graph
#: (the static-partition-count propagate shuffle pays rounds ×
#: empty-task overhead that AQE coalescing removes). The threshold
#: sits between the wash and the win, biased high.
CC_AQEOFF_MIN_NODES = 10_000_000


@contextmanager
def _aqe_disabled(spark: SparkSession):
    """Run the body with ``spark.sql.adaptive.enabled`` set to "false",
    restoring the prior value in ``finally``. Wraps a checkpoint whose
    LogicalRDD must keep its HashPartitioning: under AQE the adaptive
    plan's final partitioning is not propagated and the checkpoint
    reports UnknownPartitioning (measured), so downstream joins
    re-shuffle it. The flip is session-global: plans compiled
    concurrently on the same session during the body also see AQE off
    — the graph operators run from a single driver thread."""
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _symmetrized_edges(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Directed edge set: both orientations, no self loops, distinct —
    repartitioned by the join key BEFORE checkpointing, so every round's
    edges⋈labels join exchanges only the labels side. Without this, the
    full edge set (the |E| ≫ |V| term) re-shuffles every round, and at
    corpus scale the rounds' repeated edge exchanges dominate the whole
    operator. Plan-asserted in tests/test_plans.py.

    The checkpoint is taken under :func:`_aqe_disabled`: with AQE off
    the LogicalRDD keeps HashPartitioning(src) and AQE-planned
    downstream joins honor it (only the other side gets an
    ENSURE_REQUIREMENTS exchange)."""
    e = pairs.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    )
    sym = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    with _aqe_disabled(pairs.sparkSession):
        edges = sym.repartition(F.col("src")).localCheckpoint(eager=True)
        # Size the FIXED partitioning to the materialized edge count:
        # every round inherits it, and AQE cannot coalesce it away (that
        # is the point — it must match across rounds). A small graph on
        # the session-default partition count pays rounds × partitions of
        # empty-task overhead; ~100k edges per partition keeps round
        # shuffles dense while a corpus-scale |E| lands on the default.
        # Floor at 2: repartition(1, col) is optimized into a plain
        # single partition whose checkpointed LogicalRDD reports Unknown
        # partitioning (measured) — the join then re-shuffles BOTH sides,
        # exactly what this sizing exists to avoid.
        n_parts = edges.rdd.getNumPartitions()
        target = max(2, min(n_parts, edges.count() // 100_000 + 1))
        if target < n_parts:
            edges = edges.repartition(target, F.col("src")).localCheckpoint(
                eager=True
            )
        return edges


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    nodes: DataFrame | None = None,
    node_col: str | None = None,
    max_rounds: int = 30,
    round_stats: list | None = None,
) -> DataFrame:
    """Label each node with the MINIMUM node id reachable from it:
    ``(node, cluster_id)``, one row per node, deterministic.

    ``pairs`` is an undirected edge list (symmetrized internally; self
    loops and duplicate edges are harmless). ``nodes`` optionally supplies
    the full node universe (column ``node_col`` or its first column) so
    isolated nodes appear as singleton clusters — pass the corpus id
    column when labeling documents, since docs without any near-dup pair
    never appear in ``pairs``.

    Scale shape per round: one edge⋈label join shuffling |E| rows on the
    node key, one |V| min-aggregation (eagerly materialized — the
    pointer jump self-joins it, and an unmaterialized propagate subtree
    would evaluate the edge join once PER CONSUMER; r13 measured the
    materialization −11..−32% at 0.5M-10M edges, tie at bench scale),
    one |V|⋈|V| pointer-jump join.
    Rounds: O(log diameter) ≤ ``max_rounds`` (raises if not converged —
    a real 100 TB run sets this to ~2·log2(V) and alerts, rather than
    silently emitting half-merged clusters). Convergence is detected by
    an any-label-changed existence probe (``limit(1)``) over the
    checkpointed round result, with the previous label carried through
    the propagate aggregation — no per-round |V|⋈|V| comparison join;
    each round's result is eagerly checkpointed so the next round's
    plan starts from materialized data.

    ``round_stats``: pass a list to receive one ``{"round": i, "sec":
    wall}`` dict per executed round (VERDICT r9 #5 — the bench records
    these so convergence-round variance, which is data-epoch dependent,
    separates from box noise in the wall-clock key). Timing is
    per-round end to end (propagate + jump + checkpoint + probe); no
    extra jobs run for it.
    """
    import time as _time
    edges = _symmetrized_edges(pairs, id_a, id_b)

    endpoints = edges.select(F.col("src").alias("node"))
    if nodes is not None:
        nc = node_col or nodes.columns[0]
        # Union endpoints in even when a universe is supplied: an edge
        # endpoint missing from ``nodes`` would otherwise never
        # self-label, and if it happened to be its component's minimum
        # id the whole component would silently get a larger cluster_id.
        universe = (
            nodes.select(F.col(nc).cast("long").alias("node"))
            .union(endpoints)
            .distinct()
        )
    else:
        universe = endpoints.distinct()
    labels = universe.select(
        "node", F.col("node").alias("label")
    ).localCheckpoint(eager=True)
    # |V| dispatch for the per-round propagate checkpoint's AQE scoping
    # (see the comment inside the loop). The count reads the labels
    # checkpoint just materialized — one cheap job, amortized over
    # O(log diameter) rounds.
    scoped_aqe_off = labels.count() >= CC_AQEOFF_MIN_NODES

    for rnd in range(max_rounds):
        _t0 = _time.time()
        # propagate: min label over self ∪ neighbors. The node's OWN
        # previous label rides along as ``old`` (neighbor messages
        # contribute null; max over one non-null + nulls recovers it),
        # so convergence detection below is a join-free aggregate over
        # the already-checkpointed round result — the old form joined
        # jumped⋈labels per round, re-shuffling |V| twice purely to
        # count changes (measured ~0.4 s/round of the local fixed cost;
        # at cluster scale two |V| exchanges per round for free).
        neighbor_msgs = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"),
            "label",
            F.lit(None).cast("long").alias("old"),
        )
        # The jump below consumes ``propagated`` TWICE (left side + the
        # lookup side of its self-join); left lazy, the whole propagate
        # subtree — including the |E|⋈|V| edge join — evaluates once per
        # consumer inside one job. Materializing the |V|-row aggregate
        # first halves that: measured interleaved A/B at 10M edges /
        # 5M nodes 91-127 s vs 102-148 s lazy (−11..−14%, and −32% at
        # 0.5M edges), exact tie on the 5k-node bench graph where the
        # extra checkpoint job is overhead-free (``tools/ab.py cc``
        # re-runs the AQE arms; the lazy arm is recorded in plans/r13).
        # The checkpoint is taken under _aqe_disabled
        # (the _symmetrized_edges precedent, r14 / VERDICT_r13 item 4)
        # WHEN the node universe is large: under AQE the checkpointed
        # LogicalRDD reports Unknown partitioning and the jump
        # re-shuffles the |V| lookup side every round; with AQE off it
        # keeps HashPartitioning(node). The trade is scale-dependent
        # and measured at four sizes (plans/r14/cc_aqeoff_ab.txt,
        # interleaved flag-only twins): 25M nodes AQE-off WINS both
        # rounds (670/571 vs 828/613 s — the saved per-round |V|
        # exchange), 5M a wash (r13), 250k an exact tie, and on the
        # 5k-node bench graph AQE-off LOSES all four rounds (3.7-4.7
        # vs 2.7-3.5 s: the static shuffle-partition-count propagate
        # exchange pays rounds × empty-task overhead that AQE
        # coalescing removes). Hence the |V| dispatch — the threshold
        # sits between the measured wash at 5M and the measured win at
        # 25M, biased high so small/medium graphs keep AQE's
        # coalescing.
        prop_lazy = (
            labels.select("node", "label", F.col("label").alias("old"))
            .union(neighbor_msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.max("old").alias("old"))
        )
        scope = (
            _aqe_disabled(prop_lazy.sparkSession)
            if scoped_aqe_off
            else nullcontext()
        )
        with scope:
            propagated = prop_lazy.localCheckpoint(eager=True)
        # jump: label <- label's label (pointer halving)
        lookup = propagated.select(
            F.col("node").alias("l_node"), F.col("label").alias("l_label")
        )
        jumped = (
            propagated.join(lookup, propagated.label == lookup.l_node, "left")
            .select(
                "node",
                F.coalesce(F.col("l_label"), F.col("label")).alias("label"),
                "old",
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            jumped.filter(F.col("label") != F.col("old")).limit(1).count()
        )
        if round_stats is not None:
            round_stats.append(
                {"round": rnd, "sec": round(_time.time() - _t0, 3)}
            )
        labels = jumped.select("node", "label")
        if changed == 0:
            return labels.select("node", F.col("label").alias("cluster_id"))
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds"
    )


def pagerank(
    pairs: DataFrame,
    n_iter: int = 10,
    id_a: str = "id_a",
    id_b: str = "id_b",
    damping_pct: int = 85,
    scale: int = 10**9,
    round_stats: list | None = None,
) -> DataFrame:
    """PageRank over the undirected (symmetrized) graph, in EXACT
    integer fixed-point arithmetic: ``(node, rank)`` with ranks in units
    of ``1/scale``, after ``n_iter`` power iterations of

        rank'(v) = (100-d)·scale//100  +  Σ_{u~v} (d·rank(u)) // (100·outdeg(u))

    Why integer: float PageRank sums contributions in shuffle order, so
    two runs (or two engines) differ in the last ulps and the result is
    not reproducible. Here every quantity is an int64 — integer sums are
    order-independent, and ``div``/``//`` agree on the non-negative
    domain across engines — so the ranks are bit-exact and a DuckDB
    oracle can unroll the same iterations (gate entry
    ``pagerank_trade_network``). Truncation loses < 1 unit (1/scale) per
    in-edge per round: pick ``scale`` ≫ max degree.

    Symmetrization means no dangling nodes (every node has outdeg ≥ 1),
    so no teleport-mass redistribution is needed — the right model for
    the affinity/trade/co-occurrence graphs a corpus pipeline scores
    (quality-weighting domains à la CommonCrawl ranks).

    Scale shape per round: ONE |E|⋈|V| join on the pre-partitioned,
    checkpointed edge set (:func:`_symmetrized_edges` — only the ranks
    side exchanges, plan contract shared with connected_components), one
    |E| partial-aggregated sum, one |V| left join. Rank frames are
    eagerly checkpointed per round, lineage stays flat. ``n_iter`` is
    fixed (power iteration), no convergence scan needed; ranks overflow
    int64 only past ~9e18/(damping·scale) total mass — 9e6 nodes at the
    default scale; shrink ``scale`` for bigger graphs.

    ``round_stats``: pass a list to receive one ``{"round": i, "sec":
    wall}`` dict per power iteration (join + aggregate + checkpoint),
    same convention as the other iterative operators. No extra jobs.
    """
    import time as _time

    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    edges = _symmetrized_edges(pairs, id_a, id_b)
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    # outdeg is a per-src CONSTANT: fold it into the checkpointed edge
    # set once, so every round runs ONE join (edges⋈ranks) instead of
    # two — at |E| ≫ |V| the second per-round join was pure overhead.
    # Same AQE-off checkpoint scope as _symmetrized_edges so the
    # LogicalRDD keeps HashPartitioning(src) and rounds exchange only
    # the rank frame.
    with _aqe_disabled(pairs.sparkSession):
        n_parts = edges.rdd.getNumPartitions()
        edges = (
            edges.join(deg, "src")
            .repartition(n_parts, F.col("src"))
            .localCheckpoint(eager=True)
        )
    universe = edges.select(F.col("src").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    teleport = (100 - damping_pct) * scale // 100
    ranks = universe.select(
        "node", F.lit(int(scale)).cast("long").alias("rank")
    ).localCheckpoint(eager=True)
    for rnd in range(n_iter):
        _t0 = _time.time()
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr(
                    f"CAST(({damping_pct} * rank) div (100 * outdeg) AS LONG)"
                ).alias("c"),
            )
        )
        in_mass = contrib.groupBy("node").agg(F.sum("c").alias("m"))
        nxt = (
            universe.join(in_mass, "node", "left")
            .select(
                "node",
                (F.lit(int(teleport)) + F.coalesce(F.col("m"), F.lit(0)))
                .cast("long")
                .alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        ranks = nxt
        if round_stats is not None:
            round_stats.append(
                {"round": rnd, "sec": round(_time.time() - _t0, 3)}
            )
    return ranks


def triangle_stats(
    edges: DataFrame, u: str = "u", v: str = "v"
) -> DataFrame:
    """Exact triangle census of an undirected graph, as ONE summary row:
    ``(n_nodes, n_edges, n_wedges, n_triangles, global_clustering)``.

    Distributed shape (Suri & Vassilvitskii WWW'11 / Cohen's MapReduce
    triangle enumeration): orient every canonical edge from its
    lower-(degree, id) endpoint to its higher one. Every triangle
    x ≺ y ≺ z then materializes EXACTLY once — as the wedge (y, z) at
    its smallest vertex x closed by the oriented edge y→z — so the
    count is one self-join on ``src`` (wedge generation) plus one
    equi-join against the oriented edge set (closure). Orientation by
    degree bounds each node's out-degree by O(√m), so wedge output is
    O(m^1.5) worst case instead of Σ deg² — the difference between a
    skewed hub exploding the shuffle and a balanced one at 100 TB.

    ``n_wedges`` (paths of length 2, Σ_v C(deg v, 2)) comes straight
    off the degree table — no join — and the global clustering
    coefficient is ``3·triangles / wedges``: integer inputs < 2^53 and
    ONE double division, so the value is bit-identical cross-engine
    (the repo's float-exactness recipe). All counts are exact int64.

    Input ``edges`` may carry duplicates, self-loops, or both
    orientations; it is canonicalized (least/greatest, u ≠ v,
    distinct) first.
    """
    e = (
        edges.select(
            F.least(F.col(u), F.col(v)).alias("a"),
            F.greatest(F.col(u), F.col(v)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    # persist: deg feeds orientation AND the wedge-count aggregate, and
    # edge canonicalization is the expensive lineage above it (the
    # repo's measured branch-recomputation trap) — count() eagerly.
    deg = deg.persist()
    deg.count()
    # Orient a→b when (d_a, a) < (d_b, b); carry the destination's key
    # so wedge generation can order its two endpoints without re-joining
    # degrees.
    da, db = deg.alias("da"), deg.alias("db")
    ab = (
        e.join(da, F.col("a") == F.col("da.n"))
        .join(db, F.col("b") == F.col("db.n"))
        .select(
            F.col("a"),
            F.col("b"),
            F.struct(F.col("da.d").alias("d"), F.col("a").alias("n")).alias("ka"),
            F.struct(F.col("db.d").alias("d"), F.col("b").alias("n")).alias("kb"),
        )
    )
    oriented = ab.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(F.col("ka") < F.col("kb"), F.col("kb")).otherwise(F.col("ka")).alias("kdst"),
    ).persist()
    oriented.count()
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.src") == F.col("w2.src"))
        & (F.col("w1.kdst") < F.col("w2.kdst")),
    ).select(F.col("w1.dst").alias("y"), F.col("w2.dst").alias("z"))
    closure = oriented.select(
        F.col("src").alias("y"), F.col("dst").alias("z")
    )
    tri = wedges.join(closure, ["y", "z"], "inner").agg(
        F.count("*").alias("n_triangles")
    )
    summary = deg.agg(
        F.count("*").alias("n_nodes"),
        # coalesce: an empty edge set must census as zeros, not NULLs
        (F.coalesce(F.sum("d"), F.lit(0)) / 2).cast("long").alias("n_edges"),
        F.coalesce(
            F.sum(F.expr("d * (d - 1) div 2")), F.lit(0).cast("long")
        ).alias("n_wedges"),
    )
    out = summary.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            (F.lit(3) * F.col("n_triangles")).cast("double")
            / F.col("n_wedges").cast("double"),
        ).alias("global_clustering"),
    )
    return out


def k_core(
    pairs: DataFrame,
    k: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
    rounds: int | None = None,
    max_rounds: int = 30,
    round_stats: list | None = None,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    every node whose degree is below ``k`` until the remaining subgraph
    (the k-core) is stable. Output: ``(node, degree)`` — the surviving
    nodes with their degree WITHIN the core.

    The corpus-pipeline use is density-based graph denoising: on a
    co-occurrence / affinity graph (domains co-linked, suppliers
    co-ordered, near-dup components), the k-core strips incidental
    fringe attachments and keeps the cohesive backbone — a standard
    community-detection preprocessing step (Seidman 1983; Batagelj &
    Zaveršnik's peel algorithm), and the same peel loop that computes
    degeneracy orderings.

    Two modes:

    - ``rounds=None`` (production): peel until a round removes zero
      nodes, with an exact removed-node count per round; raises past
      ``max_rounds`` rather than silently returning a half-peeled
      graph. Rounds are bounded by the peel depth of the graph (small
      for the heavy-tailed graphs this targets, NOT O(log V) in
      general — a path graph peels one layer per round).
    - ``rounds=N`` (fixed): exactly N peel rounds, no convergence
      scan — deterministic unrollable shape, which is what lets the
      DuckDB oracle replay the identical recurrence in the cross-engine
      hash gate (``kcore_cosuppliers``). Extra rounds past convergence
      are no-ops, so a fixed N ≥ peel depth equals the fixpoint.

    ``round_stats``: pass a list to receive one ``{"round": i, "sec":
    wall, "below": n}`` dict per executed round (``below`` = the exact
    count of sub-threshold nodes that round, present only in
    convergence mode where the scan already computes it — the
    decade-up stress asserts its closed form per round). No extra jobs
    run for it.

    Scale shape per round: one |E| degree aggregation (no exchange —
    edges stay hash-partitioned by ``src`` from
    :func:`_symmetrized_edges`, the groupBy reuses it), one filter, and
    one semi-join per endpoint against the ≤|V| survivor set; the
    ``dst``-side semi-join re-exchanges surviving edges, which then
    re-checkpoint partitioned by ``src`` for the next round (same
    AQE-off checkpoint scope as the other iterative operators — an
    AQE-captured LogicalRDD forgets its partitioning, measured). Each
    round strictly shrinks |E|, so per-round cost is monotonically
    decreasing.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    import time as _time

    edges = _symmetrized_edges(pairs, id_a, id_b)
    n_rounds = rounds if rounds is not None else max_rounds
    for rnd in range(n_rounds):
        _t0 = _time.time()
        deg = edges.groupBy("src").agg(F.count("*").alias("d"))
        keep = deg.filter(F.col("d") >= k).select("src")
        n_below = None
        if rounds is None:
            # Exact convergence scan: one count over the sub-threshold
            # stratum. Runs on the checkpointed edges, so the lineage
            # re-evaluated here is one aggregation, not the history.
            n_below = deg.filter(F.col("d") < k).count()
            if n_below == 0:
                if round_stats is not None:
                    round_stats.append(
                        {
                            "round": rnd,
                            "sec": round(_time.time() - _t0, 3),
                            "below": 0,
                        }
                    )
                break
        survivors = edges.join(keep, "src", "semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "semi"
        )
        with _aqe_disabled(pairs.sparkSession):
            edges = survivors.repartition(F.col("src")).localCheckpoint(
                eager=True
            )
        if round_stats is not None:
            entry = {"round": rnd, "sec": round(_time.time() - _t0, 3)}
            if n_below is not None:
                entry["below"] = n_below
            round_stats.append(entry)
    else:
        if rounds is None:
            raise RuntimeError(
                f"k_core did not converge within max_rounds={max_rounds}"
            )
    return edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("degree")
    )


def _canonical_edges(edges: DataFrame, u: str, v: str) -> DataFrame:
    """(a, b) with a < b by id, no self loops, distinct."""
    return (
        edges.select(
            F.least(F.col(u), F.col(v)).alias("a"),
            F.greatest(F.col(u), F.col(v)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _edge_support(e: DataFrame, handles: list | None = None) -> DataFrame:
    """Per-edge triangle support of a canonical edge set ``e(a, b)``:
    ``(a, b, support)`` for EVERY edge (0 when in no triangle).

    Same degree-ordered orientation as :func:`triangle_stats` — each
    triangle enumerated once as a wedge at its smallest-(degree, id)
    vertex closed by one equi-join, O(m^1.5) wedge output — then each
    triangle charges its THREE id-canonical edges and one count
    aggregation yields supports.

    The degree and oriented-edge frames are persisted (each feeds two
    branches of ONE downstream action — the measured recomputation
    rule); ``handles`` collects them so an iterative caller can
    unpersist after materializing each round instead of accumulating
    cached frames across rounds."""
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    deg = deg.persist()
    deg.count()
    da, db = deg.alias("da"), deg.alias("db")
    ab = (
        e.join(da, F.col("a") == F.col("da.n"))
        .join(db, F.col("b") == F.col("db.n"))
        .select(
            F.col("a"),
            F.col("b"),
            F.struct(F.col("da.d").alias("d"), F.col("a").alias("n")).alias("ka"),
            F.struct(F.col("db.d").alias("d"), F.col("b").alias("n")).alias("kb"),
        )
    )
    oriented = ab.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(F.col("ka") < F.col("kb"), F.col("kb")).otherwise(F.col("ka")).alias("kdst"),
    ).persist()
    oriented.count()
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.src") == F.col("w2.src"))
        & (F.col("w1.kdst") < F.col("w2.kdst")),
    ).select(
        F.col("w1.src").alias("x"),
        F.col("w1.dst").alias("y"),
        F.col("w2.dst").alias("z"),
    )
    closure = oriented.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    tris = wedges.join(closure, ["y", "z"], "inner")
    charges = tris.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
                ),
                F.struct(
                    F.least("x", "z").alias("a"), F.greatest("x", "z").alias("b")
                ),
                F.struct(
                    F.least("y", "z").alias("a"), F.greatest("y", "z").alias("b")
                ),
            )
        ).alias("ed")
    ).select(F.col("ed.a").alias("a"), F.col("ed.b").alias("b"))
    sup = charges.groupBy("a", "b").agg(F.count("*").alias("support"))
    out = e.join(sup, ["a", "b"], "left").select(
        "a", "b", F.coalesce(F.col("support"), F.lit(0).cast("long")).alias("support")
    )
    if handles is not None:
        handles.extend([deg, oriented])
    return out


def k_truss(
    edges: DataFrame,
    k: int,
    u: str = "u",
    v: str = "v",
    rounds: int | None = None,
    max_rounds: int = 20,
    round_stats: list | None = None,
) -> DataFrame:
    """k-truss: peel to the maximal subgraph where EVERY edge closes at
    least ``k−2`` triangles. Output ``(u, v, support)`` — surviving
    canonical edges with their in-truss support (support recomputed on
    the final edge set, so it is the defining invariant's witness).

    The edge-peeling sibling of :func:`k_core` (Cohen 2008): trussness
    is a stronger cohesion signal than coreness (it counts closed
    triangles, not mere degree), the standard community-backbone /
    strong-tie filter on co-occurrence graphs. Per round: one
    :func:`_edge_support` pass (degree-ordered wedge closure, O(m^1.5)
    bounded) and one filter; |E| strictly shrinks. ``rounds=None``
    converges (exact sub-threshold count per round, raises past
    ``max_rounds``); ``rounds=N`` runs the fixed unrollable recurrence
    the DuckDB oracle replays in the cross-engine gate
    (``ktruss_cosuppliers``) — fixed N ≥ peel depth equals the
    fixpoint. Rounds checkpoint eagerly (flat lineage), same discipline
    as the other iterative operators.

    ``round_stats``: pass a list to receive one ``{"round": i, "sec":
    wall, "below": n}`` dict per executed round (``below`` = exact
    count of sub-support edges, convergence mode only — the decade-up
    stress asserts its closed form). No extra jobs run for it.
    """
    import time as _time

    if k < 3:
        raise ValueError(f"k must be >= 3 for a k-truss, got {k}")
    e = _canonical_edges(edges, u, v)
    n_rounds = rounds if rounds is not None else max_rounds
    for rnd in range(n_rounds):
        _t0 = _time.time()
        handles: list = []
        sup = _edge_support(e, handles)
        n_below = None
        if rounds is None:
            n_below = sup.filter(F.col("support") < k - 2).count()
            if n_below == 0:
                for h in handles:
                    h.unpersist()
                if round_stats is not None:
                    round_stats.append(
                        {
                            "round": rnd,
                            "sec": round(_time.time() - _t0, 3),
                            "below": 0,
                        }
                    )
                break
        e = (
            sup.filter(F.col("support") >= k - 2)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        # the round is materialized in the checkpoint: release this
        # round's cached degree/orientation frames
        for h in handles:
            h.unpersist()
        if round_stats is not None:
            entry = {"round": rnd, "sec": round(_time.time() - _t0, 3)}
            if n_below is not None:
                entry["below"] = n_below
            round_stats.append(entry)
    else:
        if rounds is None:
            raise RuntimeError(
                f"k_truss did not converge within max_rounds={max_rounds}"
            )
    return _edge_support(e).select(
        F.col("a").alias(u), F.col("b").alias(v), "support"
    )
