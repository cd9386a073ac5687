"""Planted-truth constructions with closed-form answers, at unit scale.

Each builder makes an input whose exact operator output is known by
construction, so a test asserts ground truth rather than a smoke check:

- k-core: clique + pendant tendril blocks that peel exactly one node
  per block per round under k=2;
- k-truss: a cycle power + path-power tendril whose edge peel cascades
  over several rounds to exactly the cycle edges (pure-Python oracle);
- PageRank: a complete bipartite block whose two sides follow a scalar
  int64 recurrence;
- triangle census of the k-truss block (pure-Python oracle);
- as-of join: a grid of right-side quotes whose backward match for every
  left row is a closed-form slot;
- sessionize: per-user event blocks separated by gaps over the threshold,
  so every session id is ``1 + (j div BLOCK)``.

The same constructions ran at 1M-10M rows in the deleted stress scripts
(``git show b7e8b89:tools/stress_iterative.py``, ``stress_asof.py``,
``stress_sessionize.py``).
"""

from __future__ import annotations

from pyspark.sql import functions as F

# ------------------------------------------------------------- k-core

#: k-core block: clique K_c (ids 0..c-1) + a pendant tendril path of t
#: nodes hung off clique vertex 0 (ids c..c+t-1). Under k=2 the tendril
#: peels EXACTLY one node per round from the free end (interior path
#: nodes hold degree 2 until exposed), so round r removes exactly one
#: node per block — peel depth linear in tendril length, the k-core
#: analog of CC's diameter-path worst case.
KCORE_CLIQUE = 8
KCORE_TENDRIL = 8
KCORE_STRIDE = KCORE_CLIQUE + KCORE_TENDRIL


def kcore_block_edges() -> list[tuple[int, int]]:
    """Block-local (u, v) edge template: C(c,2) + t edges."""
    c, t = KCORE_CLIQUE, KCORE_TENDRIL
    edges = [(i, j) for i in range(c) for j in range(i + 1, c)]
    prev = 0  # tendril hangs off clique vertex 0
    for x in range(c, c + t):
        edges.append((prev, x))
        prev = x
    return edges


# ------------------------------------------------------------ k-truss

#: k-truss block: cycle power C_n^{w+1} (every vertex joined to its w+1
#: nearest on each side — min edge support w, so it survives support ≥ w
#: exactly) + a path-power-w tendril hung off cycle vertex 0. The
#: tendril's longest-distance edges have support w-1 < w, peel, and the
#: loss cascades through the shorter distance classes until the whole
#: tendril is gone — a multi-round edge peel whose final state is
#: exactly the cycle edges. Expected per-round removals come from
#: :func:`ktruss_block_truth`'s pure-Python peel.
KTRUSS_W = 4
KTRUSS_CYCLE = 60
KTRUSS_TENDRIL = 24


def ktruss_block_edges() -> list[tuple[int, int]]:
    w, n, t = KTRUSS_W, KTRUSS_CYCLE, KTRUSS_TENDRIL
    edges = set()
    for i in range(n):  # cycle power, width w+1
        for d in range(1, w + 2):
            a, b = i, (i + d) % n
            edges.add((min(a, b), max(a, b)))
    seq = [0] + list(range(n, n + t))  # tendril path power, width w
    for i in range(len(seq)):
        for d in range(1, w + 1):
            if i + d < len(seq):
                a, b = seq[i], seq[i + d]
                edges.add((min(a, b), max(a, b)))
    return sorted(edges)


def _adjacency(edges) -> dict[int, set]:
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return adj


def ktruss_block_truth() -> tuple[dict, list[int]]:
    """Pure-Python support peel of ONE block: (final {(u,v): support},
    per-round sub-threshold edge counts ending in 0). Independent of
    the Spark code path."""
    E = set(ktruss_block_edges())
    k = KTRUSS_W + 2  # support >= w
    removed_per_round = []
    while True:
        adj = _adjacency(E)
        sup = {e: len(adj[e[0]] & adj[e[1]]) for e in E}
        bad = {e for e, s in sup.items() if s < k - 2}
        removed_per_round.append(len(bad))
        if not bad:
            return sup, removed_per_round
        E -= bad


def triangle_block_truth() -> dict:
    """Pure-Python exact census of ONE k-truss block (cycle power +
    tendril gives heterogeneous degrees): n_nodes, n_edges, n_wedges
    (Σ C(d,2)), n_triangles."""
    E = set(ktruss_block_edges())
    adj = _adjacency(E)
    n_tri = sum(len(adj[a] & adj[b]) for a, b in E) // 3
    n_wedges = sum(d * (d - 1) // 2 for d in map(len, adj.values()))
    return {
        "n_nodes": len(adj),
        "n_edges": len(E),
        "n_wedges": n_wedges,
        "n_triangles": n_tri,
    }


# ----------------------------------------------------------- PageRank

#: PageRank block: complete bipartite K_{a,b} — heterogeneous degrees
#: (side-A nodes have degree b, side-B degree a), so the per-edge
#: ``(d·rank) div (100·outdeg)`` term is exercised with two distinct
#: outdegs, and by symmetry every node of a side carries EXACTLY the
#: side's scalar recurrence value: rA' = t + b·((85·rB) div (100·a)),
#: rB' = t + a·((85·rA) div (100·b)). A uniform-degree construction
#: could not distinguish outdeg mix-ups; this one can.
PR_SIDE_A = 5
PR_SIDE_B = 20


def pagerank_block_edges() -> list[tuple[int, int]]:
    a, b = PR_SIDE_A, PR_SIDE_B
    return [(i, a + j) for i in range(a) for j in range(b)]


def pagerank_block_truth(n_iter: int, damping_pct: int = 85,
                         scale: int = 10**9) -> tuple[int, int]:
    """(rank of every side-A node, rank of every side-B node) after
    n_iter exact integer power iterations — the pure-Python oracle."""
    a, b = PR_SIDE_A, PR_SIDE_B
    tele = (100 - damping_pct) * scale // 100
    ra = rb = scale
    for _ in range(n_iter):
        ra, rb = (
            tele + b * ((damping_pct * rb) // (100 * a)),
            tele + a * ((damping_pct * ra) // (100 * b)),
        )
    return ra, rb


# ------------------------------------------------------------ as-of join

#: Right side: K keys × R grid quotes per key at times g·STEP, value
#: key·VAL_MULT + g. Left side: key = id mod K, time t = (id·SCATTER)
#: mod (R·STEP) — a deterministic scatter over the grid range. The
#: backward as-of match of every left row is slot g* = t div STEP.
K_KEYS = 10_000
R_QUOTES = 100
STEP = 1_000
VAL_MULT = 1_000_003
SCATTER = 2_654_435_761  # Knuth multiplicative constant — deterministic


def build_sides(spark, n_left: int, n_keys: int = K_KEYS):
    """(left, right) frames of the planted grid over ``n_keys`` keys."""
    par = spark.sparkContext.defaultParallelism
    t_range = R_QUOTES * STEP
    left = spark.range(n_left, numPartitions=par).select(
        F.col("id"),
        (F.col("id") % n_keys).alias("key"),
        ((F.col("id") * SCATTER) % t_range).alias("t"),
    )
    right = spark.range(n_keys * R_QUOTES, numPartitions=par).select(
        (F.col("id") % n_keys).alias("key"),
        F.expr(f"(id div {n_keys}) * {STEP}").alias("rt"),
        F.expr(f"(id % {n_keys}) * {VAL_MULT} + (id div {n_keys})").alias(
            "quote"
        ),
    )
    return left, right


# ------------------------------------------------------------ sessionize

#: Event j of a user sits at t = j·10 + (j div BLOCK)·1000: deltas are
#: 10 inside a block and 1010 across a block boundary, so a 500 gap
#: threshold breaks sessions exactly at block boundaries.
EVENTS_PER_USER = 1_000
BLOCK = 40
GAP_THRESHOLD = 500


def build_events(spark, n_rows: int):
    """id → (user_id, event index j, planted time ts)."""
    par = spark.sparkContext.defaultParallelism
    e = EVENTS_PER_USER
    return spark.range(n_rows, numPartitions=par).select(
        F.expr(f"id div {e}").alias("user_id"),
        (F.col("id") % e).alias("j"),
        F.expr(f"(id % {e}) * 10 + ((id % {e}) div {BLOCK}) * 1000").alias(
            "ts"
        ),
    )
