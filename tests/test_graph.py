"""Unit tests for operators.graph.connected_components."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakeshack_spark.operators import graph
from lakeshack_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark(app_name="test_graph", shuffle_partitions=4)


def _labels(df):
    return {r.node: r.cluster_id for r in df.collect()}


def test_cc_chain_cycle_and_singleton(spark):
    # chain 0-1-2-3-4 (diameter 4: exercises pointer jumping),
    # triangle 10-11-12 with a duplicate + reversed edge,
    # pair 20-21, singleton 30 only in the node universe
    edges = [(1, 0), (1, 2), (2, 3), (3, 4),
             (10, 11), (11, 12), (12, 10), (11, 10),
             (21, 20)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    nodes = spark.createDataFrame(
        [(n,) for n in [0, 1, 2, 3, 4, 10, 11, 12, 20, 21, 30]], "doc_id long"
    )
    got = _labels(
        graph.connected_components(pairs, nodes=nodes, node_col="doc_id")
    )
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30}


def test_cc_without_universe_covers_edge_endpoints(spark):
    pairs = spark.createDataFrame([(5, 9), (9, 7)], "id_a long, id_b long")
    got = _labels(graph.connected_components(pairs))
    assert got == {5: 5, 7: 5, 9: 5}


def test_cc_long_path_converges_in_log_rounds(spark):
    # path of 33 nodes: diameter 32, log2 ≈ 5 — pointer jumping must
    # converge well under a diameter's worth of rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(32)], "id_a long, id_b long"
    )
    got = _labels(graph.connected_components(pairs, max_rounds=10))
    assert set(got.values()) == {0} and len(got) == 33


def test_cc_path_blocks_closed_form_labels_in_log_rounds(spark):
    """Disjoint diameter-B path blocks — label propagation's worst case:
    every node's label is its block's min id (i - i % B), and pointer
    jumping converges in O(log B) rounds, never O(B)."""
    import math

    B, n = 16, 100
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1) if (i + 1) % B],
        "id_a long, id_b long",
    )
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    stats: list = []
    labels = graph.connected_components(
        pairs, nodes=nodes, node_col="doc_id", round_stats=stats
    )
    assert _labels(labels) == {i: i - i % B for i in range(n)}
    assert len(stats) <= 2 * math.ceil(math.log2(B)) + 2, len(stats)


def test_cc_round_stats_instrumentation(spark):
    """``round_stats`` (VERDICT r9 #5) must receive one {round, sec}
    dict per executed round, labels unchanged, and no stats list must
    mean no overhead path (default None)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    stats: list = []
    got = _labels(graph.connected_components(pairs, round_stats=stats))
    assert set(got.values()) == {0} and len(got) == 9
    assert len(stats) >= 1
    assert [s["round"] for s in stats] == list(range(len(stats)))
    assert all(s["sec"] >= 0 for s in stats)
    # identical labels without instrumentation
    assert got == _labels(graph.connected_components(pairs))


def test_cc_nonconvergence_raises(spark):
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(pairs, max_rounds=0)


def test_cc_universe_missing_endpoint_still_gets_min_label(spark):
    """An edge endpoint absent from the supplied node universe must still
    self-label: if it is its component's minimum id, the component's
    cluster_id must be that id, not a larger universe member's."""
    pairs = spark.createDataFrame([(3, 5)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(5,), (9,)], "doc_id long")
    got = _labels(graph.connected_components(pairs, nodes=nodes, node_col="doc_id"))
    assert got == {3: 3, 5: 3, 9: 9}


def test_triangle_stats_known_graph(spark):
    # triangle {1,2,3} + square {4,5,6,7} (no triangle) + pendant (3,8),
    # with duplicate / reversed / self-loop noise that must canonicalize
    edges = [(1, 2), (2, 3), (1, 3), (3, 1), (2, 1),
             (4, 5), (5, 6), (6, 7), (7, 4), (3, 8), (5, 5)]
    df = spark.createDataFrame(edges, "u long, v long")
    (row,) = graph.triangle_stats(df).collect()
    assert row.n_nodes == 8
    assert row.n_edges == 8
    # degrees: 1:2 2:2 3:3 4:2 5:2 6:2 7:2 8:1 -> sum C(d,2) = 9
    assert row.n_wedges == 9
    assert row.n_triangles == 1
    assert row.global_clustering == 3.0 / 9.0


def test_triangle_stats_matches_bruteforce(spark):
    # md5-derived pseudo-random graph on 24 nodes, ~30% density
    import hashlib
    from itertools import combinations

    nodes = list(range(24))
    edges = [
        (a, b)
        for a, b in combinations(nodes, 2)
        if int(hashlib.md5(f"tri:{a}:{b}".encode()).hexdigest()[:4], 16) % 10 < 3
    ]
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = sum(
        1 for x, y, z in combinations(nodes, 3)
        if y in adj[x] and z in adj[x] and z in adj[y]
    )
    df = spark.createDataFrame(edges, "u long, v long")
    (row,) = graph.triangle_stats(df).collect()
    assert row.n_triangles == want
    assert row.n_edges == len(edges)
    deg = {n: len(adj[n]) for n in nodes}
    assert row.n_wedges == sum(d * (d - 1) // 2 for d in deg.values())


# ------------------------------------------------------------- k-core


def test_kcore_peels_pendant_keeps_clique(spark):
    # triangle 1-2-3 plus pendant 4 hanging off 3, plus chain 5-6:
    # 2-core = the triangle alone, each node with in-core degree 2.
    # Peeling 4 must DROP 3's degree before the final answer.
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (5, 6)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = sorted(
        (r.node, r.degree) for r in graph.k_core(pairs, k=2).collect()
    )
    assert got == [(1, 2), (2, 2), (3, 2)]


def test_kcore_cascade_to_empty(spark):
    # a path graph has no 2-core: peeling cascades from both ends
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    assert graph.k_core(pairs, k=2).count() == 0


def test_kcore_fixed_rounds_equals_converged_when_deep_enough(spark):
    # two triangles plus a 2-deep pendant path off node 3 (peeling 5
    # exposes 4 — depth 2): fixed rounds >= peel depth must equal the
    # converged fixpoint row-for-row
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5),
             (6, 7), (7, 8), (8, 6)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    conv = sorted((r.node, r.degree)
                  for r in graph.k_core(pairs, k=2).collect())
    fixed = sorted((r.node, r.degree)
                   for r in graph.k_core(pairs, k=2, rounds=6).collect())
    assert conv == fixed and len(conv) == 6


def test_kcore_validates(spark):
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="k must be"):
        graph.k_core(pairs, k=0)
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.k_core(
            spark.createDataFrame([(i, i + 1) for i in range(20)],
                                  "id_a long, id_b long"),
            k=2,
            max_rounds=2,
        )


# ------------------------------------------------------------- k-truss


def test_ktruss_drops_pendant_keeps_shared_triangles(spark):
    # K4: every edge closes 2 triangles -> the 4-truss is K4 itself,
    # each edge with support 2; a pendant edge (4,5) must vanish.
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    pairs = spark.createDataFrame(edges, "u long, v long")
    got = sorted(
        (r.u, r.v, r.support) for r in graph.k_truss(pairs, k=4).collect()
    )
    assert got == [(1, 2, 2), (1, 3, 2), (1, 4, 2),
                   (2, 3, 2), (2, 4, 2), (3, 4, 2)]


def test_ktruss_cascade(spark):
    # K4 minus edge (1,4): only (2,3) closes two triangles; after it
    # alone survives round 1, it closes none -> 4-truss is EMPTY.
    edges = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    pairs = spark.createDataFrame(edges, "u long, v long")
    assert graph.k_truss(pairs, k=4).count() == 0
    # but the 3-truss (every edge in >= 1 triangle) keeps all five
    got3 = sorted(
        (r.u, r.v, r.support) for r in graph.k_truss(pairs, k=3).collect()
    )
    assert got3 == [(1, 2, 1), (1, 3, 1), (2, 3, 2), (2, 4, 1), (3, 4, 1)]


def test_ktruss_fixed_rounds_equals_converged(spark):
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 6), (4, 6)]
    pairs = spark.createDataFrame(edges, "u long, v long")
    conv = sorted(
        (r.u, r.v, r.support) for r in graph.k_truss(pairs, k=4).collect()
    )
    fixed = sorted(
        (r.u, r.v, r.support)
        for r in graph.k_truss(pairs, k=4, rounds=4).collect()
    )
    assert conv == fixed and len(conv) == 6


def test_ktruss_validates(spark):
    pairs = spark.createDataFrame([(1, 2)], "u long, v long")
    with pytest.raises(ValueError, match="k must be"):
        graph.k_truss(pairs, k=2)


def test_kcore_matches_bruteforce(spark):
    """k_core ≡ a pure-Python peel on an md5-derived pseudo-random
    graph, for several k."""
    import hashlib
    from itertools import combinations

    nodes = list(range(20))
    edges = [
        (a, b)
        for a, b in combinations(nodes, 2)
        if int(hashlib.md5(f"kc:{a}:{b}".encode()).hexdigest()[:4], 16) % 10 < 3
    ]

    def py_kcore(es, k):
        es = set(es)
        while True:
            deg = {}
            for a, b in es:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            drop = {n for n, d in deg.items() if d < k}
            if not drop:
                return {n: d for n, d in deg.items()}
            es = {(a, b) for a, b in es if a not in drop and b not in drop}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    for k in (2, 3, 4):
        want = py_kcore(edges, k)
        got = {r.node: r.degree for r in graph.k_core(df, k=k).collect()}
        assert got == want, (k, got, want)


def test_ktruss_matches_bruteforce(spark):
    """k_truss ≡ a pure-Python support peel on the same pseudo-random
    graph family."""
    import hashlib
    from itertools import combinations

    nodes = list(range(16))
    edges = [
        (a, b)
        for a, b in combinations(nodes, 2)
        if int(hashlib.md5(f"kt:{a}:{b}".encode()).hexdigest()[:4], 16) % 10 < 4
    ]

    def support(es):
        es = set(es)
        adj = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        return {
            (a, b): len(adj[a] & adj[b]) for a, b in es
        }

    def py_ktruss(es, k):
        es = set(es)
        while True:
            sup = support(es)
            drop = {e for e, s in sup.items() if s < k - 2}
            if not drop:
                return sup
            es -= drop

    df = spark.createDataFrame(edges, "u long, v long")
    for k in (3, 4):
        want = py_ktruss(edges, k)
        got = {
            (r.u, r.v): r.support for r in graph.k_truss(df, k=k).collect()
        }
        assert got == want, (k, got, want)


def test_kcore_planted_block_closed_form_and_round_stats(spark):
    """The planted clique+tendril construction (tests/planted.py), pinned
    at unit scale: clique+tendril blocks peel EXACTLY one node per block
    per round under k=2, and round_stats records the closed-form per-round
    sub-threshold counts (VERDICT r10 #4)."""
    from tests.planted import (
        KCORE_CLIQUE,
        KCORE_STRIDE,
        KCORE_TENDRIL,
        kcore_block_edges,
    )

    n_blocks = 3
    template = kcore_block_edges()
    edges = [
        (b * KCORE_STRIDE + u, b * KCORE_STRIDE + v)
        for b in range(n_blocks)
        for u, v in template
    ]
    df = spark.createDataFrame(edges, "u long, v long")
    stats = []
    core = graph.k_core(df, k=2, id_a="u", id_b="v", round_stats=stats)
    got = {r.node: r.degree for r in core.collect()}
    want = {
        b * KCORE_STRIDE + i: KCORE_CLIQUE - 1
        for b in range(n_blocks)
        for i in range(KCORE_CLIQUE)
    }
    assert got == want
    assert [s["below"] for s in stats] == [n_blocks] * KCORE_TENDRIL + [0]
    assert [s["round"] for s in stats] == list(range(KCORE_TENDRIL + 1))
    assert all(s["sec"] >= 0 for s in stats)


def test_ktruss_planted_block_matches_pure_python_oracle(spark):
    """One k-truss stress block through Spark ≡ the pure-Python peel
    oracle: final per-edge supports exact, per-round removal counts
    exact (the cascade is multi-round by construction)."""
    from tests.planted import (
        KTRUSS_W,
        ktruss_block_edges,
        ktruss_block_truth,
    )

    expect_sup, removed = ktruss_block_truth()
    assert len(removed) >= 3  # genuinely multi-round cascade
    df = spark.createDataFrame(ktruss_block_edges(), "u long, v long")
    stats = []
    truss = graph.k_truss(
        df, k=KTRUSS_W + 2, u="u", v="v", round_stats=stats
    )
    got = {(r.u, r.v): r.support for r in truss.collect()}
    assert got == expect_sup
    assert [s["below"] for s in stats] == removed


def test_pagerank_planted_block_matches_scalar_oracle(spark):
    """One K_{a,b} stress block through Spark ≡ the two-class scalar
    recurrence: heterogeneous outdegs (b vs a) with every node's rank
    int64-exact."""
    from tests.planted import (
        PR_SIDE_A,
        PR_SIDE_B,
        pagerank_block_edges,
        pagerank_block_truth,
    )

    df = spark.createDataFrame(pagerank_block_edges(), "u long, v long")
    ra, rb = pagerank_block_truth(n_iter=4)
    assert ra != rb  # the two degree classes must actually differ
    got = {
        r.node: r.rank
        for r in graph.pagerank(df, n_iter=4, id_a="u", id_b="v").collect()
    }
    want = {
        i: (ra if i < PR_SIDE_A else rb)
        for i in range(PR_SIDE_A + PR_SIDE_B)
    }
    assert got == want


def test_triangle_planted_block_matches_pure_python_census(spark):
    """One stress block through triangle_stats ≡ the pure-Python census
    (nodes, edges, wedges, triangles, and the one-division clustering
    coefficient bit-exact)."""
    from tests.planted import (
        ktruss_block_edges,
        triangle_block_truth,
    )

    truth = triangle_block_truth()
    df = spark.createDataFrame(ktruss_block_edges(), "u long, v long")
    row = graph.triangle_stats(df, u="u", v="v").collect()[0]
    assert {k: row[k] for k in truth} == truth
    assert row["global_clustering"] == (
        3.0 * truth["n_triangles"] / truth["n_wedges"]
    )


def test_cc_materializes_propagated_each_round(spark, monkeypatch):
    """r13: the pointer jump self-joins ``propagated``, so the propagate
    aggregation (whose lineage holds the round's |E|join|V| edge join)
    must be EAGERLY checkpointed before the jump — left lazy, the
    subtree evaluates once per consumer inside one job (measured
    −11..−32% at 0.5M-10M edges, plans/r13/cc_materialize_ab.txt). Pin: exactly TWO
    eager localCheckpoint calls per round on the round's 3-column
    (node, label, old) frames — propagated AND jumped; a reversion to
    the lazy shape drops it to one."""
    # Spark 4: concrete frames are pyspark.sql.classic.dataframe.DataFrame,
    # which overrides localCheckpoint — patch the class that resolves.
    from pyspark.sql.classic.dataframe import DataFrame

    calls: list[list[str]] = []
    orig = DataFrame.localCheckpoint

    def counting(self, eager=True):
        calls.append(sorted(self.columns))
        return orig(self, eager=eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", counting)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    stats: list = []
    got = _labels(graph.connected_components(pairs, round_stats=stats))
    assert set(got.values()) == {0} and len(got) == 9
    rounds = len(stats)
    assert rounds >= 2  # pointer jumping on a 9-node path: >1 round
    per_round = [c for c in calls if c == ["label", "node", "old"]]
    assert len(per_round) == 2 * rounds, (len(per_round), rounds, calls)


def test_cc_aqeoff_dispatch_arms_agree(spark, monkeypatch):
    """r14: the per-round propagate checkpoint takes the scoped-AQE-off
    form only at |V| >= CC_AQEOFF_MIN_NODES (measured a LOSS on small
    graphs, a win at 25M nodes — plans/r14/cc_aqeoff_ab.txt). Pin both
    dispatch arms: forcing the threshold to 1 routes a tiny graph
    through the scoped arm, labels must be identical to the default
    (AQE-on) arm, and the session's AQE flag must be restored."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)] + [(20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    base = _labels(graph.connected_components(pairs))
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    monkeypatch.setattr(graph, "CC_AQEOFF_MIN_NODES", 1)
    scoped = _labels(graph.connected_components(pairs))
    assert scoped == base
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev


def test_aqe_disabled_restores_prior_value(spark):
    """The one scoped AQE-off helper restores the session's prior value
    when its body raises, and leaves an already-"false" session at
    "false" (it must not reset it to the "true" default)."""
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key, "true")
    try:
        spark.conf.set(key, "true")
        with pytest.raises(RuntimeError, match="body failed"):
            with graph._aqe_disabled(spark):
                assert spark.conf.get(key) == "false"
                raise RuntimeError("body failed")
        assert spark.conf.get(key) == "true"
        spark.conf.set(key, "false")
        with graph._aqe_disabled(spark):
            assert spark.conf.get(key) == "false"
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, prev)
