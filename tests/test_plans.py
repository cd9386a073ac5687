"""Plan-shape contracts: the properties that make these queries survive a
100× scale-up, asserted against the physical plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakeshack_spark import plans
from lakeshack_spark.queries import SPECS

SF = "/root/testdata/sf0.01"


def q(name, spark):
    return SPECS[name][0](spark, SF)


def test_filter_reaches_parquet_scan(spark):
    df = q("scan_filter_project", spark)
    pf = plans.pushed_filters(df)
    assert any("l_shipdate" in f for f in pf), pf


def test_projection_prunes_read_schema(spark):
    df = q("scan_filter_project", spark)
    for cols in plans.read_schema_columns(df):
        assert set(cols) <= {
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_shipdate",
        }, cols


def test_pruned_lookup_pushes_in_list(spark):
    df = q("shack_pruned_lookup", spark)
    pf = plans.pushed_filters(df)
    assert any("o_custkey" in f for f in pf), pf
    assert any("o_orderdate" in f for f in pf), pf


def test_q3_broadcasts_dimension(spark):
    assert plans.has_broadcast_hash_join(q("q3_shipping_priority", spark))


def test_q5_broadcasts_dims(spark):
    assert plans.has_broadcast_hash_join(q("q5_revenue_by_nation", spark))


def test_topk_is_take_ordered_not_global_sort(spark):
    assert plans.has_take_ordered(q("topk_orders", spark))


def test_q1_has_map_side_combine(spark):
    assert plans.has_partial_aggregation(q("q1_pricing_summary", spark))


def test_q1_single_shuffle(spark):
    """Partial+final agg → exactly one Exchange in the whole plan."""
    plan = plans.explain_str(q("q1_pricing_summary", spark))
    assert plan.count("(5) Exchange") + plan.count("Exchange (") <= 2
    assert plan.count("Exchange") >= 1


def test_semi_join_is_semi_in_plan(spark):
    plan = plans.explain_str(q("semi_join_big_spenders", spark))
    assert "LeftSemi" in plan


def test_minhash_no_cartesian_product(spark):
    """LSH candidate generation must be an equi-join on (band, bucket),
    never a cartesian/nested-loop product — and the exact-Jaccard verify
    stage must join only on candidate ids, not all pairs."""
    plan = plans.explain_str(q("minhash_dedup_verified", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_assign_is_map_side(spark):
    """IVF cell assignment must not shuffle: no Exchange (and no window)
    between scoring and argmax — the centroid argmax folds into the row
    projection."""
    from lakeshack_spark.operators import similarity
    from lakeshack_spark.sources.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    cells = similarity.ivf_assign(emb, similarity.sample_centroids(emb, 4))
    plan = plans.explain_str(cells.select("vec_id", "cell"))
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan


def test_asof_join_union_strategy_single_shuffle_no_join(spark):
    """The default (union carry-forward) as-of must never join: ONE hash
    exchange on the key over the |L|+|R| union, one sort, one running
    Window — the intermediate tracks the inputs, not the per-key quote
    history (r12: 2.2 s vs the join form's 31.7 s at 10M probes)."""
    import re

    plan = plans.explain_str(q("asof_join_events_orders", spark))
    assert "Join" not in plan, plan
    # one Exchange NODE in the plan tree (formatted explain also repeats
    # the operator name in its "(9) Exchange" detail header — count tree
    # entries, which read "Exchange (9)")
    assert len(re.findall(r"Exchange \(\d+\)", plan)) == 1, plan
    assert "Window" in plan, plan
    assert "last(__rrow" in plan, plan


def test_asof_join_strategy_partial_aggregates_before_shuffle(spark):
    """The join-strategy as-of (kept for extreme single-key skew, where
    AQE can split join partitions but not a window key) must stay an
    aggregation with map-side partial combine (shuffle carries one
    candidate per left row), never a window over the full join output."""
    from lakeshack_spark.operators.relational import asof_join
    from lakeshack_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    ev = (
        load_table(spark, SF, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("ts_ns"))
    )
    o = load_table(spark, SF, "orders").select(
        F.col("o_custkey").alias("user_id"),
        "o_orderkey",
        (F.unix_micros(F.col("o_orderdate").cast("timestamp")) * 1000).alias(
            "order_ns"
        ),
    )
    out = asof_join(
        ev, o, on="user_id", left_time="ts_ns", right_time="order_ns",
        left_key="event_id", right_tiebreak="o_orderkey", strategy="join",
    )
    plan = plans.explain_str(out)
    assert "Window" not in plan, plan
    assert "partial_max_by" in plan, plan


def test_asof_auto_sampler_plan_is_all_jvm(spark):
    """The strategy="auto" skew estimator must stay all-JVM: its first
    cut sampled via mapInPandas with an early return, and the JVM
    PythonRunner writer drained the whole partition through Arrow
    anyway, making the "bounded" estimate scale with |left| (2.45 s vs
    0.5-0.8 s at 10M). No Python eval node may creep back into a cost
    ESTIMATOR, and its aggregation must keep map-side partial combine
    (partial_count before the exchange)."""
    from lakeshack_spark.operators.relational import _hot_key_share_plan
    from lakeshack_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, SF, "events").select(
        "user_id", F.col("ts").alias("ts_ns")
    )
    plan = plans.explain_str(_hot_key_share_plan(ev, ["user_id"], "ts_ns"))
    for py_node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py_node not in plan, plan
    assert "partial_count" in plan, plan


def test_hash_split_is_map_only(spark):
    """Dataset splitting must never shuffle (pure column transform)."""
    from lakeshack_spark.operators import sampling
    from lakeshack_spark.sources.catalog import load_table

    docs = load_table(spark, SF, "documents")
    out = sampling.hash_split(docs, "doc_id", {"train": 0.9, "test": 0.1})
    assert "Exchange" not in plans.explain_str(out)


def test_q18_aggregates_lineitem_below_the_join(spark):
    """q18 must pre-aggregate lineitem by l_orderkey (map-side partial
    combine) and apply the HAVING filter BEFORE the join — joining raw
    lineitem first shuffles ~6× more rows through the join at sf1. In the
    plan tree (parents print first) the Join must therefore appear above
    the aggregates, with a partial_sum on the lineitem side."""
    plan = q("q18_large_orders", spark)._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan, plan
    join_at = plan.find("Join")
    agg_at = plan.find("HashAggregate")
    assert join_at != -1 and agg_at != -1
    assert join_at < agg_at, plan


def test_topk_window_is_two_stage(spark):
    """Per-query top-k must not collapse ranking parallelism to #queries:
    a partial row_number over (query_id, input-partition) prunes each
    partition to k rows per query BEFORE the global per-query window, so
    the final window ranks ≤ k × #partitions rows per query instead of
    every scored candidate. Asserted for both the brute-force and IVF
    entries: two Window nodes, the partial one keyed by the
    spark_partition_id column."""
    for name in ("cosine_topk_bruteforce", "ivf_topk_full_probe"):
        plan = plans.explain_str(q(name, spark))
        assert plan.count("Window") >= 2, (name, plan)
        assert "__part" in plan and "__prank" in plan, (name, plan)


def test_lsh_self_join_reuses_signature_exchange(spark):
    """At scale the LSH banded self-join runs as an SMJ over two
    IDENTICAL shuffle children, and AQE must dedup them
    (ReusedExchange/ReusedQueryStage) so the expensive signature map
    stage — minhash folds, SRP projections — is computed ONCE, not per
    join side. Pinned because any asymmetry introduced between the two
    sides (an extra column, a repartition, a filter on one alias) would
    silently double the dominant map work at 100 TB. At sf0.01 AQE
    normally picks BHJ (where recompute is the cheap-side regime), so
    the at-scale SMJ shape is forced via the broadcast threshold; reuse
    only materializes in the FINAL adaptive plan, so the assertion runs
    after an action on the same DataFrame."""
    from lakeshack_spark.operators import dedup, similarity
    from lakeshack_spark.sources.catalog import load_table

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = load_table(spark, SF, "documents")
        m = dedup.minhash_verified_pairs(docs.select("doc_id", "text"))
        m.collect()
        pm = m._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in pm
        assert "ReusedExchange" in pm or "ReusedQueryStage" in pm, pm

        emb = load_table(spark, SF, "embeddings")
        s = similarity.srp_near_dup_pairs(emb, dim=64)
        s.collect()
        ps = s._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in ps or "ReusedQueryStage" in ps, ps
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_join_broadcast_dim_is_aqe_choice_not_hint(spark):
    """join_broadcast_dim carries NO broadcast hint (the MACHINERY slice
    of customer grows with the dataset — a hard hint is an OOM at 100×);
    at sf0.01 the optimizer still picks BHJ on its own because the slice
    is under the threshold. Hint-free-ness is asserted on the analyzed
    logical plan (no ResolvedHint/UnresolvedHint node)."""
    df = q("join_broadcast_dim", spark)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "Hint" not in logical, logical
    assert plans.has_broadcast_hash_join(df)


def test_cc_edges_join_reuses_checkpoint_partitioning(spark):
    """connected_components: the checkpointed edge set keeps its
    HashPartitioning(src), so a round's edges⋈labels join exchanges ONLY
    the labels side — the |E| term must never re-shuffle per round.
    Checkpointing under AQE would capture UnknownPartitioning and
    silently re-shuffle edges every round (measured), which is why
    _symmetrized_edges scopes AQE off for the materialization."""
    from lakeshack_spark.operators import graph

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(200)], "id_a long, id_b long"
        )
        edges = graph._symmetrized_edges(pairs, "id_a", "id_b")
        labels = spark.range(201).select(
            F.col("id").alias("node"), F.col("id").alias("label")
        )
        j = edges.join(labels, edges.src == labels.node)
        j.collect()
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final, final
        final_section = final.split("== Initial Plan ==")[0]
        # exactly one exchange, and it is on the labels (node) side
        assert final_section.count("Exchange hashpartitioning") == 1, final_section
        assert "Exchange hashpartitioning(node" in final_section, final_section
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bloom_membership_filter_below_the_join(spark):
    """The Bloom prefilter must run on the probe side BEFORE the semi
    join (that ordering IS the operator's point: non-matching rows die
    in the scan stage, not in the shuffle). The plan shows the bit-test
    Filter on the lineitem branch beneath the join, with the bit array
    appearing exactly ONCE per plan (the plan-cost discipline)."""
    df = q("bloom_semi_join_lineitem", spark)
    s = plans.explain_str(df)
    join_at = s.find("LeftSemi")
    assert join_at != -1, s[:500]
    # the forall bit-test filter appears after (i.e. beneath) the join
    filter_at = s.find("forall")
    assert filter_at > join_at, (join_at, filter_at)


def test_heavy_hitters_recount_broadcasts_candidates(spark):
    """The exact verify pass must broadcast the (bounded) candidate set
    against the token stream — a shuffle join here would defeat the
    sketch (the probe side would shuffle O(corpus tokens) anyway)."""
    df = q("heavy_hitter_terms", spark)
    assert plans.has_broadcast_hash_join(df)
    # the full-cardinality aggregation appears only once (final recount),
    # never for the raw distinct-term space before candidate pruning
    s = plans.explain_str(df)
    assert "ArrowEvalPython" in s or "MapInPandas" in s, s[:400]


def test_bm25_filters_postings_before_aggregation(spark):
    """The literal query-term IN-list must cut the exploded postings
    BEFORE the (doc, term) aggregation shuffles them."""
    df = q("bm25_search_docs", spark)
    s = plans.explain_str(df)
    filt = s.find("IN (spark,merge,window)")
    if filt == -1:
        filt = s.find("IN (merge,spark,window)")
    agg = s.find("partial_count")
    assert filt != -1, s[:800]
    assert agg != -1


def test_unigram_lm_single_document_shuffle(spark):
    """Scoring aggregates once on the document key; the model join keys
    on the term. No window, no sort anywhere in the plan."""
    df = q("unigram_lm_quality_docs", spark)
    s = plans.explain_str(df)
    assert "Window" not in s
    assert "TakeOrdered" not in s


def test_q6_pushes_every_predicate_into_the_scan(spark):
    """Q6 is predicate-pushdown's poster child: the date range, discount
    band, AND quantity cap must all reach the Parquet scan so row groups
    outside any band are never decoded."""
    pf = plans.pushed_filters(q("q6_forecast_revenue", spark))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert any(col in f for f in pf), (col, pf)


def test_q19_derives_single_side_disjunctions(spark):
    """The three-branch OR mixes lineitem and part columns; Catalyst must
    extract the per-side implications (quantity-range union for lineitem,
    brand/size union for part) and push each below the join — otherwise
    both scans read every row at 100 TB."""
    pf = plans.pushed_filters(q("q19_disjunctive_revenue", spark))
    assert any("l_quantity" in f for f in pf), pf
    assert any("p_brand" in f for f in pf), pf


def test_q22_plans_anti_join_with_broadcast_threshold(spark):
    """NOT EXISTS → LeftAnti; the scalar threshold joins as a 1-row
    broadcast, never a per-row subquery."""
    s = plans.explain_str(q("q22_idle_rich_customers", spark))
    assert "LeftAnti" in s
    assert "BroadcastNestedLoopJoin" in s or "BroadcastExchange" in s


def test_q17_decorrelates_to_aggregate_join(spark):
    """The correlated per-part average must decorrelate into ONE
    aggregate over lineitem plus an equi-join — a plan with a per-row
    subquery re-execution would be quadratic."""
    s = plans.explain_str(q("q17_small_quantity_revenue", spark))
    assert "partial_sum" in s or "partial_count" in s
    assert "Join" in s


def test_q4_plans_exists_as_semi_join(spark):
    """The correlated EXISTS must plan as LeftSemi on the order key with
    the lateness condition riding the join — never a per-row subquery;
    the quarter filter must reach the orders scan."""
    s = plans.explain_str(q("q4_order_priority_checking", spark))
    assert "LeftSemi" in s
    pf = plans.pushed_filters(q("q4_order_priority_checking", spark))
    assert any("o_orderdate" in f for f in pf), pf


def test_q20_plans_nested_in_as_semi_join_over_aggregate(spark):
    """The IN over a grouped-HAVING subquery must plan as LeftSemi
    against the quantity aggregate (partial combine visible), with the
    part name filter pushed to its scan."""
    s = plans.explain_str(q("q20_excess_quantity_suppliers", spark))
    assert "LeftSemi" in s and "partial_" in s
    pf = plans.pushed_filters(q("q20_excess_quantity_suppliers", spark))
    assert any("p_name" in f for f in pf), pf


def test_q21_decorrelates_both_quantifiers(spark):
    """EXISTS + NOT EXISTS reduce to two per-order countDistinct
    aggregates joined back — the plan must show distinct aggregates and
    NO nested-loop join (the correlated form's quadratic signature)."""
    s = plans.explain_str(q("q21_waiting_suppliers", spark))
    assert "BroadcastNestedLoopJoin" not in s
    assert "CartesianProduct" not in s
    assert "partial_count(distinct" in s or "count(distinct" in s, s[:500]


def test_q2_min_equality_is_aggregate_join_with_broadcast_dims(spark):
    """The correlated-MIN subquery decorrelates to one per-part min
    aggregate joined back on (partkey, cost); the three dims broadcast."""
    s = plans.explain_str(q("q2_min_cost_supplier", spark))
    assert "partial_min" in s
    assert "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s


def test_fuzzy_join_never_plans_a_cartesian_product(spark):
    """The q-gram prefilter exists so the edit-distance join is never a
    cross join — the one plan property that makes it scale."""
    s = plans.explain_str(q("fuzzy_join_part_names", spark))
    assert "CartesianProduct" not in s
    # at test scale a degenerate cross join would plan as BNLJ (small
    # side under the broadcast threshold), so both node names must be
    # absent — same discipline as test_minhash_no_cartesian_product
    assert "BroadcastNestedLoopJoin" not in s
    assert "Join" in s


def test_pq_codes_plan_is_map_only(spark):
    """PQ encoding is a pure projection: no join, no aggregate, no
    Exchange — it must run inside the scan stage."""
    s = plans.explain_str(q("pq_codes_embeddings", spark))
    assert "Join" not in s
    assert "Exchange" not in s


def test_pq_adc_stored_codes_scan_never_reads_vectors(spark, tmp_path):
    """The deployed layout: codes precomputed and stored. The ADC scan
    over the stored table must read ONLY id + code columns — never the
    float vectors (the operator's entire storage story) — and rank via
    the two-stage top-k."""
    from lakeshack_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = sim.pq_codebooks(emb, m=4, n_codes=8)
    store = str(tmp_path / "codes")
    sim.pq_encode(emb, books).select(
        "vec_id", "embedding", "code_0", "code_1", "code_2", "code_3"
    ).write.parquet(store)
    stored = spark.read.parquet(store)
    out = sim.pq_adc_topk(stored, emb.filter("vec_id < 2"), books, k=3)
    for cols in plans.read_schema_columns(out):
        assert "embedding" not in cols, cols
    # two-stage top-k: the partial stage's partition-salt column must
    # appear (a bare Window node-count is vacuous in formatted explain,
    # which prints every node twice)
    assert "__part" in plans.explain_str(out)


def test_stratified_take_has_window_group_limit(spark):
    """stratified_take_n must plan a WindowGroupLimit PAIR: a Partial
    limit below the stratum Exchange (map tasks pre-trim to their local
    top-n per stratum, so the shuffle carries O(tasks·strata·n) rows,
    never the corpus) and a Final limit above it."""
    s = q("stratified_take_docs", spark)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in s
    assert "Partial" in s and "Final" in s
    # Partial must sit BELOW the exchange: last WindowGroupLimit mention
    # (deepest plan line) follows the Exchange line in toString order.
    lines = [l for l in s.splitlines() if "WindowGroupLimit" in l or "Exchange" in l]
    kinds = ["P" if "Partial" in l else "F" if "Final" in l else "E" for l in lines]
    assert kinds == ["F", "E", "P"], lines


def test_semdedup_pair_join_is_cell_keyed(spark):
    """SemDeDup's pair join must be equi-keyed on the cluster id — never
    a CartesianProduct / BroadcastNestedLoop (the all-pairs scale
    killer). The cell id is the block that bounds the quadratic."""
    s = q("semdedup_embeddings", spark)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoop" not in s
    join_lines = [l for l in s.splitlines() if "Join [cell" in l or "Join cell" in l
                  or ("Join" in l and "cell" in l)]
    assert join_lines, s


def test_hashed_linear_is_joinless_with_map_side_combine(spark):
    """The classifier is one explode + one doc-keyed aggregation: the
    plan must carry a partial/final aggregate pair (map-side combine on
    the token explosion) and NO join of any kind — at 100 TB the only
    shuffle is the per-doc partials."""
    df = q("hashed_linear_quality_docs", spark)
    assert plans.has_partial_aggregation(df)
    plan = plans.explain_str(df)
    assert "Join" not in plan, plan[:2000]


def test_drift_chi2_broadcasts_corpus_profile(spark):
    """The 1-row corpus profile must reach the per-group frame via a
    broadcast (nested-loop on a single row), never a shuffle join —
    and the token relation must never be joined at all."""
    df = q("drift_chi2_docs", spark)
    plan = plans.explain_str(df)
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, (
        plan[:2000]
    )
    assert plans.has_partial_aggregation(df)


def test_hll_estimate_scans_only_the_sidecar(spark):
    """The distinct-count rollup must be answered from METADATA: every
    file the plan scans lives under the sketch sidecar — the orders
    lake's data files never appear (that is the entire point of keeping
    mergeable sketches)."""
    from lakeshack_spark.queries import _hll_orders_index
    from lakeshack_spark.sketchindex import DistinctSketchIndex

    lake, store = _hll_orders_index(spark, SF)
    est = DistinctSketchIndex(
        spark, store, "o_custkey", group_col="o_orderstatus"
    ).estimates()
    s = est._jdf.queryExecution().executedPlan().toString()
    scan_lines = [l for l in s.splitlines() if "FileScan" in l or "Scan parquet" in l]
    assert scan_lines, s
    for l in scan_lines:
        assert "_lakeshack_hll" in l, l


def test_time_travel_read_plans_manifest_files_only(spark):
    """Reading v1 after later commits must plan exactly v1's manifest
    file list — none of the files later commits added."""
    from lakeshack_spark.queries import _versioned_orders_dir
    from lakeshack_spark.versioning import VersionedTable

    vt = VersionedTable(spark, _versioned_orders_dir(spark, SF))
    m1 = set(vt.manifest(1)["files"])
    m3 = set(vt.manifest(3)["files"])
    assert m3 - m1  # later commits really added files
    s = vt.read(1)._jdf.queryExecution().executedPlan().toString()
    for extra in m3 - m1:
        assert extra.split("/")[-1] not in s
