"""The declared query corpus: every operator from SURVEY §2 (reference
parity + the capability-gap surface + LLM-pipeline operators) as paired
(PySpark DataFrame query, DuckDB oracle SQL) entries.

Conventions that make the cross-engine value-hash exact:

- Every computed column is aliased identically on both sides.
- Double aggregations go through decimal space (`functions.deterministic`)
  so accumulation order cannot change the result.
- Every LIMIT has a total ORDER BY with a unique tiebreaker.
- Integer-ish scalars are cast so Spark and DuckDB agree on width.
- events.ts is TIMESTAMP(NANOS): Spark sees a raw nanos long (see
  sources.catalog), the oracle uses ``epoch_ns(ts)``.

Every entry carries a cell-exact oracle — including the probabilistic
ones: SimHash/MinHash are made exact by pigeonhole/verify constructions,
and the sketch entry uses a bounds-as-booleans contract (exact scalars +
within-ε flags on both sides) so the hash match proves the accuracy bound.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from lakeshack_spark.engine import Lakeshack
from lakeshack_spark.functions.deterministic import davg, dsum, oracle_davg, oracle_dsum
from lakeshack_spark.operators import (
    dedup,
    graph,
    multimodal,
    order_stats,
    relational,
    retrieval,
    sampling,
    similarity,
    text,
)
from lakeshack_spark.sources.catalog import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

SPECS: dict[str, tuple[QueryFn, Optional[str]]] = {}


def register(name: str, oracle: Optional[str]):
    def deco(fn: QueryFn) -> QueryFn:
        SPECS[name] = (fn, oracle)
        return fn

    return deco


# =====================================================================
# Reference-parity family: pruned scan, filters, projection, limit
# (SURVEY §2 O1, O3-O8)
# =====================================================================

_SHACK_CACHE: dict[str, Lakeshack] = {}


def _orders_shack(spark: SparkSession, sf_dir: str) -> Lakeshack:
    """Lakeshack over the orders table, stats in a per-sf temp dir (the
    testdata directory is read-only)."""
    key = sf_dir.rstrip("/")
    shack = _SHACK_CACHE.get(key)
    if shack is not None and shack.spark is not spark:
        shack = None  # caller runs a different session; rebind (store is reused)
    if shack is None:
        # The cache path carries the STATS-SCHEMA FORMAT TAG: the store
        # layout gained per-column null counts this round, and an older
        # code snapshot (the bench replay harness runs one) strictly
        # validates on reconnect — sharing one dir across code
        # generations made the r5 replay reject the r6-format store.
        # Each format owns its own dir; stale dirs are just rebuilt.
        store = os.path.join(
            tempfile.gettempdir(),
            "lakeshack_stats_cache",
            key.strip("/").replace("/", "_"),
            "orders-nullstats",
        )
        shack = Lakeshack(
            spark,
            f"{key}/orders.parquet",
            cluster_column="o_custkey",
            optional_columns=["o_orderdate"],
            store_path=store,
        )
        shack.update_metastore()
        _SHACK_CACHE[key] = shack
    return shack


@register(
    "shack_pruned_lookup",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders
    WHERE o_custkey IN (11, 47, 102, 999)
      AND o_orderdate >= TIMESTAMP '1997-01-01'
    """,
)
def shack_pruned_lookup(spark, sf_dir):
    """O1+O3-O6: metastore-pruned scan, IN-list ∧ range clause ∧ projection
    (reference lakeshack/lakeshack.py:476-579)."""
    from datetime import datetime

    return _orders_shack(spark, sf_dir).query(
        [11, 47, 102, 999],
        [("o_orderdate", ">=", datetime(1997, 1, 1))],
        columns=["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"],
    )


_CLUSTERED_SHACK_CACHE: dict[str, Lakeshack] = {}


def _clustered_orders_shack(spark: SparkSession, sf_dir: str) -> Lakeshack:
    """Lakeshack over a 10-file o_custkey-clustered copy of orders (the
    testdata table ships as ONE file per sf, which makes every file
    trivially boundary): the multi-file layout is what metadata-only
    aggregation classifies against. Values identical to ``orders``."""
    from lakeshack_spark.writer import cluster_write

    key = sf_dir.rstrip("/")
    shack = _CLUSTERED_SHACK_CACHE.get(key)
    if shack is not None and shack.spark is spark:
        return shack
    lake = tempfile.mkdtemp(prefix="lakeshack_agg_lake_")
    orders = load_table(spark, sf_dir, "orders")
    cluster_write(orders, os.path.join(lake, "data"), "o_custkey", n_files=10)
    shack = Lakeshack(
        spark,
        os.path.join(lake, "data"),
        cluster_column="o_custkey",
        optional_columns=["o_orderdate"],
        store_path=os.path.join(lake, "stats"),
    )
    shack.update_metastore()
    _CLUSTERED_SHACK_CACHE[key] = shack
    return shack


@register(
    "metadata_agg_orders",
    """
    WITH m AS (SELECT MAX(o_custkey) AS mx FROM orders)
    SELECT COUNT(*) AS row_count,
           MIN(o_custkey) AS min_o_custkey,
           MAX(o_custkey) AS max_o_custkey,
           MIN(o_orderdate) AS min_o_orderdate,
           MAX(o_orderdate) AS max_o_orderdate,
           COUNT(o_orderdate) AS cnt_o_orderdate
    FROM orders, m
    WHERE o_custkey >= m.mx // 5 AND o_custkey <= (m.mx * 4) // 5
    """,
)
def metadata_agg_orders(spark, sf_dir):
    """Metadata-only aggregation (``Lakeshack.query_agg``): COUNT/MIN/MAX
    over a cluster-column range served from footer stats for every file
    wholly inside the range — only the 1-2 boundary files are scanned,
    whatever the lake size. The range endpoints derive from the data
    (MAX(o_custkey)·{1,4}//5, exact int arithmetic) so the classification
    splits interior/boundary at every sf. The reference always scans its
    candidates (lakeshack/lakeshack.py:476-579); this extends its zone-map
    metastore to answer aggregates from metadata, Delta/Iceberg
    "answer-from-manifest" style."""
    shack = _clustered_orders_shack(spark, sf_dir)
    mx = (
        shack.metastore.stats_df()
        .agg(F.max("o_custkey_max").alias("mx"))
        .collect()[0]["mx"]
    )
    return shack.query_agg(
        [("o_custkey", ">=", mx // 5), ("o_custkey", "<=", (mx * 4) // 5)],
        min_max_columns=["o_custkey", "o_orderdate"],
        count_columns=["o_orderdate"],
    )


_BLOOM_IDX_CACHE: dict[str, object] = {}


def _docs_bloom_index(spark: SparkSession, sf_dir: str):
    """A per-process bloom-indexed lake over documents: files clustered
    by ``source`` (so ``doc_id`` is UNCORRELATED with file layout — the
    exact case zone maps cannot prune), bloom sidecar on ``doc_id``.
    Built fresh per process into a temp dir; cached per sf."""
    from lakeshack_spark.fileindex import BloomFileIndex
    from lakeshack_spark.writer import cluster_write

    key = sf_dir.rstrip("/")
    idx = _BLOOM_IDX_CACHE.get(key)
    if idx is not None and idx.spark is spark:
        return idx
    lake = tempfile.mkdtemp(prefix="lakeshack_bloom_lake_")
    docs = load_table(spark, sf_dir, "documents")
    cluster_write(docs, os.path.join(lake, "data"), "source", n_files=8)
    idx = BloomFileIndex(
        spark, os.path.join(lake, "_lakeshack_bloom", "doc_id"), "doc_id"
    )
    idx.update(os.path.join(lake, "data"))
    _BLOOM_IDX_CACHE[key] = idx
    return idx


@register(
    "bloom_index_point_lookup",
    """
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE doc_id IN (3, 17, 41, 97, 123)
    """,
)
def bloom_index_point_lookup(spark, sf_dir):
    """Per-file Bloom-index point lookup on a column the zone maps can
    never prune (doc_id scattered across source-clustered files): probe
    the sidecar driver-side, scan ONLY surviving files, re-apply the
    exact IN predicate — provably identical to the full-scan filter the
    oracle runs, with the index's only effect being skipped I/O
    (fileindex.BloomFileIndex; no-false-negative + parity tests in
    tests/test_fileindex.py)."""
    return _docs_bloom_index(spark, sf_dir).lookup(
        [3, 17, 41, 97, 123], columns=["doc_id", "lang", "source", "n_chars"]
    )


@register(
    "scan_filter_project",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1997-04-01'
    """,
)
def scan_filter_project(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")


@register(
    "in_list_filter",
    """
    SELECT c_custkey, c_mktsegment, c_acctbal
    FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE') AND c_acctbal >= 0
    """,
)
def in_list_filter(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    return c.filter(
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE") & (F.col("c_acctbal") >= 0)
    ).select("c_custkey", "c_mktsegment", "c_acctbal")


@register(
    "topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def topk_orders(spark, sf_dir):
    """Sort + exact limit (Spark plans TakeOrderedAndProject — no full
    sort, a per-partition top-k then a driver merge)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# =====================================================================
# Aggregation family
# =====================================================================


@register(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {oracle_dsum('l_quantity', 2)} AS sum_qty,
           {oracle_dsum('l_extendedprice', 2)} AS sum_base_price,
           {oracle_dsum('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
           {oracle_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 4)} AS sum_charge,
           {oracle_davg('l_quantity', 2)} AS avg_qty,
           {oracle_davg('l_extendedprice', 2)} AS avg_price,
           {oracle_davg('l_discount', 2)} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped hash aggregate; partial (map-side) agg + final,
    all decimal-deterministic.

    Scale choice: the large-magnitude sums use s=4, not 6, so the
    total × 10^s < 2^53 exactness contract (functions.deterministic) holds
    to sf≈16 instead of breaching around sf1. sum_disc_price is exactly
    4-decimal (2+2), so s=4 is lossless; sum_charge is 6-decimal and gets
    a per-addend half-away round at s=4 — computed on the identical double
    in both engines, hence still cell-exact cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "2000-12-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", 2).alias("sum_qty"),
            dsum("l_extendedprice", 2).alias("sum_base_price"),
            dsum("l_extendedprice * (1 - l_discount)", 4).alias("sum_disc_price"),
            dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 4).alias(
                "sum_charge"
            ),
            davg("l_quantity", 2).alias("avg_qty"),
            davg("l_extendedprice", 2).alias("avg_price"),
            davg("l_discount", 2).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "agg_orders_by_status",
    f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           {oracle_dsum('o_totalprice', 2)} AS sum_price,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.9) AS p90
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_orders_by_status(spark, sf_dir):
    """Hash aggregate with count-distinct, min/max, deterministic sum, and
    exact continuous percentiles (Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the SQL-standard interpolation — cell-exact;
    the sketch-based approximate twin is sketch_distinct_and_quantiles)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        dsum("o_totalprice", 2).alias("sum_price"),
        F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
    )


@register(
    "rollup_lineitem",
    f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           {oracle_dsum('l_quantity', 2)} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_lineitem(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum("l_quantity", 2).alias("sum_qty")
    )


@register(
    "cube_orders",
    """
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def cube_orders(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(F.count("*").alias("n"))


@register(
    "pivot_orderstatus",
    """
    SELECT o_orderpriority,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_orderstatus(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
            F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
            F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
        )
    )


@register(
    "grouping_sets_orders",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
           CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_orders(spark, sf_dir):
    """Explicit GROUPING SETS with grouping() indicators (distinct from
    rollup/cube: an arbitrary set list)."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
               CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "window_rank_suite",
    """
    SELECT o_custkey, o_orderkey,
           CAST(rank() OVER w AS INTEGER) AS rnk,
           CAST(dense_rank() OVER w AS INTEGER) AS drnk,
           percent_rank() OVER w AS prnk,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
)
def window_rank_suite(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "window_range_frame_orders",
    """
    SELECT o_custkey, o_orderkey, CAST(day AS BIGINT) AS day,
           CAST(cnt AS INTEGER) AS n_last30,
           CAST(s AS DOUBLE) / 1e2 AS sum_last30
    FROM (
      SELECT o_custkey, o_orderkey,
             epoch_us(o_orderdate) // 86400000000 AS day,
             COUNT(*) OVER w AS cnt,
             SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) OVER w AS s
      FROM orders
      WINDOW w AS (
        PARTITION BY o_custkey
        ORDER BY (epoch_us(o_orderdate) // 86400000000)
        RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
    )
    """,
)
def window_range_frame_orders(spark, sf_dir):
    """RANGE-framed window (value-based, not row-based): each order's
    trailing-30-day count and spend for its customer — the time-based
    sliding aggregate that would otherwise need a self-join. The frame
    key is an integer day number (µs epoch, integer division) so the
    peer-set boundary is exact on both engines, and the frame sum runs in
    scaled-integer space (same-day peers make ROWS frames ill-defined;
    RANGE includes all peers deterministically; 29 PRECEDING + the
    current day = a 30-distinct-day window, matching the column names).
    One shuffle on
    o_custkey; the frame scan is a sliding accumulator within each
    sorted partition, never O(frame²)."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        # o_orderdate reads as TIMESTAMP_NTZ; the UTC session (set by
        # load_table's configure_session) makes the cast instant-exact.
        "day", F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-29, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "day",
        F.count("*").over(w).cast("int").alias("n_last30"),
        (
            F.sum(
                F.expr("CAST(ROUND(o_totalprice * 1e2) AS BIGINT)")
            ).over(w).cast("double")
            / F.lit(100.0)
        ).alias("sum_last30"),
    )


@register(
    "quantile_bins_orders",
    """
    WITH c AS (
      SELECT o_orderkey, CAST(ROUND(o_totalprice * 1e2) AS BIGINT) AS cents
      FROM orders
    ), b AS (
      SELECT quantile_cont(cents, 0.25) AS q1,
             quantile_cont(cents, 0.50) AS q2,
             quantile_cont(cents, 0.75) AS q3
      FROM c
    )
    SELECT o_orderkey,
           CAST(CASE WHEN cents <= q1 THEN 0
                     WHEN cents <= q2 THEN 1
                     WHEN cents <= q3 THEN 2
                     ELSE 3 END AS INTEGER) AS price_bin,
           CAST(q1 AS DOUBLE) AS q1, CAST(q2 AS DOUBLE) AS q2,
           CAST(q3 AS DOUBLE) AS q3
    FROM c, b
    """,
)
def quantile_bins_orders(spark, sf_dir):
    """Quantile discretization (the MLlib QuantileDiscretizer semantics,
    feature binning for training data): quartile bounds of order value
    computed as EXACT percentiles over integer cents — interpolation
    lands on quarter-integers, so both engines produce identical doubles
    (the robust-outliers recipe) — each order assigned its bucket by
    boundary comparison. Every row carries the bounds so the hash pins
    them alongside the assignment.

    Routed through operators.order_stats.quantile_bins: the boundaries
    come from distributed rank selection (range-repartition + per-
    partition rank pick), NOT Spark's exact ``percentile`` aggregate,
    whose single-reducer value→count buffer is the 100×-scale OOM flagged
    in VERDICT_r5. Equality of the two forms on integer-cents domains is
    unit-pinned in tests/test_order_stats.py; this gate entry pins the
    scale-safe path against the DuckDB quantile_cont oracle."""
    o = load_table(spark, sf_dir, "orders")
    c = o.select(
        "o_orderkey",
        F.expr("CAST(ROUND(o_totalprice * 1e2) AS BIGINT)").alias("cents"),
    )
    return order_stats.quantile_bins(c, "cents", ["o_orderkey"]).select(
        "o_orderkey",
        F.col("bin").alias("price_bin"),
        "q1",
        "q2",
        "q3",
    )


@register(
    "window_share_of_total",
    """
    SELECT r_name, n_name, CAST(cnt AS BIGINT) AS n_customers,
           CAST(cnt AS DOUBLE)
             / CAST(SUM(cnt) OVER (PARTITION BY r_name) AS DOUBLE) AS share
    FROM (
      SELECT r_name, n_name, COUNT(*) AS cnt
      FROM customer
      JOIN nation ON n_nationkey = c_nationkey
      JOIN region ON r_regionkey = n_regionkey
      GROUP BY r_name, n_name
    )
    """,
)
def window_share_of_total(spark, sf_dir):
    """Percent-of-total (RATIO_TO_REPORT): an UNORDERED window aggregate
    — ``sum(...) over (partition by ...)`` with no ORDER BY, so the
    frame is the whole partition and no sort is planned (the ordered
    running-sum/RANGE entries cover the framed cases). Exact: integer
    counts, one double division."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    cnt = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("r_name")
    return cnt.select(
        "r_name",
        "n_name",
        F.col("cnt").alias("n_customers"),
        (
            F.col("cnt").cast("double") / F.sum("cnt").over(w).cast("double")
        ).alias("share"),
    )


@register(
    "array_functions_embeddings",
    """
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           embedding[1] AS first_val,
           list_min(list_slice(embedding, 1, 4)) AS head4_min,
           list_max(list_slice(embedding, 1, 4)) AS head4_max,
           CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)
             + CAST(embedding[3] AS DOUBLE) + CAST(embedding[4] AS DOUBLE)
             AS head4_sum,
           list_contains(CAST(embedding AS DOUBLE[]), 0.0) AS has_zero
    FROM embeddings
    """,
)
def array_functions_embeddings(spark, sf_dir):
    """Array scalar-function surface over the embedding column (size /
    element_at / slice / array_min / array_max / array_contains). Output
    columns are scalars — array-typed result cells are not portable
    through row-order-insensitive hashing."""
    e = load_table(spark, sf_dir, "embeddings")
    h4 = F.slice("embedding", 1, 4)
    sum4 = (
        F.element_at("embedding", 1).cast("double")
        + F.element_at("embedding", 2).cast("double")
        + F.element_at("embedding", 3).cast("double")
        + F.element_at("embedding", 4).cast("double")
    )
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).alias("first_val"),
        F.array_min(h4).alias("head4_min"),
        F.array_max(h4).alias("head4_max"),
        sum4.alias("head4_sum"),
        F.array_contains(F.col("embedding").cast("array<double>"), 0.0).alias(
            "has_zero"
        ),
    )


# =====================================================================
# Join family
# =====================================================================


@register(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           {oracle_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
           o_orderdate
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-07-01'
      AND l_shipdate > TIMESTAMP '1998-07-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3-shaped: dim filter → join → agg → top-k.

    No broadcast hint on customer: a hard hint outlives the data size it
    was tuned for (multi-GB broadcast OOM at 100×). AQE/statistics pick
    broadcast-vs-SMJ from the filtered size at runtime (plan-asserted at
    sf0.01 in tests/test_plans.py)."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-07-01"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-07-01"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum("l_extendedprice * (1 - l_discount)", 4).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "q5_revenue_by_nation",
    f"""
    SELECT n_name, {oracle_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q5_revenue_by_nation(spark, sf_dir):
    """TPC-H Q5-shaped 6-table join. Only genuinely bounded dims (nation:
    25 rows, region: 5) carry explicit broadcast hints; customer/supplier
    grow with the dataset, so AQE picks broadcast-vs-SMJ from runtime
    sizes — a hard hint there would OOM executors at 100×."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum("l_extendedprice * (1 - l_discount)", 4).alias("revenue"))
    )


@register(
    "join_broadcast_dim",
    """
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'MACHINERY' AND o.o_orderstatus = 'O'
    """,
)
def join_broadcast_dim(spark, sf_dir):
    """No broadcast hint: the MACHINERY slice is ~1/5 of customer, which
    GROWS with the dataset — a hard F.broadcast here is a multi-GB
    driver OOM at 100×. AQE picks BHJ while the slice is under the
    threshold and falls back to SMJ when it isn't (the choice at sf0.01
    is plan-asserted in tests/test_plans.py); hard hints are reserved
    for genuinely bounded dims (nation/region/probe sets)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "MACHINERY"
    )
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@register(
    "data_quality_orders",
    """
    WITH m AS (
      SELECT
        CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS m0,
        CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS m1,
        CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS m2,
        CAST(SUM(CASE WHEN o_orderdate NOT BETWEEN TIMESTAMP '1995-01-01'
                   AND TIMESTAMP '2001-12-31' THEN 1 ELSE 0 END) AS BIGINT) AS m3,
        CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END)
          AS BIGINT) AS m4,
        CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS m5,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM orders
    )
    SELECT 'not_null(o_orderkey)' AS "constraint", m0 = 0 AS passed,
           m0 AS observed FROM m
    UNION ALL SELECT 'unique(o_orderkey)', m1 = 0, m1 FROM m
    UNION ALL SELECT 'non_negative(o_totalprice)', m2 = 0, m2 FROM m
    UNION ALL SELECT
      'between(o_orderdate,1995-01-01 00:00:00,2001-12-31 00:00:00)',
      m3 = 0, m3 FROM m
    UNION ALL SELECT 'isin(o_orderstatus,F,O,P)', m4 = 0, m4 FROM m
    UNION ALL SELECT 'max_null_fraction(o_orderpriority,0.01)',
      m5 <= n * 0.01, m5 FROM m
    UNION ALL SELECT 'min_rows(1000)', n >= 1000, n FROM m
    """,
)
def data_quality_orders(spark, sf_dir):
    """Deequ-style expectation suite (operators.quality) under the hash
    gate: seven constraints over orders — key null/unique, value range,
    closed category set, null-fraction bound, row-count floor — compiled
    into ONE aggregation pass (one scan however many constraints; the
    oracle spells each metric out longhand). Every metric is exact
    integer counting, so passed/observed match cell-for-cell."""
    from datetime import datetime

    from lakeshack_spark.operators import quality

    orders = load_table(spark, sf_dir, "orders")
    return quality.check_expectations(
        orders,
        [
            quality.expect.not_null("o_orderkey"),
            quality.expect.unique("o_orderkey"),
            quality.expect.non_negative("o_totalprice"),
            quality.expect.between(
                "o_orderdate", datetime(1995, 1, 1), datetime(2001, 12, 31)
            ),
            quality.expect.isin("o_orderstatus", ["F", "O", "P"]),
            quality.expect.max_null_fraction("o_orderpriority", 0.01),
            quality.expect.min_rows(1000),
        ],
    )


@register(
    "salted_agg_lineitem",
    """
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM lineitem GROUP BY l_returnflag
    """,
)
def salted_agg_lineitem(spark, sf_dir):
    """Skew-salted aggregation (operators.skew.salted_count/salted_sum)
    under the hash gate: COUNT and decimal-exact SUM per key computed in
    two phases — (key, salt) partials splitting any hot key across
    salt_buckets tasks, then a per-key recombine. The oracle is the
    PLAIN single-phase GROUP BY: the hash match proves the salt
    decomposition is lossless (count and decimal addition are
    associative) and that no salt artifact reaches the result, for ANY
    physical salt assignment."""
    from lakeshack_spark.operators import skew

    li = load_table(spark, sf_dir, "lineitem")
    counts = skew.salted_count(li, ["l_returnflag"])
    sums = skew.salted_sum(li, ["l_returnflag"], "l_quantity", scale=2)
    return counts.join(sums, "l_returnflag")


@register(
    "robust_outliers_orders",
    """
    WITH v AS (
      SELECT o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), med AS (
      SELECT o_orderpriority, median(CAST(cents AS DOUBLE)) AS med
      FROM v GROUP BY o_orderpriority
    ), j1 AS (
      SELECT v.o_orderpriority, CAST(v.cents AS DOUBLE) AS x, med.med
      FROM v JOIN med USING (o_orderpriority)
    ), mad AS (
      SELECT o_orderpriority, median(abs(x - med)) AS mad
      FROM j1 GROUP BY o_orderpriority
    )
    SELECT j1.o_orderpriority, COUNT(*) AS n,
           MAX(j1.med) AS med, MAX(mad.mad) AS mad,
           CAST(SUM(CASE WHEN abs(j1.x - j1.med) > 4.4478 * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM j1 JOIN mad USING (o_orderpriority)
    GROUP BY j1.o_orderpriority
    """,
)
def robust_outliers_orders(spark, sf_dir):
    """Robust per-group outlier stats (operators.quality.
    robust_outlier_stats): median / MAD / |x−med| > k·MAD counts of
    order value in integer cents per priority. Cents make every
    percentile interpolation exact half/quarter-integer IEEE arithmetic,
    so med and mad match bit-for-bit across engines and the outlier
    counts are exact — a mean/stddev z-score would have needed
    decimal-space tricks AND been dragged by the outliers themselves."""
    from lakeshack_spark.operators import quality

    orders = load_table(spark, sf_dir, "orders")
    cents = orders.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * F.lit(100)).cast("long").alias("cents"),
    )
    return quality.robust_outlier_stats(cents, "o_orderpriority", "cents")


@register(
    "full_outer_daily_activity",
    """
    WITH o AS (
      SELECT o_orderdate AS day, COUNT(*) AS n_orders
      FROM orders GROUP BY o_orderdate
    ), l AS (
      SELECT l_shipdate AS day, COUNT(*) AS n_shipments
      FROM lineitem GROUP BY l_shipdate
    )
    SELECT COALESCE(o.day, l.day) AS day, o.n_orders, l.n_shipments
    FROM o FULL OUTER JOIN l ON o.day = l.day
    """,
)
def full_outer_daily_activity(spark, sf_dir):
    """FULL OUTER join — the one join type with no broadcast strategy
    (both sides must shuffle; Spark plans SMJ unconditionally): daily
    order counts ⟗ daily shipment counts. Both orphan sides are
    non-empty by construction (l_shipdate extends ~4 months past the
    last o_orderdate), so the NULL-preserving semantics of both outer
    sides are actually exercised, not vacuously green."""
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(F.count("*").alias("n_orders"))
    )
    l = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_shipdate").alias("day"))
        .agg(F.count("*").alias("n_shipments"))
    )
    return (
        o.join(l, "day", "full_outer")
        .select("day", "n_orders", "n_shipments")
    )


@register(
    "semi_join_big_spenders",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice >= 400000
    )
    """,
)
def semi_join_big_spenders(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


def _bloom_semi_entry(spark, sf_dir):
    """Shared body for the bloom semi-join gate entry."""
    from lakeshack_spark.operators import bloom

    li = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    matched = bloom.bloom_semi_join(li, urgent, "l_orderkey", "o_orderkey")
    return matched.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        dsum("l_quantity", 2).alias("sum_qty"),
    )


register(
    "bloom_semi_join_lineitem",
    f"""
    SELECT l_returnflag, COUNT(*) AS n_items,
           {oracle_dsum('l_quantity', 2)} AS sum_qty
    FROM lineitem l
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_orderkey = l.l_orderkey
        AND o.o_orderpriority = '1-URGENT'
    )
    GROUP BY l_returnflag
    """,
)(_bloom_semi_entry)
_bloom_semi_entry.__doc__ = """Bloom-prefiltered semi join
(operators.bloom.bloom_semi_join): lineitem rows of urgent orders. The
probe side passes a 6-hash md5-derived Bloom filter of the build keys
BEFORE the join shuffle (helper-column Project computes the hash pair
once per row; the Filter tests k bits of one literal array — all
codegen), then the exact semi join removes false positives, so the
result provably equals the plain EXISTS oracle while the shuffle under
the join carries ~matching + 0.4% of probe rows, not all of them."""


@register(
    "anti_join_no_pending",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
    )
    """,
)
def anti_join_no_pending(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "asof_join_events_orders",
    """
    WITH ev AS (
      SELECT event_id, user_id, epoch_ns(ts) AS ts_ns FROM events WHERE event_type = 'purchase'
    ), j AS (
      SELECT ev.event_id, ev.user_id, o.o_orderkey, o.o_totalprice,
             row_number() OVER (
               PARTITION BY ev.event_id
               ORDER BY epoch_us(o.o_orderdate) DESC, o.o_orderkey DESC
             ) AS rn
      FROM ev JOIN orders o
        ON o.o_custkey = ev.user_id
       AND epoch_us(o.o_orderdate) * 1000 <= ev.ts_ns
    )
    SELECT event_id, user_id, o_orderkey, o_totalprice FROM j WHERE rn = 1
    """,
)
def asof_join_events_orders(spark, sf_dir):
    """As-of (backward) join: each purchase event picks the latest order of
    the same user at-or-before the event time (operators.relational).
    Default union carry-forward strategy: one |L|+|R| shuffle on the user
    key + per-key time sort + running last() — no join, so the
    intermediate tracks the inputs, not per-user order history (the join
    strategy's intermediate was the r11 scale soft spot; r12 stress:
    2.2 s vs 31.7 s at 10M probes, exponent 0.71 → 0.19)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("ts_ns"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        "o_orderkey",
        "o_totalprice",
        (F.unix_micros(F.col("o_orderdate").cast("timestamp")) * 1000).alias(
            "order_ns"
        ),
    )
    out = relational.asof_join(
        ev,
        o,
        on="user_id",
        left_time="ts_ns",
        right_time="order_ns",
        left_key="event_id",
        right_tiebreak="o_orderkey",
    )
    return out.filter(F.col("o_orderkey").isNotNull()).select(
        "event_id", "user_id", "o_orderkey", "o_totalprice"
    )


@register(
    "q13_order_count_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c.c_custkey AS c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) t
    GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark, sf_dir):
    """TPC-H Q13-shaped: left outer join with a join-side predicate, then a
    distribution over per-customer counts (two aggregations, two shuffles)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy(c.c_custkey)
        .agg(F.count(o.o_orderkey).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "q18_large_orders",
    f"""
    SELECT o_orderkey, o_custkey, o_orderdate,
           {oracle_dsum('l_quantity', 2)} AS total_qty
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
    GROUP BY o_orderkey, o_custkey, o_orderdate
    HAVING {oracle_dsum('l_quantity', 2)} >= 120
    """,
)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18-shaped: join + group + HAVING on the aggregate.

    Scale shape: lineitem pre-aggregates by ``l_orderkey`` (partial
    map-side combine, then final) and the HAVING filter runs *before* the
    join, so the join's big side carries one row per qualifying order
    instead of every lineitem row — at sf1 that is the difference between
    shuffling 6M lineitem rows and ~150k order totals through the join.
    Hash-identical to the join-first form because o_orderkey is orders'
    key: grouping by (o_orderkey, o_custkey, o_orderdate) after the join
    is grouping by l_orderkey. Plan pinned in tests/test_plans.py
    (aggregate below the join)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    totals = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", 2).alias("total_qty"))
        .filter(F.col("total_qty") >= 120)
    )
    return totals.join(o, totals.l_orderkey == o.o_orderkey).select(
        "o_orderkey", "o_custkey", "o_orderdate", "total_qty"
    )


@register(
    "scalar_subquery_above_avg",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 1.8 * (SELECT CAST(SUM(CAST(o_totalprice AS
      DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM orders)
    """,
)
def scalar_subquery_above_avg(spark, sf_dir):
    """Scalar subquery: orders above 2× the (deterministic) mean price.
    Physical plan: the subquery aggregates once and broadcasts as a
    literal — no per-row recomputation."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 1.8 * (SELECT CAST(SUM(CAST(o_totalprice AS
          DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM orders)
        """
    )


_CORR_SUBQ_SQL = """
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    WHERE o.o_totalprice > 1.5 * (
      SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*)
      FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
"""


@register("correlated_subquery_above_cust_avg", _CORR_SUBQ_SQL)
def correlated_subquery_above_cust_avg(spark, sf_dir):
    """CORRELATED scalar subquery: orders 1.5× above their own
    customer's average order value. Catalyst decorrelates this into a
    per-customer aggregate + equi-join (SURVEY §4's subquery
    decorrelation row) — never a per-row re-execution; the identical SQL
    text runs on both engines, with the group mean in decimal space so
    the boundary comparison cannot diverge on accumulation order."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders")
    return spark.sql(_CORR_SUBQ_SQL)


@register(
    "in_subquery_hot_parts",
    f"""
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    WHERE p_partkey IN (
      SELECT l_partkey FROM lineitem GROUP BY l_partkey
      HAVING {oracle_dsum('l_quantity', 2)} >= 900
    )
    """,
)
def in_subquery_hot_parts(spark, sf_dir):
    """IN-subquery (planned as a semi join): parts with high total demand."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    hot = (
        li.groupBy("l_partkey")
        .agg(dsum("l_quantity", 2).alias("tq"))
        .filter(F.col("tq") >= 900)
        .select("l_partkey")
    )
    return p.join(hot, p.p_partkey == hot.l_partkey, "left_semi").select(
        "p_partkey", "p_name", "p_retailprice"
    )


@register(
    "q7_volume_by_year",
    f"""
    SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
           CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           {oracle_dsum('l_extendedprice * (1 - l_discount)', 4)} AS volume
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE n1.n_name < n2.n_name
    GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
    """,
)
def q7_volume_by_year(spark, sf_dir):
    """TPC-H Q7-shaped: nation self-join on both sides of the trade + a
    theta condition, grouped by derived year. nation (25 rows) broadcasts
    explicitly; customer/supplier are unbounded → AQE decides."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("cust_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .filter(F.col("cust_nation") < F.col("supp_nation"))
        .groupBy(
            "cust_nation", "supp_nation", F.year("l_shipdate").alias("ship_year")
        )
        .agg(dsum("l_extendedprice * (1 - l_discount)", 4).alias("volume"))
    )


# =====================================================================
# Window family
# =====================================================================


@register(
    "window_top2_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
             ) AS rn
      FROM orders
    ) WHERE rn <= 2
    """,
)
def window_top2_per_customer(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "window_running_and_lag",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_spend,
           o_totalprice - lag(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
           ) AS delta_prev
    FROM orders
    """,
)
def window_running_and_lag(spark, sf_dir):
    """Running decimal sum + lag delta over the SAME window spec — both
    frames evaluate in one Window exchange (one shuffle on o_custkey),
    which is also why they merge into a single corpus entry. (Round 1 had
    them as two queries; consolidated for the driver's 50-entry window.)"""
    o = load_table(spark, sf_dir, "orders")
    order_w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    running_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(38,2)"))
        .over(running_w)
        .cast("double")
        .alias("running_spend"),
        (F.col("o_totalprice") - F.lag("o_totalprice").over(order_w)).alias(
            "delta_prev"
        ),
    )


# =====================================================================
# Sort / set-op family
# =====================================================================


@register(
    "set_ops_nations",
    """
    SELECT 'union' AS op, nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION
      SELECT s_nationkey AS nationkey FROM supplier
    )
    UNION ALL
    SELECT 'intersect' AS op, nationkey FROM (
      SELECT DISTINCT c_nationkey AS nationkey FROM customer
      INTERSECT
      SELECT DISTINCT s_nationkey AS nationkey FROM supplier
    )
    UNION ALL
    SELECT 'except' AS op, nationkey FROM (
      SELECT DISTINCT c_nationkey AS nationkey FROM customer
      EXCEPT
      SELECT DISTINCT s_nationkey AS nationkey FROM supplier
    )
    """,
)
def set_ops_nations(spark, sf_dir):
    """The full set-op surface in one checked result: UNION (distinct),
    INTERSECT, and EXCEPT of the customer/supplier nation-key sets, each
    row tagged with the operator that produced it. (Round 1 registered
    these as three separate queries; consolidated so the whole corpus fits
    the driver's 50-entry correctness window.)"""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    tagged = [
        c.union(s).distinct().select(F.lit("union").alias("op"), "nationkey"),
        c.intersect(s).select(F.lit("intersect").alias("op"), "nationkey"),
        c.distinct()
        .subtract(s.distinct())
        .select(F.lit("except").alias("op"), "nationkey"),
    ]
    out = tagged[0]
    for t in tagged[1:]:
        out = out.unionByName(t)
    return out


@register(
    "distinct_status_priority",
    """
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    """,
)
def distinct_status_priority(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderstatus", "o_orderpriority").distinct()


# =====================================================================
# Scalar-function family
# =====================================================================


@register(
    "scalar_string_part",
    """
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           CAST(length(p_name) AS INTEGER) AS name_len,
           substr(p_type, 1, 5) AS type_pfx,
           p_brand || '-' || p_type AS brand_type,
           replace(p_name, ' ', '_') AS name_snake
    FROM part
    """,
)
def scalar_string_part(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_pfx"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
    )


@register(
    "scalar_date_orders",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(month(o_orderdate) AS INTEGER) AS o_month,
           CAST(quarter(o_orderdate) AS INTEGER) AS o_quarter,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INTEGER)
             AS days_since_1995
    FROM orders
    """,
)
def scalar_date_orders(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.quarter("o_orderdate").alias("o_quarter"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_1995"
        ),
    )


@register(
    "case_bucket_totalprice",
    f"""
    SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
                WHEN o_totalprice < 150000 THEN 'mid'
                ELSE 'high' END AS bucket,
           COUNT(*) AS n,
           {oracle_dsum('o_totalprice', 2)} AS sum_price
    FROM orders
    GROUP BY 1
    """,
)
def case_bucket_totalprice(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("high")
    )
    return (
        o.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), dsum("o_totalprice", 2).alias("sum_price"))
    )


@register(
    "json_extract_events",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    """,
)
def json_extract_events(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    )


# =====================================================================
# Events / time family (batch equivalents of the streaming operators)
# =====================================================================


@register(
    "events_hourly_stats",
    f"""
    SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket,
           event_type,
           COUNT(*) AS n,
           {oracle_dsum('value', 8)} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_stats(spark, sf_dir):
    """Tumbling-window aggregate in the nanos domain (streaming twin:
    streaming.windows.tumbling_counts)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("hour_bucket", F.expr("ts div 3600000000000"))
        .groupBy("hour_bucket", "event_type")
        .agg(F.count("*").alias("n"), dsum("value", 8).alias("sum_value"))
    )


@register(
    "sessionize_users",
    """
    WITH gaps AS (
      SELECT user_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC)
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions
    FROM gaps GROUP BY user_id
    """,
)
def sessionize_users(spark, sf_dir):
    """Gap-based sessionization (30-min gap), then sessions per user.
    Gaps measured in the µs domain (DuckDB's exact view of the nanos ts)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.expr("ts div 1000").alias("ts_us"), "event_id")
    )
    sess = relational.sessionize(
        ev, user_col="user_id", time_col="ts_us", gap=1_800_000_000,
        tiebreak_col="event_id",
    )
    return sess.groupBy("user_id").agg(F.max("session_id").alias("n_sessions"))


@register(
    "retention_cohorts_events",
    """
    WITH a AS (
      SELECT DISTINCT user_id,
             epoch_ns(ts) // 86400000000000 AS day
      FROM events
    ), c AS (
      SELECT user_id, MIN(day) AS cohort_day FROM a GROUP BY user_id
    )
    SELECT c.cohort_day,
           a.day - c.cohort_day AS day_offset,
           COUNT(*) AS n_users
    FROM a JOIN c USING (user_id)
    GROUP BY c.cohort_day, a.day - c.cohort_day
    """,
)
def retention_cohorts_events(spark, sf_dir):
    """Cohort retention (operators.relational.retention_cohorts): users
    grouped by first-active day, counted at each later activity offset —
    the retention-curve rollup. Day numbers come from integer-dividing
    the canonical nanosecond timestamp (the events discipline: no raw
    timestamps leave the query; DuckDB's epoch_ns sees the same
    instants under either physical flavor)."""
    from lakeshack_spark.operators import relational as rel

    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.expr("ts DIV 86400000000000").alias("day")
    )
    return rel.retention_cohorts(days)


@register(
    "q10_returned_item_revenue",
    f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {oracle_dsum('l.l_extendedprice * (1 - l.l_discount)', 4)}
             AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
)
def q10_returned_item_revenue(spark, sf_dir):
    """TPC-H Q10 shape: top-20 customers by revenue lost to returned
    items in a half-year window — three growing-table joins (AQE picks
    the strategy; only the nation dim is hint-broadcast), decimal-space
    revenue, and a LIMIT carrying a total order with the unique custkey
    tiebreaker."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum("l_extendedprice * (1 - l_discount)", 4).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "q6_forecast_revenue",
    f"""
    SELECT {oracle_dsum('l_extendedprice * l_discount', 4)} AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= CAST(0.04 AS DOUBLE)
      AND l_discount <= CAST(0.06 AS DOUBLE)
      AND l_quantity < CAST(24 AS DOUBLE)
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6: single-table predicate-heavy scan aggregate. Every
    predicate (date range, discount band, quantity cap) is pushdown-able
    into the Parquet scan — the plan must show all three in PushedFilters
    and a map-only partial+final agg with no shuffle beyond the 1-row
    exchange (plan-pinned in tests/test_plans.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum("l_extendedprice * l_discount", 4).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


@register(
    "q14_promo_revenue",
    f"""
    SELECT CAST(100.0 AS DOUBLE) * promo_volume / total_volume AS promo_pct,
           promo_volume, total_volume
    FROM (
      SELECT {oracle_dsum(
          "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount)"
          " ELSE 0.0 END", 4)} AS promo_volume,
             {oracle_dsum('l_extendedprice * (1 - l_discount)', 4)}
               AS total_volume
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
    )
    """,
)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14: promo revenue share for one month. Conditional
    aggregation (CASE inside the sum) in decimal space on both engines;
    the final ratio is ONE division of two exact doubles, so the percent
    is bit-reproducible (CLAUDE.md float-exactness recipe). The month
    filter lands on lineitem BELOW the join, so the join's big side is a
    month, not the table."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    p = load_table(spark, sf_dir, "part")
    agg = li.join(p, li.l_partkey == p.p_partkey).agg(
        dsum(
            "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount)"
            " ELSE 0.0 END",
            4,
        ).alias("promo_volume"),
        dsum("l_extendedprice * (1 - l_discount)", 4).alias("total_volume"),
    )
    return agg.select(
        (F.lit(100.0) * F.col("promo_volume") / F.col("total_volume")).alias(
            "promo_pct"
        ),
        "promo_volume",
        "total_volume",
    )


@register(
    "q15_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey, {oracle_dsum('l_extendedprice * (1 - l_discount)', 4)}
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue. The
    per-supplier revenue aggregates once; the MAX is a 1-row aggregate
    broadcast back as a cross join (never a re-scan of lineitem), and the
    decimal-space sums make the equality comparison safe across engines.
    Ties would all be returned — deterministic either way."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        dsum("l_extendedprice * (1 - l_discount)", 4).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q16_supplier_count_by_part",
    """
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#45' AND p_type <> 'MEDIUM'
      AND p_size IN (1, 4, 7, 10, 14, 19, 23, 36, 45, 49)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
    LIMIT 25
    """,
)
def q16_supplier_count_by_part(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier counts per part attribute combo
    (lineitem stands in for partsupp, which the testdata does not ship).
    COUNT(DISTINCT) expands to a two-level aggregate (distinct on the
    group+supplier key, then count) — partial combine on both levels; the
    LIMIT carries a total order whose group key is the unique tiebreak."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 4, 7, 10, 14, 19, 23, 36, 45, 49)
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
        .limit(25)
    )


_Q17_SQL = """
    SELECT CAST({dsum_price} / CAST(7.0 AS DOUBLE) AS DOUBLE) AS avg_yearly,
           COUNT(*) AS n_small
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < CAST(0.2 AS DOUBLE) * (
        SELECT CAST(SUM(CAST(ROUND(l2.l_quantity * 1e2) AS BIGINT)) AS DOUBLE)
               / 1e2 / COUNT(*)
        FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
""".format(dsum_price=oracle_dsum("l.l_extendedprice", 2))


@register("q17_small_quantity_revenue", _Q17_SQL)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17: revenue from small-quantity orders of one brand, where
    "small" is relative to each part's own average quantity — a CORRELATED
    aggregate subquery Catalyst decorrelates into a per-part average +
    equi-join (never per-row re-execution). Identical SQL text runs on
    both engines; the per-part mean is an exact scaled-integer sum with
    one division, so the `<` boundary cannot diverge."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_Q17_SQL)


@register(
    "q19_disjunctive_revenue",
    f"""
    SELECT {oracle_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: three-way disjunction mixing columns of both join
    sides. Catalyst's "push extracted disjunctive predicates" rewrite
    derives the single-side implications — lineitem gets
    `l_quantity BETWEEN 1 AND 30` OR-folded and part gets the brand/size
    union — pushed below the join into each scan, so neither side scans
    rows no branch could accept (plan-pinned)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q, b, sz = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#12") & sz.between(1, 5) & (q >= 1) & (q <= 11))
        | ((b == "Brand#23") & sz.between(1, 10) & (q >= 10) & (q <= 20))
        | ((b == "Brand#34") & sz.between(1, 15) & (q >= 20) & (q <= 30))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            dsum("l_extendedprice * (1 - l_discount)", 4).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


@register(
    "q22_idle_rich_customers",
    f"""
    SELECT c_mktsegment, COUNT(*) AS numcust,
           {oracle_dsum('c_acctbal', 2)} AS totacctbal
    FROM customer c
    WHERE c_acctbal > (
      SELECT {oracle_davg('c_acctbal', 2)} FROM customer
      WHERE c_acctbal > CAST(0.0 AS DOUBLE))
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
)
def q22_idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape: above-average-balance customers with no urgent
    orders (every testdata customer has *some* order, so the anti-join
    side is the urgent subset). Scalar subquery (1-row broadcast
    threshold) + LEFT ANTI join + final rollup by segment; the threshold
    mean is decimal-space so the `>` boundary matches the oracle."""
    c = load_table(spark, sf_dir, "customer")
    thr = c.filter(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal", 2).alias("__thr")
    )
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("__thr"))
        .join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal", 2).alias("totacctbal"),
        )
    )


@register(
    "q4_order_priority_checking",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority_checking(spark, sf_dir):
    """TPC-H Q4 shape: orders in a quarter having at least one LATE line
    item, counted per priority. The testdata ships no
    l_commitdate/l_receiptdate, so "late" is shipped >30 days after the
    order date — same correlated-EXISTS shape, same decorrelation story:
    Spark plans the EXISTS as a LEFT SEMI join on (orderkey, the
    non-equi lateness condition), never a per-row subquery."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q12_priority_shipping_split",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag IN ('R', 'A')
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
)
def q12_priority_shipping_split(spark, sf_dir):
    """TPC-H Q12 shape: late shipments in a year split into high/low
    priority counts per category (l_returnflag stands in for the
    unshipped l_shipmode; lateness is the Q4 stand-in). Conditional
    aggregation — both CASE sums ride ONE hash aggregate with map-side
    partial combine; the year filter prunes lineitem below the join."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
        & (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


#: Q2's part-supplier "catalog": the testdata ships no partsupp table, so
#: the observed (part, supplier) pairs with their minimum unit price
#: stand in for (ps_partkey, ps_suppkey, ps_supplycost). Each unit price
#: is ONE IEEE division of doubles and MIN is order-independent, so both
#: engines derive identical costs (CLAUDE.md float-exactness recipe).
_Q2_PS_SQL = """
      SELECT l_partkey, l_suppkey,
             MIN(CAST(l_extendedprice AS DOUBLE)
                 / CAST(l_quantity AS DOUBLE)) AS ps_supplycost
      FROM lineitem GROUP BY l_partkey, l_suppkey
"""


@register(
    "q2_min_cost_supplier",
    f"""
    WITH ps AS ({_Q2_PS_SQL})
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_supplycost
    FROM part, ps, supplier, nation, region
    WHERE p_partkey = ps.l_partkey AND s_suppkey = ps.l_suppkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA' AND p_size <= 15 AND p_type = 'LARGE'
      AND ps_supplycost = (
        SELECT MIN(ps2.ps_supplycost)
        FROM ps ps2
        JOIN supplier s2 ON s2.s_suppkey = ps2.l_suppkey
        JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
        WHERE r2.r_name = 'ASIA' AND ps2.l_partkey = ps.l_partkey
      )
    ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
    LIMIT 20
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: for each part in a size/type slice, the
    region-eligible supplier(s) achieving the MINIMUM supply cost —
    the classic correlated-MIN-equality query. The oracle keeps the
    correlated subquery; the Spark side is the decorrelated plan a
    cost-based engine should reach: compute the eligible (part,
    supplier, cost) catalog once, derive per-part min cost with ONE
    hash aggregate, and join back on (partkey, cost equality) — no
    per-row subquery, both dims broadcast. (s_name, p_partkey) is a
    unique tiebreak (one catalog row per part-supplier pair)."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(
            F.col("l_extendedprice").cast("double")
            / F.col("l_quantity").cast("double")
        ).alias("ps_supplycost")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    eligible = (
        ps.join(F.broadcast(s), ps.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    min_cost = eligible.groupBy("l_partkey").agg(
        F.min("ps_supplycost").alias("__min_cost")
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "LARGE")
    )
    return (
        eligible.join(min_cost, "l_partkey")
        .filter(F.col("ps_supplycost") == F.col("__min_cost"))
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            "ps_supplycost",
        )
        .orderBy(
            F.col("s_acctbal").desc(),
            F.col("n_name").asc(),
            F.col("s_name").asc(),
            F.col("p_partkey").asc(),
        )
        .limit(20)
    )


@register(
    "q11_important_part_values",
    f"""
    WITH v AS (
      SELECT l_partkey, {oracle_dsum('l_extendedprice', 2)} AS part_value
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      WHERE s_nationkey < 13
      GROUP BY l_partkey
    ), t AS (
      SELECT {oracle_dsum('l_extendedprice', 2)} AS total_value
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      WHERE s_nationkey < 13
    ), n AS (
      SELECT COUNT(*) AS n_parts FROM v
    )
    SELECT l_partkey AS partkey, part_value
    FROM v, t, n
    WHERE part_value > CAST(1.5 AS DOUBLE) * total_value
                         / CAST(n_parts AS DOUBLE)
    """,
)
def q11_important_part_values(spark, sf_dir):
    """TPC-H Q11 shape: per-part value concentration for one supplier
    nation group, HAVING > a threshold derived from a scalar subquery
    over the same restricted join. TPC-H's literal fraction scales with
    1/SF; the scale-free equivalent here is 1.5× the MEAN part value
    (non-empty at every shipped SF — a fixed fraction yields zero rows
    at sf0.1 and an empty, evidence-free gate). The sum runs in decimal
    space (dsum); the threshold is one multiply and one divide of exact
    values, identical single IEEE ops in both engines. Spark
    decorrelates the scalar as a 1-row broadcast cross join — the
    aggregate runs once, not per group."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 13)
    base = li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
    v = base.groupBy("l_partkey").agg(
        dsum("l_extendedprice", 2).alias("part_value")
    )
    total = base.agg(dsum("l_extendedprice", 2).alias("__total"))
    n_parts = v.agg(F.count("*").alias("__n_parts"))
    return (
        v.join(F.broadcast(total))
        .join(F.broadcast(n_parts))
        .filter(
            F.col("part_value")
            > F.lit(1.5) * F.col("__total") / F.col("__n_parts").cast("double")
        )
        .select(F.col("l_partkey").alias("partkey"), "part_value")
    )


@register(
    "q20_excess_quantity_suppliers",
    f"""
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_regionkey = 2
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'large%'
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_suppkey, l_partkey
        HAVING {oracle_dsum('l_quantity', 2)} > CAST(50 AS DOUBLE)
      )
    """,
)
def q20_excess_quantity_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers in one region who moved an EXCESS
    quantity (>50 units in the year) of any name-matched part — the
    nested IN over a grouped-HAVING subquery. Spark plans the IN as a
    LEFT SEMI join against the (supplier, part) quantity aggregate
    (decimal-space sum, exact > comparison); the part name filter prunes
    below the join and both dims broadcast."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("large%"))
    excess = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(dsum("l_quantity", 2).alias("__qty"))
        .filter(F.col("__qty") > F.lit(50.0))
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2)
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(excess, s.s_suppkey == excess.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
    )


@register(
    "q21_waiting_suppliers",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders o
    WHERE s_suppkey = l1.l_suppkey AND o.o_orderkey = l1.l_orderkey
      AND o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 10
    """,
)
def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on
    finished multi-supplier orders (lateness = the Q4 stand-in). The
    oracle keeps the textbook EXISTS + NOT-EXISTS self-joins; the Spark
    side is the set-based decorrelation those quantifiers reduce to —
    EXISTS(other supplier) ⟺ the order has ≥2 distinct suppliers, and
    NOT EXISTS(other late supplier) ⟺ the order's distinct LATE
    suppliers number exactly 1 (l1 itself is late) — so two per-order
    countDistinct aggregates replace two correlated self-joins, each
    with map-side partial combine, and l1 rows filter against the tiny
    per-order stats. Row-for-row equal to the quantifier form."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    lo = li.join(o, li.l_orderkey == o.o_orderkey)
    late = lo.filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    n_supp = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("__n_supp")
    )
    n_late = late.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("__n_late")
    )
    s = load_table(spark, sf_dir, "supplier")
    l1 = (
        late.join(n_supp, "l_orderkey")
        .join(n_late, "l_orderkey")
        .filter((F.col("__n_supp") >= 2) & (F.col("__n_late") == 1))
    )
    return (
        l1.join(F.broadcast(s), l1.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(10)
    )


@register(
    "q8_market_share",
    f"""
    SELECT o_year, nation_volume / total_volume AS mkt_share,
           nation_volume, total_volume
    FROM (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             {oracle_dsum(
                 "CASE WHEN supp_nation = 'NATION_7'"
                 " THEN l_extendedprice * (1 - l_discount)"
                 " ELSE 0.0 END", 4)} AS nation_volume,
             {oracle_dsum('l_extendedprice * (1 - l_discount)', 4)}
               AS total_volume
      FROM (
        SELECT o_orderdate, l_extendedprice, l_discount,
               n2.n_name AS supp_nation
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON n1.n_nationkey = c_nationkey
        JOIN region ON r_regionkey = n1.n_regionkey
        JOIN nation n2 ON n2.n_nationkey = s_nationkey
        WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
      )
      GROUP BY year(o_orderdate)
    )
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8: one supplier nation's market share of PROMO parts sold
    into EUROPE, by order year — the widest join in the corpus (6 tables,
    nation twice). Bounded dims (nation ×2, region) are hint-broadcast;
    the growing chains (part, supplier, customer, orders) are AQE's call.
    The share is conditional aggregation in decimal space and ONE
    division, so it is bit-reproducible."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_regionkey").alias("n1_region"),
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    joined = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
    )
    agg = joined.groupBy(
        F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(
        dsum(
            "CASE WHEN supp_nation = 'NATION_7'"
            " THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END",
            4,
        ).alias("nation_volume"),
        dsum("l_extendedprice * (1 - l_discount)", 4).alias("total_volume"),
    )
    return agg.select(
        "o_year",
        (F.col("nation_volume") / F.col("total_volume")).alias("mkt_share"),
        "nation_volume",
        "total_volume",
    )


@register(
    "q9_profit_by_nation_year",
    f"""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           {oracle_dsum(
               'l_extendedprice * (1 - l_discount)'
               ' - CAST(0.6 AS DOUBLE) * p_retailprice * l_quantity', 4)}
             AS sum_profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    """,
)
def q9_profit_by_nation_year(spark, sf_dir):
    """TPC-H Q9 shape: profit by supplier nation and order year over parts
    matching a name pattern (0.6 × retail price stands in for
    ps_supplycost — the testdata ships no partsupp). The LIKE filter cuts
    part before any join; supplier/orders are AQE-planned; nation is the
    one hinted broadcast. Profit addends are identical IEEE expression
    trees on both engines, summed in decimal space."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            dsum(
                "l_extendedprice * (1 - l_discount)"
                " - CAST(0.6 AS DOUBLE) * p_retailprice * l_quantity",
                4,
            ).alias("sum_profit")
        )
    )


@register(
    "grouped_ols_slope_customers",
    """
    WITH b AS (
      SELECT o_custkey, epoch_us(o_orderdate) // 86400000000 AS x,
             CAST(ROUND(o_totalprice * 1e2) AS BIGINT) AS y
      FROM orders
    ), a AS (
      SELECT o_custkey, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*y) AS sxy, SUM(x*x) AS sxx
      FROM b GROUP BY o_custkey
    )
    SELECT o_custkey, CAST(n AS INTEGER) AS n_orders,
           CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
             AS slope_cents_per_day
    FROM a WHERE n*sxx - sx*sx <> 0
    """,
)
def grouped_ols_slope_customers(spark, sf_dir):
    """Grouped-map pandas UDF (``applyInPandas`` — the one UDF shape not
    previously hash-gated): per-customer OLS slope of spend over time,
    the classic "model per group" pattern that has no single-pass SQL
    equivalent shape in user code. Cross-engine exact by the integer
    recipe: day numbers and price cents are exact int64 INSIDE pandas
    (computed JVM-side before the UDF — Python never rounds floats), the
    normal-equation numerator/denominator are exact integer sums
    (max |num| ≈ 1.8e12 ≪ 2^53 at sf0.1), and the slope is ONE double
    division — so the Arrow-batched Python path hash-matches DuckDB's
    declarative aggregate bit-for-bit. Customers whose orders all share
    one day (den = 0) are dropped on both sides. One shuffle on the
    group key; each group's work is O(rows)."""
    import pandas as pd

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(
            "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
        ).alias("x"),
        F.expr("CAST(ROUND(o_totalprice * 1e2) AS BIGINT)").alias("y"),
    )

    def ols(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        x = pdf["x"].tolist()  # Python ints: arbitrary precision, exact
        y = pdf["y"].tolist()
        sx, sy = sum(x), sum(y)
        sxy = sum(a * b for a, b in zip(x, y))
        sxx = sum(a * a for a in x)
        den = n * sxx - sx * sx
        if den == 0:
            return pd.DataFrame(
                {"o_custkey": [], "n_orders": [], "slope_cents_per_day": []}
            )
        num = n * sxy - sx * sy
        return pd.DataFrame(
            {
                "o_custkey": [int(pdf["o_custkey"].iloc[0])],
                "n_orders": [n],
                "slope_cents_per_day": [float(num) / float(den)],
            }
        )

    return o.groupBy("o_custkey").applyInPandas(
        ols,
        "o_custkey long, n_orders int, slope_cents_per_day double",
    )


@register(
    "right_outer_order_lineitems",
    """
    SELECT o.o_orderkey, o.o_orderstatus, l.l_linenumber, l.l_quantity
    FROM lineitem l RIGHT OUTER JOIN
      (SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1999-06-01') o
      ON l.l_orderkey = o.o_orderkey AND l.l_linenumber <= 2
    """,
)
def right_outer_order_lineitems(spark, sf_dir):
    """RIGHT OUTER join (closing the join-type matrix: inner, left,
    full, semi, anti, asof, range, theta are already gated): recent
    orders keep a row even when the join-side predicate
    (l_linenumber ≤ 2) eliminates every lineitem. The predicate lives in
    the JOIN CONDITION, not a WHERE — pushing it to a pre-filter is the
    classic outer-join rewrite error the oracle would catch."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1999-06-01"
    )
    li = load_table(spark, sf_dir, "lineitem")
    return li.join(
        o,
        (li.l_orderkey == o.o_orderkey) & (li.l_linenumber <= 2),
        "right_outer",
    ).select("o_orderkey", "o_orderstatus", "l_linenumber", "l_quantity")


@register(
    "bpe_pair_counts_docs",
    """
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), v AS (
      SELECT w, COUNT(*) AS wc FROM w WHERE len(w) >= 2 GROUP BY w
    ), p AS (
      SELECT substr(w, i, 1) AS pair_left, substr(w, i + 1, 1) AS pair_right,
             wc
      FROM v, unnest(generate_series(1, len(w) - 1)) AS t(i)
    )
    SELECT pair_left, pair_right, CAST(SUM(wc) AS BIGINT) AS n
    FROM p GROUP BY pair_left, pair_right
    ORDER BY n DESC, pair_left ASC, pair_right ASC
    LIMIT 50
    """,
)
def bpe_pair_counts_docs(spark, sf_dir):
    """BPE tokenizer training, round-0 pair statistics (operators.bpe):
    the top-50 corpus-weighted adjacent character pairs — the quantity
    whose argmax IS the first merge. The Spark side is histogram-first
    (corpus reduces once to the word histogram; pair counting runs over
    the VOCAB weighted by counts — the reduction real BPE trainers live
    on); the oracle re-derives the same counts from a naive
    unnest-per-position over the DuckDB word histogram. Total order
    (n DESC, pair ASC) with the pair itself as the unique tiebreaker
    under the LIMIT, per the registry convention. The iterative trainer
    (bpe.bpe_train: argmax + left-to-right non-overlapping merge fold,
    one bounded vocab aggregate per round) is pinned against a
    pure-Python reference in tests/test_operators.py."""
    from lakeshack_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    vocab = bpe.initial_symbols(bpe.word_histogram(docs, "text"))
    return (
        bpe.pair_counts(vocab)
        .orderBy(F.desc("n"), F.asc("pair_left"), F.asc("pair_right"))
        .limit(50)
    )


@register(
    "vocab_encode_docs",
    """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE doc_id < 400
    ), tk AS (
      SELECT doc_id, unnest(list_transform(
        generate_series(1, len(w)), i -> {'pos': i - 1, 'term': w[i]}),
        recursive := true)
      FROM d
    ), vc AS (
      SELECT term, COUNT(*) AS n FROM tk GROUP BY term
    ), vid AS (
      SELECT term,
             CAST(row_number() OVER (ORDER BY n DESC, term ASC) - 1
                  AS INTEGER) AS token_id
      FROM vc ORDER BY n DESC, term ASC LIMIT 200
    ), e AS (
      SELECT tk.doc_id, tk.pos, COALESCE(vid.token_id, -1) AS tid
      FROM tk LEFT JOIN vid USING (term)
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos)) AS ids_fp
    FROM e GROUP BY doc_id
    """,
)
def vocab_encode_docs(spark, sf_dir):
    """Tokenize-to-ids (text.build_vocab + text.encode_with_vocab): a
    200-term frequency-ranked vocab with the deterministic (count DESC,
    term ASC) id rule, then every doc encoded to its id sequence — the
    LLM preprocessing step between cleaning and packing. ``ids_fp``
    (md5 of the ORDERED id string) pins the entire encoded sequence of
    every document through one scalar cell, so the hash match proves
    vocab ranking, OOV mapping, AND sequence order. Broadcast vocab
    join; order restored by an array_sort of (pos, id) structs, no
    window."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    vocab = text.build_vocab(docs, max_size=200)
    return text.encode_with_vocab(docs, vocab)


@register(
    "unpivot_order_measures",
    """
    UNPIVOT (
      SELECT o_orderstatus,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS BIGINT)
               AS total_cents,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
      FROM orders GROUP BY o_orderstatus
    ) ON n_orders, total_cents, n_customers
    INTO NAME measure VALUE value
    """,
)
def unpivot_order_measures(spark, sf_dir):
    """UNPIVOT / melt (the inverse of the gated pivot entry): a wide
    per-status measure table melts to (status, measure, value) rows —
    Spark's ``DataFrame.unpivot`` (Catalyst Expand, map-only after the
    aggregate) against DuckDB's UNPIVOT clause. All measures are exact
    BIGINTs so the long format hashes cell-exact."""
    o = load_table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.expr("CAST(ROUND(o_totalprice * 1e2) AS BIGINT)")).alias(
            "total_cents"
        ),
        F.countDistinct("o_custkey").alias("n_customers"),
    )
    return wide.unpivot(
        ["o_orderstatus"],
        ["n_orders", "total_cents", "n_customers"],
        "measure",
        "value",
    )


@register(
    "string_agg_region_nations",
    """
    SELECT r_name, CAST(COUNT(*) AS INTEGER) AS n_nations,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def string_agg_region_nations(spark, sf_dir):
    """String aggregation (LISTAGG): the one collection aggregate whose
    result CAN cross the driver's scalar-only hash gate, because it
    collapses to a string. Determinism requires an explicit element
    order — Spark's ``collect_list`` order is partition-dependent, so
    the list is ``array_sort``-ed before joining (the oracle's
    ``ORDER BY`` inside string_agg is the same rule)."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").cast("int").alias("n_nations"),
            F.concat_ws(
                ",", F.array_sort(F.collect_list("n_name"))
            ).alias("nations"),
        )
    )


@register(
    "null_semantics_suite",
    """
    WITH t AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
                  ELSE o_orderpriority END AS p
      FROM orders
    ), g AS (
      SELECT p, COUNT(*) AS n FROM t GROUP BY p
    )
    SELECT a.p, a.n, b.n AS n_selfmatch
    FROM g a JOIN g b ON a.p IS NOT DISTINCT FROM b.p
    """,
)
def null_semantics_suite(spark, sf_dir):
    """NULL semantics pinned cross-engine: grouping collects NULL keys
    into ONE group (both engines), and the null-safe equality join
    (Spark ``eqNullSafe`` / SQL ``IS NOT DISTINCT FROM``) matches the
    NULL group to itself — a plain equi-join would silently drop it,
    which is exactly the bug class this entry exists to catch."""
    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(None))
        .otherwise(F.col("o_orderpriority"))
        .alias("p")
    )
    g = t.groupBy("p").agg(F.count("*").alias("n"))
    a, b = g.alias("a"), g.alias("b")
    return a.join(b, F.col("a.p").eqNullSafe(F.col("b.p"))).select(
        F.col("a.p").alias("p"),
        F.col("a.n").alias("n"),
        F.col("b.n").alias("n_selfmatch"),
    )


_DIFF_FP = (
    "md5("
    + " || '|' || ".join(
        f"(CAST(length(CAST({c} AS VARCHAR)) AS VARCHAR) || ':' "
        f"|| CAST({c} AS VARCHAR))"
        for c in ("o_custkey", "o_orderstatus", "o_orderpriority")
    )
    + ")"
)


@register(
    "table_diff_orders",
    f"""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
      FROM orders WHERE o_orderkey < 3000
    ), newt AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 101 = 0 THEN 'X-CHANGED'
                  ELSE o_orderpriority END AS o_orderpriority
      FROM base WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 1000000, o_custkey, o_orderstatus, o_orderpriority
      FROM base WHERE o_orderkey % 103 = 0
    ), of AS (
      SELECT o_orderkey, {_DIFF_FP} AS old_fp FROM base
    ), nf AS (
      SELECT o_orderkey, {_DIFF_FP} AS new_fp FROM newt
    )
    SELECT COALESCE(of.o_orderkey, nf.o_orderkey) AS o_orderkey,
           CASE WHEN of.o_orderkey IS NULL THEN 'added'
                WHEN nf.o_orderkey IS NULL THEN 'removed'
                WHEN old_fp <> new_fp THEN 'changed' END AS status,
           old_fp, new_fp
    FROM of FULL OUTER JOIN nf ON of.o_orderkey = nf.o_orderkey
    WHERE (of.o_orderkey IS NULL OR nf.o_orderkey IS NULL
           OR old_fp <> new_fp)
    """,
)
def table_diff_orders(spark, sf_dir):
    """Table reconciliation (operators.diff.table_diff): a deterministic
    mutant of orders (every 97th key removed, every 101st key's priority
    rewritten, every 103rd re-keyed as an add) diffed against the
    original. Both sides reduce map-side to (key, md5 row fingerprint
    with length-prefixed canonical values — NULL-safe by construction)
    before ONE full outer join; the oracle rebuilds mutation,
    fingerprint, and status logic in SQL, so the hash match pins the
    fingerprint scheme and the add/remove/change classification
    row-for-row. The CDC-validation / backfill-audit primitive."""
    from lakeshack_spark.operators.diff import table_diff

    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 3000)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    )
    kept = base.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 101 == 0, F.lit("X-CHANGED")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    added = base.filter(F.col("o_orderkey") % 103 == 0).select(
        (F.col("o_orderkey") + 1000000).alias("o_orderkey"),
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
    )
    new = kept.unionByName(added)
    return table_diff(base, new, ["o_orderkey"])


@register(
    "merge_upsert_orders",
    """
    WITH t AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
    ), mx AS (SELECT MAX(o_orderkey) + 1 AS m FROM t)
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 100 = 7
                THEN o_totalprice + CAST(10.0 AS DOUBLE)
                ELSE o_totalprice END AS o_totalprice
    FROM t
    WHERE o_orderkey % 100 <> 13
    UNION ALL
    SELECT o_orderkey + m AS o_orderkey, o_custkey,
           'I' AS o_orderstatus,
           o_totalprice * CAST(0.5 AS DOUBLE) AS o_totalprice
    FROM t, mx WHERE o_orderkey % 100 = 21
    """,
)
def merge_upsert_orders(spark, sf_dir):
    """Delta-style MERGE INTO (operators.diff.merge_upsert) under the
    hash gate: a deterministic CDC batch against orders — every 7th-mod
    key updated (+10 totalprice), every 13th-mod deleted, every 21st-mod
    re-keyed past max(key)+1 and inserted at half price with status 'I'.
    One null-safe full-outer key join, all row construction map-side;
    the oracle rebuilds the final table with plain set logic (keep ∪
    updates ∪ inserts), so the hash match pins matched-update,
    matched-delete, unmatched-keep, and not-matched-insert semantics
    row-for-row, including exact IEEE double arithmetic on the updated
    prices. Insert keys derive from max(key)+1, never a fixed offset."""
    from lakeshack_spark.operators.diff import merge_upsert

    t = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    mx = t.agg((F.max("o_orderkey") + 1).alias("__mx"))
    upd = (
        t.filter(F.col("o_orderkey") % 100 == 7)
        .withColumn("o_totalprice", F.col("o_totalprice") + 10.0)
        .withColumn("is_delete", F.lit(False))
    )
    dele = t.filter(F.col("o_orderkey") % 100 == 13).withColumn(
        "is_delete", F.lit(True)
    )
    ins = (
        t.filter(F.col("o_orderkey") % 100 == 21)
        .crossJoin(F.broadcast(mx))
        .select(
            (F.col("o_orderkey") + F.col("__mx")).alias("o_orderkey"),
            "o_custkey",
            F.lit("I").alias("o_orderstatus"),
            (F.col("o_totalprice") * 0.5).alias("o_totalprice"),
            F.lit(False).alias("is_delete"),
        )
    )
    source = upd.unionByName(dele).unionByName(ins)
    return merge_upsert(t, source, ["o_orderkey"], delete_col="is_delete")


@register(
    "gap_fill_daily_spend",
    """
    WITH obs AS (
      SELECT o_custkey AS k, epoch_us(o_orderdate) // 86400000000 AS t,
             CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS BIGINT)
               AS v
      FROM orders
      WHERE o_custkey < 30
      GROUP BY o_custkey, epoch_us(o_orderdate) // 86400000000
    ), spine AS (
      SELECT k, unnest(range(9500, 9561)) AS t
      FROM (SELECT DISTINCT k FROM obs)
    ), g AS (
      SELECT s.k, s.t, o.v,
             (o.v IS NULL) AS is_gap
      FROM spine s LEFT JOIN (SELECT * FROM obs WHERE t BETWEEN 9500 AND 9560) o
        ON s.k = o.k AND s.t = o.t
    )
    SELECT k AS o_custkey, CAST(t AS BIGINT) AS day,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY k ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           is_gap
    FROM g
    """,
)
def gap_fill_daily_spend(spark, sf_dir):
    """Time-series gap fill (operators.timeseries.gap_fill): per-customer
    daily spend regularized onto a 61-day spine with forward fill —
    leading gaps stay NULL (honest, not zero), ``is_gap`` marks filled
    rows, and spend is integer cents so the carried value is exact. The
    oracle rebuilds spine + LEFT JOIN + ``last_value IGNORE NULLS`` in
    DuckDB; the hash pins the spine bounds, the range-exclusion rule
    (out-of-window observations feed neither grid nor fill), and the
    fill semantics row-for-row."""
    from lakeshack_spark.operators.timeseries import gap_fill

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 30)
    obs = (
        o.select(
            "o_custkey",
            F.expr(
                "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
            ).alias("day"),
            F.expr("CAST(ROUND(o_totalprice * 1e2) AS BIGINT)").alias("cents"),
        )
        .groupBy("o_custkey", "day")
        .agg(F.sum("cents").alias("daily_cents"))
    )
    return gap_fill(obs, "o_custkey", "day", "daily_cents", 9500, 9560)


@register(
    "interpolate_daily_spend",
    """
    WITH obs AS (
      SELECT o_custkey AS k, epoch_us(o_orderdate) // 86400000000 AS t,
             CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS BIGINT)
               AS v
      FROM orders
      WHERE o_custkey < 30
      GROUP BY o_custkey, epoch_us(o_orderdate) // 86400000000
    ), spine AS (
      SELECT k, unnest(range(9500, 9561)) AS t
      FROM (SELECT DISTINCT k FROM obs)
    ), g AS (
      SELECT s.k, s.t, o.v
      FROM spine s LEFT JOIN (SELECT * FROM obs WHERE t BETWEEN 9500 AND 9560) o
        ON s.k = o.k AND s.t = o.t
    ), anchored AS (
      SELECT k, t, v,
        last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER (
          PARTITION BY k ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
        last_value(v IGNORE NULLS) OVER (
          PARTITION BY k ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
        first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER (
          PARTITION BY k ORDER BY t
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1,
        first_value(v IGNORE NULLS) OVER (
          PARTITION BY k ORDER BY t
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1
      FROM g
    )
    SELECT k AS o_custkey, CAST(t AS BIGINT) AS day,
           CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
                WHEN t0 IS NOT NULL AND t1 IS NOT NULL THEN
                  CAST(v0 * (t1 - t) + v1 * (t - t0) AS DOUBLE)
                  / CAST(t1 - t0 AS DOUBLE)
           END AS value,
           (v IS NULL) AS is_gap
    FROM anchored
    """,
)
def interpolate_daily_spend(spark, sf_dir):
    """Linear-interpolation resample (operators.timeseries
    .interpolate_fill) — gap_fill's step-function sibling for trending
    quantities: per-customer daily spend on the same 61-day spine, gap
    steps valued ``(v0·(t1−t)+v1·(t−t0))/(t1−t0)`` between their
    surrounding observations. Integer cents/days make the numerators
    exact int64 and the single division a correctly-rounded IEEE op, so
    even the interpolated DOUBLES hash-match the oracle bit-for-bit;
    leading/trailing gaps stay NULL (one anchor would be
    extrapolation), observation rows return exactly. One spine join +
    two windows."""
    from lakeshack_spark.operators.timeseries import interpolate_fill

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 30)
    obs = (
        o.select(
            "o_custkey",
            F.expr(
                "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
            ).alias("day"),
            F.expr("CAST(ROUND(o_totalprice * 1e2) AS BIGINT)").alias("cents"),
        )
        .groupBy("o_custkey", "day")
        .agg(F.sum("cents").alias("daily_cents"))
    )
    return interpolate_fill(obs, "o_custkey", "day", "daily_cents", 9500, 9560)


@register(
    "fuzzy_join_part_names",
    """
    WITH l AS (
      SELECT p_partkey + 500000 AS typo_id,
             'x' || substr(p_name, 2, length(p_name) - 2) AS s
      FROM part WHERE p_partkey < 50
    )
    SELECT l.typo_id, r.p_partkey,
           CAST(levenshtein(l.s, r.p_name) AS INTEGER) AS dist
    FROM l, part r
    WHERE levenshtein(l.s, r.p_name) <= 2
    """,
)
def fuzzy_join_part_names(spark, sf_dir):
    """Edit-distance-bounded fuzzy join (operators.fuzzy.fuzzy_join,
    the q-gram-prefilter/PPJoin family) under the hash gate: 50 planted
    typo names (first char substituted, last char deleted — exactly ≤ 2
    edits from the source, built identically in both engines) joined
    against part at max_dist=2. The ORACLE is the naive cross join with
    the same levenshtein filter, so the hash match PROVES the q-gram
    pigeonhole + length-band prefilter is lossless on this corpus —
    same argument shape as minhash_dedup_verified. Spark's side never
    cross-joins: grams equi-join + band + exact verify."""
    from lakeshack_spark.operators.fuzzy import fuzzy_join

    p = load_table(spark, sf_dir, "part")
    typos = p.filter(F.col("p_partkey") < 50).select(
        (F.col("p_partkey") + 500000).alias("typo_id"),
        F.expr(
            "'x' || substring(p_name, 2, length(p_name) - 2)"
        ).alias("s"),
    )
    return fuzzy_join(typos, p, "s", "p_name", "typo_id", "p_partkey", max_dist=2)


@register(
    "scd2_merge_customer_segments",
    """
    WITH cur AS (
      SELECT c_custkey, c_mktsegment AS segment,
             CAST(0 AS BIGINT) AS valid_from,
             CAST(NULL AS BIGINT) AS valid_to
      FROM customer
    ), o96 AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             epoch_us(o_orderdate) // 86400000000 AS day
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1996-07-01'
    ), latest AS (
      SELECT o_custkey, o_orderpriority, day FROM (
        SELECT *, row_number() OVER (
          PARTITION BY o_custkey
          ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM o96) WHERE rn = 1
    ), upd AS (
      SELECT l.o_custkey AS c_custkey,
             CASE WHEN l.o_orderpriority = '1-URGENT' THEN c.c_mktsegment
                  ELSE l.o_orderpriority END AS segment,
             l.day AS ts
      FROM latest l JOIN customer c ON c.c_custkey = l.o_custkey
    )
    SELECT cur.c_custkey, cur.segment, cur.valid_from, cur.valid_to
    FROM cur LEFT JOIN upd USING (c_custkey)
    WHERE upd.c_custkey IS NULL OR upd.segment = cur.segment
    UNION ALL
    SELECT cur.c_custkey, cur.segment, cur.valid_from, upd.ts
    FROM cur JOIN upd USING (c_custkey) WHERE upd.segment <> cur.segment
    UNION ALL
    SELECT upd.c_custkey, upd.segment, upd.ts, CAST(NULL AS BIGINT)
    FROM upd LEFT JOIN cur USING (c_custkey)
    WHERE cur.c_custkey IS NULL OR upd.segment <> cur.segment
    """,
)
def scd2_merge_customer_segments(spark, sf_dir):
    """SCD type-2 merge (operators.relational.scd2_merge) under the hash
    gate: the customer dimension (open version, valid_from 0) merged
    with a derived update batch — each 1996-H1-active customer's latest
    order priority as the new segment, with URGENT orders mapped back to
    the CURRENT segment so the unchanged-attr branch (keep open, no new
    version) is exercised alongside close+append and untouched keys.
    The oracle is the longhand three-branch UNION; the hash proves the
    single full-outer-join formulation hits exactly the same rows."""
    from lakeshack_spark.operators import relational as rel

    c = load_table(spark, sf_dir, "customer")
    current = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    o96 = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    latest = o96.groupBy("o_custkey").agg(
        F.max_by(
            F.struct(
                F.col("o_orderpriority"),
                # o_orderdate is TIMESTAMP_NTZ; the UTC session makes the
                # cast an identity on instants, matching DuckDB epoch_us.
                F.expr(
                    "unix_micros(CAST(o_orderdate AS TIMESTAMP))"
                    " DIV 86400000000"
                ).alias("day"),
            ),
            F.struct(F.col("o_orderdate"), F.col("o_orderkey")),
        ).alias("__l")
    )
    updates = latest.join(
        c, latest["o_custkey"] == c["c_custkey"]
    ).select(
        F.col("c_custkey"),
        F.when(
            F.col("__l.o_orderpriority") == "1-URGENT",
            F.col("c_mktsegment"),
        )
        .otherwise(F.col("__l.o_orderpriority"))
        .alias("segment"),
        F.col("__l.day").alias("ts"),
    )
    return rel.scd2_merge(current, updates, "c_custkey", ["segment"], "ts")


@register(
    "funnel_signup_click_purchase",
    """
    WITH e AS (
      SELECT user_id AS u, event_type AS t, epoch_ns(ts) AS ts FROM events
    ), s1 AS (
      SELECT u, MIN(ts) AS f FROM e WHERE t = 'signup' GROUP BY u
    ), s2 AS (
      SELECT e.u, MIN(e.ts) AS f FROM e JOIN s1 USING (u)
      WHERE e.t = 'click' AND e.ts >= s1.f GROUP BY e.u
    ), s3 AS (
      SELECT e.u, MIN(e.ts) AS f FROM e JOIN s2 USING (u)
      WHERE e.t = 'purchase' AND e.ts >= s2.f GROUP BY e.u
    )
    SELECT CAST(1 AS INTEGER) AS step, 'signup' AS step_name,
           COUNT(*) AS n_users FROM s1
    UNION ALL SELECT CAST(2 AS INTEGER), 'click', COUNT(*) FROM s2
    UNION ALL SELECT CAST(3 AS INTEGER), 'purchase', COUNT(*) FROM s3
    """,
)
def funnel_signup_click_purchase(spark, sf_dir):
    """Ordered funnel (operators.relational.funnel_counts): users who
    signed up, then clicked at-or-after their first signup, then
    purchased at-or-after that first qualifying click. Step narrowing is
    k user-keyed min-joins (declarative, map-side combinable), never a
    per-user event fold; timestamps compare in the integer-ns domain."""
    from lakeshack_spark.operators import relational as rel

    ev = load_table(spark, sf_dir, "events")
    return rel.funnel_counts(ev, ["signup", "click", "purchase"])


@register(
    "dedup_events_first",
    """
    SELECT user_id, event_type,
           MIN(epoch_us(ts)) AS first_ts_us,
           COUNT(*) AS n_events
    FROM events
    GROUP BY user_id, event_type
    """,
)
def dedup_events_first(spark, sf_dir):
    """Keep-first dedup by (user, type) — batch twin of the streaming
    dropDuplicatesWithinWatermark path. Timestamps reported in µs: DuckDB
    truncates the nanos parquet type to TIMESTAMP (µs) on read, so µs is
    the shared exact domain (floor-div commutes with MIN)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.expr("MIN(ts) div 1000").alias("first_ts_us"),
        F.count("*").alias("n_events"),
    )


@register(
    "range_join_user_windows",
    """
    WITH wins AS (
      SELECT user_id AS win_user,
             MIN(epoch_ns(ts)) AS lo,
             MIN(epoch_ns(ts)) + 3600000000000 AS hi
      FROM events GROUP BY user_id
    )
    SELECT w.win_user,
           COUNT(*) AS n_events,
           MIN(e.event_id) AS first_event,
           MAX(e.event_id) AS last_event
    FROM events e JOIN wins w
      ON epoch_ns(e.ts) >= w.lo AND epoch_ns(e.ts) <= w.hi
    GROUP BY w.win_user
    """,
)
def range_join_user_windows(spark, sf_dir):
    """Point-in-interval join via operators.relational.range_join: count
    ALL events (any user) landing inside each user's first-hour window.
    The oracle is the naive inequality join DuckDB can afford at sf0.01;
    the Spark path is the bucketed equi-join (explode interval → hour
    buckets, hash join, exact filter) that never compiles to a
    nested-loop product — the Databricks/Delta range-join-hint shape.
    Nanos domain throughout (`ts` is the canonical nanos long)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    wins = (
        ev.groupBy(F.col("user_id").alias("win_user"))
        .agg(F.min("ts").alias("lo"))
        .withColumn("hi", F.col("lo") + F.lit(3_600_000_000_000))
    )
    joined = relational.range_join(
        ev.select("event_id", "ts"),
        wins,
        left_point="ts",
        right_lo="lo",
        right_hi="hi",
        bucket_width=3_600_000_000_000,
    )
    return joined.groupBy("win_user").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
    )


# =====================================================================
# LLM-pipeline: deduplication (operators.dedup)
# =====================================================================


@register(
    "dedup_exact_docs",
    """
    SELECT md5(text) AS text_md5, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact_docs(spark, sf_dir):
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_normalized_docs",
    """
    SELECT md5(trim(lower(text))) AS norm_md5, MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(trim(lower(text)))
    """,
)
def dedup_normalized_docs(spark, sf_dir):
    return dedup.normalized_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "ngram_jaccard_pairs",
    """
    WITH docs AS (
      SELECT doc_id, source, string_split(text, ' ') AS w
      FROM documents WHERE doc_id < 300
    ), sh AS (
      SELECT doc_id, source,
             CASE WHEN len(w) >= 3
                  THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                      for i in range(1, len(w) - 1)])
                  ELSE CAST([] AS VARCHAR[]) END AS s
      FROM docs
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
      AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / len(list_distinct(list_concat(a.s, b.s))) >= 0.015
    """,
)
def ngram_jaccard_pairs_docs(spark, sf_dir):
    """Exact 3-gram Jaccard over same-source doc pairs (doc_id < 300)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return dedup.ngram_jaccard_pairs(
        docs, k=3, threshold=0.015, block_col="source"
    )


@register(
    "ngram_containment_docs",
    """
    WITH base AS (
      SELECT doc_id, source, text FROM documents WHERE doc_id < 300
    ), quotes AS (
      SELECT doc_id + 100000 AS doc_id, source,
             array_to_string(list_slice(string_split(text, ' '), 1, 10),
                             ' ') AS text
      FROM base WHERE doc_id < 50
    ), docs AS (
      SELECT * FROM base UNION ALL SELECT * FROM quotes
    ), d2 AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM docs
    ), sh AS (
      SELECT doc_id, source,
             CASE WHEN len(w) >= 3
                  THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                      for i in range(1, len(w) - 1)])
                  ELSE CAST([] AS VARCHAR[]) END AS s
      FROM d2
    )
    SELECT id_a, id_b, c_ab AS containment_a_in_b,
           c_ba AS containment_b_in_a
    FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CASE WHEN len(a.s) > 0
             THEN CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)
             ELSE 0.0 END AS c_ab,
        CASE WHEN len(b.s) > 0
             THEN CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(b.s)
             ELSE 0.0 END AS c_ba
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    ) WHERE greatest(c_ab, c_ba) >= 0.5
    """,
)
def ngram_containment_docs(spark, sf_dir):
    """Asymmetric containment (dedup.ngram_containment_pairs): quote
    detection over same-source pairs with PLANTED quotes — every doc_id
    < 50 contributes a 10-token prefix "quote" doc whose containment in
    its host is exactly 1.0 while its Jaccard is near zero (the case the
    symmetric measure misses). Both engines plant identically, so the
    hash pins the shingle construction, the asymmetric division, and
    the greatest-threshold filter."""
    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "source", "text")
    )
    quotes = base.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + F.lit(100000)).alias("doc_id"),
        "source",
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 10)).alias(
            "text"
        ),
    )
    planted = base.unionByName(quotes)
    return dedup.ngram_containment_pairs(
        planted, k=3, threshold=0.5, block_col="source"
    )


@register(
    "docs_near_deduped",
    """
    WITH docs AS (
      SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS s
      FROM documents WHERE doc_id < 300
    ), dupes AS (
      SELECT DISTINCT b.doc_id AS dup_id
      FROM docs a JOIN docs b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
        AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(list_concat(a.s, b.s))) >= 0.9
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id < 300
      AND d.doc_id NOT IN (SELECT dup_id FROM dupes)
    """,
)
def docs_near_deduped(spark, sf_dir):
    """End-to-end near-dedup pipeline: candidate pairs (same-source
    blocking) → exact token-set Jaccard ≥ 0.9 → drop the later doc of each
    pair → surviving corpus (drops ~70/300 on this data). The greedy
    keep-earliest rule means a doc is dropped iff it near-matches ANY
    earlier doc; token-set (k=1) similarity is the right granularity for
    this corpus (shared vocabulary, shuffled order)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pairs = dedup.ngram_jaccard_pairs(docs, k=1, threshold=0.9, block_col="source")
    dupes = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return docs.join(dupes, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "minhash_dedup_verified",
    """
    WITH docs AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS s
      FROM documents WHERE doc_id < 300
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
    FROM docs a JOIN docs b ON a.doc_id < b.doc_id
    WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
      AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / len(list_distinct(list_concat(a.s, b.s))) >= 0.9
    """,
)
def minhash_dedup_verified(spark, sf_dir):
    """MinHash(64) + 16-band LSH candidates → exact token-set Jaccard
    verify ≥ 0.9. The LSH banding path hash-matches an all-pairs SQL
    oracle because at 16 bands its recall on J ≥ 0.9 pairs is 1−2e-8 (see
    operators.dedup.minhash_verified_pairs) and the verify stage removes
    every false positive."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return dedup.minhash_verified_pairs(
        docs, num_hashes=64, bands=16, k=1, threshold=0.9
    )


@register(
    "incremental_dedup_new_docs",
    """
    WITH c AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS s
      FROM documents WHERE doc_id < 400
    ), n AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS s
      FROM documents WHERE doc_id >= 400
    )
    SELECT n.doc_id AS id_new, c.doc_id AS id_corpus,
           CAST(len(list_intersect(n.s, c.s)) AS DOUBLE)
             / len(list_distinct(list_concat(n.s, c.s))) AS jaccard
    FROM n JOIN c ON len(list_distinct(list_concat(n.s, c.s))) > 0
    WHERE CAST(len(list_intersect(n.s, c.s)) AS DOUBLE)
            / len(list_distinct(list_concat(n.s, c.s))) >= 0.9
    """,
)
def incremental_dedup_new_docs(spark, sf_dir):
    """Incremental near-dedup (operators.dedup.incremental_near_dups):
    a NEW batch (doc_id ≥ 400) deduped against the EXISTING corpus
    (doc_id < 400) by probing the corpus's materialized LSH index — the
    O(batch) continuous-ingest shape; corpus text is read only for
    colliding docs. The oracle is the all-CROSS-pairs Jaccard join; the
    banded probe provably equals it (16-band miss probability ≈ 2e-8,
    the minhash_dedup_verified argument on cross pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 400)
    new = docs.filter(F.col("doc_id") >= 400)
    index = dedup.minhash_index(corpus)
    return dedup.incremental_near_dups(new, corpus, corpus_index=index)


# =====================================================================
# LLM-pipeline: text analysis (operators.text)
# =====================================================================


@register(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
             string_split(lower(text), ' '))), ' ')) AS fp
    FROM documents
    """,
)
def doc_fingerprint(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return text.fingerprint(docs).select("doc_id", "fp")


@register(
    "lang_id_docs",
    """
    WITH scored AS (
      SELECT doc_id, lang,
        len(list_filter(string_split(text,' '), x -> list_contains(['der','die','und','das'], x))) AS s_de,
        len(list_filter(string_split(text,' '), x -> list_contains(['the','a','and','of'], x))) AS s_en,
        len(list_filter(string_split(text,' '), x -> list_contains(['el','la','de','que'], x))) AS s_es,
        len(list_filter(string_split(text,' '), x -> list_contains(['le','la','et','les'], x))) AS s_fr,
        len(list_filter(string_split(text,' '), x -> list_contains(['de5','le5','shi4','zai4'], x))) AS s_zh
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) <= 0 THEN 'und'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                ELSE 'zh' END AS lang_pred
    FROM scored
    """,
)
def lang_id_docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return text.lang_id(docs).select("doc_id", "lang", "lang_pred")


@register(
    "quality_score_docs",
    """
    WITH t AS (
      SELECT doc_id,
             string_split(text, ' ') AS w,
             CAST(length(text) AS DOUBLE) AS n_chars_d
      FROM documents
    ), m AS (
      SELECT doc_id,
             len(w) AS n_words,
             n_chars_d / len(w) AS avg_word_len,
             CAST(len(list_filter(w, x -> list_contains(
               ['the','a','and','of','to','in','is'], x))) AS DOUBLE) / len(w)
               AS stopword_ratio,
             CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS distinct_ratio
      FROM t
    )
    SELECT doc_id, CAST(n_words AS INTEGER) AS n_words, avg_word_len,
           stopword_ratio, distinct_ratio,
           least(avg_word_len / 8.0, 1.0) * 0.3
             + least(stopword_ratio * 5.0, 1.0) * 0.3
             + distinct_ratio * 0.4 AS quality
    FROM m
    """,
)
def quality_score_docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return text.quality_score(docs).select(
        "doc_id", "n_words", "avg_word_len", "stopword_ratio", "distinct_ratio",
        "quality",
    )


@register(
    "token_stats_by_lang",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*)
             AS avg_tokens
    FROM documents
    GROUP BY lang
    """,
)
def token_stats_by_lang(spark, sf_dir):
    docs = text.token_count(load_table(spark, sf_dir, "documents"))
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_tokens").cast("long")).alias("total_tokens"),
        (F.sum(F.col("n_tokens").cast("long")).cast("double") / F.count("*")).alias(
            "avg_tokens"
        ),
    )


@register(
    "top_terms",
    """
    SELECT term, COUNT(*) AS n FROM (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ) t
    GROUP BY term
    ORDER BY n DESC, term ASC
    LIMIT 20
    """,
)
def top_terms(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        text.term_counts(docs)
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(20)
    )


#: 15-hex-digit md5 → BIGINT fold, the DuckDB twin of dedup._h64 (same
#: construction as the hash_split oracle; `{x}` is the hashed expression).
_H64_SQL = """CAST(list_sum(list_transform(range(1, 16),
      p -> CAST(strpos('0123456789abcdef', substr(md5({x}), p, 1)) - 1
             AS BIGINT) << (4 * (15 - p)))) AS BIGINT)"""


@register(
    "winnow_fingerprint_stats",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), g AS (
      SELECT doc_id,
        list_transform(generate_series(1, greatest(len(w) - 2, 0)),
          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS grams
      FROM t
    ), h AS (
      SELECT doc_id,
        list_transform(grams, s -> {_H64_SQL.format(x='s')}) AS hs
      FROM g
    ), m AS (
      SELECT doc_id,
        CASE WHEN len(hs) >= 4 THEN
          list_sort(list_distinct(list_transform(
            generate_series(1, len(hs) - 3),
            i -> list_min(list_slice(hs, i, i + 3)))))
        WHEN len(hs) >= 1 THEN [list_min(hs)]
        ELSE CAST([] AS BIGINT[]) END AS fps
      FROM h
    )
    SELECT doc_id, CAST(len(fps) AS INTEGER) AS n_fps,
           list_min(fps) AS min_fp, list_max(fps) AS max_fp
    FROM m
    """,
)
def winnow_fingerprint_stats(spark, sf_dir):
    """Winnowing fingerprints (SIGMOD'03, operators.text.winnow_fingerprint,
    k=3 word-grams, window=4) under the hash gate: the oracle rebuilds the
    selection — md5-folded gram hashes, sliding-window min, distinct —
    entirely in DuckDB list SQL. Array cells don't survive the driver's
    canonicalizer, so the fingerprint SET is pinned through scalars
    (count + min + max), which with the shared hash domain makes silent
    selection drift visible."""
    docs = load_table(spark, sf_dir, "documents")
    out = text.winnow_fingerprint(docs, k=3, window=4)
    return out.select(
        "doc_id",
        F.size("fps").alias("n_fps"),
        F.array_min("fps").alias("min_fp"),
        F.array_max("fps").alias("max_fp"),
    )


_RP_GH = _H64_SQL.format(x="array_to_string(list_slice(w, i, i + 7), ' ')")


@register(
    "repeated_passages_docs",
    f"""
    WITH base AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 300
    ), quotes AS (
      SELECT doc_id + 200000 AS doc_id,
             array_to_string(list_slice(string_split(text, ' '), 5, 34),
                             ' ') AS text
      FROM base WHERE doc_id < 40
    ), t AS (
      SELECT * FROM base UNION ALL SELECT * FROM quotes
    ), d AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM t
    ), g AS (
      SELECT doc_id,
        list_transform(generate_series(1, greatest(len(w) - 7, 0)),
          i -> {{'pos': i - 1, 'gh': {_RP_GH}}}) AS gs
      FROM d
    ), e AS (
      SELECT doc_id, unnest(gs, recursive := true) FROM g
    ), flagged AS (
      SELECT gh FROM e GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2
    ), fp AS (
      SELECT doc_id, pos FROM e WHERE gh IN (SELECT gh FROM flagged)
    ), cov AS (
      SELECT doc_id AS cov_id, COUNT(*) AS n_dup_grams,
             CAST(SUM(LEAST(8, pos - coalesce(lp, pos - 8))) AS BIGINT)
               AS dup_tokens
      FROM (SELECT doc_id, pos,
                   lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lp
            FROM fp)
      GROUP BY doc_id
    )
    SELECT d2.doc_id, CAST(len(w) AS INTEGER) AS n_tokens,
           coalesce(cov.n_dup_grams, 0) AS n_dup_grams,
           coalesce(cov.dup_tokens, 0) AS dup_tokens,
           coalesce(cov.dup_tokens, 0) / len(w) AS dup_frac
    FROM d d2 LEFT JOIN cov ON d2.doc_id = cov.cov_id
    """,
)
def repeated_passages_docs(spark, sf_dir):
    """Cross-document repeated-passage detection
    (text.repeated_passage_stats, k=8 word-grams, ≥2 distinct docs) with
    PLANTED quotes: every doc_id < 40 contributes a 30-token excerpt doc
    (tokens 5–34 of its host), so the host's excerpted span and the whole
    quote doc are provably repeated passages — dup_frac ≈ 1.0 on the
    quote, partial on the host — while untouched docs stay at whatever
    the corpus naturally repeats. The oracle rebuilds the whole pipeline
    (gram hashing in the shared md5 domain, ≥2-doc flagging, interval-
    union coverage via a lag window) in DuckDB list SQL; the hash match
    pins gram construction, the distinct-doc threshold, AND the
    overlap-merge coverage fold."""
    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "text")
    )
    quotes = base.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + F.lit(200000)).alias("doc_id"),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 5, 30)).alias(
            "text"
        ),
    )
    planted = base.unionByName(quotes)
    return text.repeated_passage_stats(planted, k=8, min_docs=2)


@register(
    "repetition_stats_docs",
    """
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
    ), g AS (
      SELECT doc_id, len(w) AS n, length(text) AS nc, w,
        list_transform(generate_series(1, greatest(len(w) - 1, 0)),
          i -> w[i] || ' ' || w[i+1]) AS g2,
        list_transform(generate_series(1, greatest(len(w) - 2, 0)),
          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3
      FROM t
    ), m AS (
      SELECT doc_id, n, nc,
        list_max(list_transform(list_distinct(w),
          x -> len(list_filter(w, y -> y = x)))) AS max_wc,
        len(list_distinct(w)) AS n_distinct,
        list_max(list_transform(list_distinct(g2),
          x -> [len(list_filter(g2, y -> y = x)), length(x)])) AS m2,
        list_max(list_transform(list_distinct(g3),
          x -> [len(list_filter(g3, y -> y = x)), length(x)])) AS m3
      FROM g
    )
    SELECT doc_id,
      CAST(max_wc AS DOUBLE) / n AS max_word_frac,
      CASE WHEN m2 IS NULL THEN 0.0
           ELSE CAST(m2[1] * m2[2] AS DOUBLE) / nc END AS top2gram_frac,
      CASE WHEN m3 IS NULL THEN 0.0
           ELSE CAST(m3[1] * m3[2] AS DOUBLE) / nc END AS top3gram_frac,
      1.0 - CAST(n_distinct AS DOUBLE) / n AS dup_word_ratio
    FROM m
    """,
)
def repetition_stats_docs(spark, sf_dir):
    """Gopher repetition signals (operators.text.repetition_stats) under
    the hash gate — this pins the doc_signals Arrow kernel (the measured
    ~7× exception to stay-JVM-side) cell-exact against an independent
    DuckDB list-SQL mode computation. Tie semantics (max count, then max
    element length) are lexicographic [count, len] maxima on both sides;
    every fraction is the same int/int double division, so doubles match
    bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_stats(docs, impl="arrow").select(
        "doc_id", "max_word_frac", "top2gram_frac", "top3gram_frac",
        "dup_word_ratio",
    )


@register(
    "pack_token_windows_docs",
    """
    WITH t AS (
      SELECT doc_id,
             CASE WHEN text IS NULL THEN 0
                  ELSE len(string_split(text, ' ')) END AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
        COALESCE(SUM(n_tokens) OVER (
          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ), 0) AS start_offset
      FROM t
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(start_offset AS BIGINT) AS start_offset,
           CASE WHEN n_tokens > 0
                THEN CAST(start_offset // 256 AS BIGINT) END AS chunk_first,
           CASE WHEN n_tokens > 0
                THEN CAST((start_offset + n_tokens - 1) // 256 AS BIGINT)
                END AS chunk_last
    FROM c
    """,
)
def pack_token_windows_docs(spark, sf_dir):
    """Sequence packing (operators.packing.pack_token_windows, 256-token
    context windows): every doc's global token offset and chunk span in
    the concatenated id-ordered stream. The oracle is the naive global
    window cumsum (fine for DuckDB); the Spark side is the two-pass
    distributed prefix sum (range partition → per-partition totals →
    broadcast offsets → mapInPandas running sum) that never collapses to
    a single-task global sort — the hash match proves the distributed
    decomposition equals the sequential definition."""
    from lakeshack_spark.operators.packing import pack_token_windows

    docs = load_table(spark, sf_dir, "documents")
    return pack_token_windows(docs, window=256).select(
        "doc_id", "n_tokens", "start_offset", "chunk_first", "chunk_last"
    )


@register(
    "tfidf_top_terms_docs",
    """
    WITH pairs AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM pairs GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS n_docs_with_term FROM tf GROUP BY term
    ), nd AS (
      SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
    ), scored AS (
      SELECT t.doc_id, t.term, t.tf, d.n_docs_with_term,
             CAST(t.tf AS DOUBLE)
               * (CAST(nd.n_docs + 1 AS DOUBLE)
                  / CAST(d.n_docs_with_term + 1 AS DOUBLE)) AS score
      FROM tf t JOIN dfreq d USING (term), nd
    )
    SELECT doc_id, term, tf, n_docs_with_term, score,
           CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term ASC
      ) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def tfidf_top_terms_docs(spark, sf_dir):
    """TF-IDF keyword extraction (operators.text.tfidf_top_terms) under
    the hash gate, using the ``rational`` idf variant: every score is
    exact IEEE int→double arithmetic, so Spark and DuckDB agree
    bit-for-bit (the production ``log`` variant differs by libm ulps
    across engines and is pinned by unit tests instead)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.tfidf_top_terms(docs, k=3, idf="rational")


@register(
    "boolean_search_docs",
    """
    WITH pairs AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(COUNT(DISTINCT term) AS INTEGER) AS n_terms_matched
      FROM pairs WHERE term IN ('spark', 'merge', 'window')
      GROUP BY doc_id
    )
    SELECT doc_id, n_terms_matched FROM m WHERE n_terms_matched = 3
    """,
)
def boolean_search_docs(spark, sf_dir):
    """Boolean AND retrieval (operators.retrieval.boolean_search): every
    document containing ALL of {spark, merge, window}. The literal
    IN-list filter runs map-side during the explode, so only queried-term
    postings shuffle — the conjunction is a distinct-term count, never a
    q-way self-join."""
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.boolean_search(docs, ["spark", "merge", "window"], mode="and")


@register(
    "bm25_search_docs",
    """
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), lengths AS (
      SELECT doc_id, len(w) AS dl FROM base
    ), corpus AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM lengths
    ), pairs AS (
      SELECT doc_id, unnest(w) AS term FROM base
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM pairs
      WHERE term IN ('spark', 'merge', 'window')
      GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY term
    ), scored AS (
      SELECT t.doc_id, t.term,
        (((CAST(c.n_docs AS DOUBLE) - CAST(d.dfreq AS DOUBLE)) + 0.5)
           / (CAST(d.dfreq AS DOUBLE) + 0.5))
        * ((CAST(t.tf AS DOUBLE) * 2.5)
           / (CAST(t.tf AS DOUBLE)
              + 1.5 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE)
                 / (CAST(c.total_dl AS DOUBLE) / CAST(c.n_docs AS DOUBLE))))))
        AS c
      FROM tf t JOIN dfreq d USING (term) JOIN lengths l USING (doc_id),
           corpus c
    )
    SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_terms_matched,
      COALESCE(MAX(CASE WHEN term = 'spark'  THEN c END), 0.0)
      + COALESCE(MAX(CASE WHEN term = 'merge'  THEN c END), 0.0)
      + COALESCE(MAX(CASE WHEN term = 'window' THEN c END), 0.0) AS score
    FROM scored GROUP BY doc_id
    """,
)
def bm25_search_docs(spark, sf_dir):
    """BM25 ranked retrieval (operators.retrieval.bm25_scores) under the
    hash gate, with the ``rational`` idf variant and exactly-representable
    k1=1.5, b=0.75: every step is an exact int→double conversion or ONE
    correctly-rounded IEEE op, and the per-term contributions sum in the
    FIXED query-term order (conditional-aggregation columns, left-assoc),
    so Spark and DuckDB agree bit-for-bit. The production ``log`` idf is
    unit-tested against a pure-Python reference instead (libm ulps)."""
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.bm25_scores(
        docs, ["spark", "merge", "window"], k1=1.5, b=0.75, idf="rational"
    )


@register(
    "unigram_lm_quality_docs",
    """
    WITH pairs AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), counts AS (
      SELECT term, COUNT(*) AS n_t FROM pairs GROUP BY term
    ), tot AS (
      SELECT SUM(n_t) AS t FROM counts
    )
    SELECT p.doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(c.n_t) AS DOUBLE)
             / CAST(tot.t * COUNT(*) AS DOUBLE) AS score
    FROM pairs p JOIN counts c USING (term), tot
    GROUP BY p.doc_id, tot.t
    """,
)
def unigram_lm_quality_docs(spark, sf_dir):
    """Unigram LM perplexity-proxy scoring (operators.text.unigram_lm_score)
    under the hash gate via the ``rational`` variant: mean corpus token
    probability — all-integer sums then ONE int→double division, so the
    cross-engine hash proves the model build (term counts), the
    model-to-document join, and the per-document aggregation all agree.
    The production mean-neg-logprob variant shares every stage but the
    final arithmetic and is unit-tested against pure Python (libm)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.unigram_lm_score(docs, variant="rational")


@register(
    "bigram_lm_quality_docs",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), pairs AS (
      SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
      FROM t, UNNEST(range(1, len(w))) AS u(i)
    ), counts AS (
      SELECT w1, w2, COUNT(*) AS n_b FROM pairs GROUP BY w1, w2
    ), tot AS (
      SELECT SUM(n_b) AS t FROM counts
    )
    SELECT p.doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(c.n_b) AS DOUBLE)
             / CAST(tot.t * COUNT(*) AS DOUBLE) AS score
    FROM pairs p JOIN counts c USING (w1, w2), tot
    GROUP BY p.doc_id, tot.t
    """,
)
def bigram_lm_quality_docs(spark, sf_dir):
    """Bigram LM scoring (operators.text.bigram_lm_score) — the order-2
    step toward CCNet's KenLM perplexity filter (Wenzek et al. 2020) —
    under the hash gate via the ``rational`` variant: mean corpus bigram
    probability, all-integer sums then ONE int→double division. The
    hash pins adjacent-pair extraction (two guarded slices zipped — no
    index sequence to run negative on 1-token docs, the F.sequence
    trap), the bigram model build, the (w1, w2)-keyed model join, and
    the per-document aggregation. Context sensitivity the unigram
    filter lacks: repeated-common-token junk has probable tokens but
    improbable pairs. Production mean-neg-logprob variant shares every
    stage but the final arithmetic, unit-tested vs pure Python."""
    docs = load_table(spark, sf_dir, "documents")
    return text.bigram_lm_score(docs, variant="rational")


@register(
    "chunk_tokens_docs",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), s AS (
      SELECT doc_id, w,
             unnest(range(0, greatest(len(w), 1), 32)) AS chunk_start
      FROM t
    )
    SELECT doc_id,
           CAST(chunk_start / 32 AS INTEGER) AS chunk_id,
           CAST(chunk_start AS INTEGER) AS chunk_start,
           CAST(len(list_slice(w, chunk_start + 1, chunk_start + 64))
             AS INTEGER) AS n_chunk_tokens,
           array_to_string(list_slice(w, chunk_start + 1, chunk_start + 64),
             ' ') AS chunk_text
    FROM s
    """,
)
def chunk_tokens_docs(spark, sf_dir):
    """Sliding-window document chunking (operators.text.chunk_tokens,
    window=64 stride=32 → 50% overlap): every chunk's offset, length,
    and text compared cell-exact — string assembly, slice clamping at
    document end, and the guarded start sequence all pinned. Map-only;
    the oracle re-derives the same chunks via DuckDB list SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return text.chunk_tokens(docs, window=64, stride=32)


@register(
    "term_drift_by_source",
    """
    WITH pairs AS (
      SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ), n_gt AS (
      SELECT source, term, COUNT(*) AS n_in_group
      FROM pairs GROUP BY source, term
    ), t_g AS (
      SELECT source, SUM(n_in_group) AS tg FROM n_gt GROUP BY source
    ), n_t AS (
      SELECT term, SUM(n_in_group) AS n_in_corpus FROM n_gt GROUP BY term
    ), tot AS (
      SELECT SUM(n_in_corpus) AS t FROM n_t
    )
    SELECT g.source, g.term, g.n_in_group,
           CAST(n_t.n_in_corpus AS BIGINT) AS n_in_corpus,
           CAST(g.n_in_group * tot.t AS DOUBLE)
             / CAST(t_g.tg * n_t.n_in_corpus AS DOUBLE) AS lift
    FROM n_gt g
    JOIN t_g USING (source) JOIN n_t USING (term), tot
    WHERE g.n_in_group >= 5
    """,
)
def term_drift_by_source(spark, sf_dir):
    """Corpus-slice drift detection (operators.text.term_lift_by_group):
    per (source, term) lift of in-slice frequency over corpus frequency
    — the unigram PMI behind "this source's token distribution is
    shifting" monitors. Both sides of the division are exact int64
    products, so the cross-engine hash pins the three-way count join
    and the lift arithmetic bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    return text.term_lift_by_group(docs, group_col="source")


@register(
    "heavy_hitter_terms",
    """
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS item FROM documents
    ), tot AS (
      SELECT COUNT(*) AS n FROM toks
    )
    SELECT item, COUNT(*) AS n_item,
           CAST(COUNT(*) AS DOUBLE) / CAST(tot.n AS DOUBLE) AS share
    FROM toks, tot
    GROUP BY item, tot.n
    HAVING COUNT(*) * 64 >= tot.n
    """,
)
def heavy_hitter_terms(spark, sf_dir):
    """Frequent terms via Misra–Gries sketch + exact verify
    (operators.frequent.heavy_hitters): per-partition k-counter summaries
    (mapInPandas, undercount ≤ n_p/(k+1)) merge into a provable candidate
    superset, then a broadcast-semi-join recount makes the final set
    EXACT — which is why the naive full-cardinality groupBy-HAVING can be
    its DuckDB oracle. Shuffle cost is O(counters × partitions +
    candidate postings), never O(distinct terms)."""
    from lakeshack_spark.operators import frequent
    from lakeshack_spark.operators.text import words_col

    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(F.explode(words_col("text")).alias("token"))
    return frequent.heavy_hitters(tokens, "token", one_in=64)


@register(
    "udtf_ngram_stats",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), g AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(len(w) - 1, 0)),
               i -> w[i] || ' ' || w[i+1])) AS ngram
      FROM t
    )
    SELECT doc_id, COUNT(*) AS n_grams,
           COUNT(DISTINCT ngram) AS n_distinct_grams,
           MIN(ngram) AS first_gram, MAX(ngram) AS last_gram
    FROM g GROUP BY doc_id
    """,
)
def udtf_ngram_stats(spark, sf_dir):
    """Python UDTF (Spark 4 table function) under the hash gate: the
    lateral ``ngrams(text, 2)`` fan-out aggregated per doc, against a
    DuckDB list-SQL twin. Docs with fewer than 2 tokens emit no lateral
    rows on either side. String MIN/MAX are binary collation in both
    engines (corpus is ASCII). The production n-gram path stays in
    built-ins (text.gram_array — JVM-side); this pins the UDTF contract
    itself."""
    from lakeshack_spark.functions.udtf import register_udtfs

    register_udtfs(spark)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, COUNT(*) AS n_grams,
               COUNT(DISTINCT g.ngram) AS n_distinct_grams,
               MIN(g.ngram) AS first_gram, MAX(g.ngram) AS last_gram
        FROM __docs_udtf d, LATERAL ngrams(d.text, 2) g
        GROUP BY d.doc_id
        """
    )


@register(
    "mask_pii_audit",
    f"""
    WITH planted AS (
      SELECT doc_id,
        text ||
          CASE WHEN doc_id % 5 = 0
               THEN ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 555-123-4567'
               ELSE '' END ||
          CASE WHEN doc_id % 7 = 0 THEN ' ssn 123-45-6789' ELSE '' END
          AS text
      FROM documents
    )
    SELECT doc_id,
      regexp_replace(regexp_replace(regexp_replace(text,
        '{text.PII_PATTERNS["email"]}', '<EMAIL>', 'g'),
        '{text.PII_PATTERNS["ssn"]}', '<SSN>', 'g'),
        '{text.PII_PATTERNS["phone"]}', '<PHONE>', 'g') AS text_masked,
      CAST(len(regexp_extract_all(text, '{text.PII_PATTERNS["email"]}'))
        AS INTEGER) AS n_email,
      CAST(len(regexp_extract_all(text, '{text.PII_PATTERNS["ssn"]}'))
        AS INTEGER) AS n_ssn,
      CAST(len(regexp_extract_all(text, '{text.PII_PATTERNS["phone"]}'))
        AS INTEGER) AS n_phone
    FROM planted
    """,
)
def mask_pii_audit(spark, sf_dir):
    """PII masking (operators.text.mask_pii) under the hash gate. The raw
    corpus carries no PII, so both sides plant identical deterministic
    spans (every 5th doc an email + phone, every 7th an SSN) before
    masking; the full masked text plus per-type counts are compared
    cell-exact. Valid cross-engine because PII_PATTERNS is restricted to
    the Java-regex ∩ RE2 common subset (no backrefs/lookaround) and both
    engines use leftmost non-overlapping matching; replacement order
    (email → ssn → phone) is identical on both sides."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com or 555-123-4567"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" ssn 123-45-6789")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    out = text.mask_pii(planted)
    return out.select(
        "doc_id",
        "text_masked",
        F.col("n_email").cast("int").alias("n_email"),
        F.col("n_ssn").cast("int").alias("n_ssn"),
        F.col("n_phone").cast("int").alias("n_phone"),
    )


# =====================================================================
# LLM-pipeline: similarity search (operators.similarity)
# =====================================================================

_COSINE_ORACLE = """
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 3
    ), scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[]))))
               AS cosine
      FROM embeddings e, q
      WHERE e.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rank
      FROM scored
    ) WHERE rank <= 5
"""


@register("cosine_topk_bruteforce", _COSINE_ORACLE)
def cosine_topk_bruteforce(spark, sf_dir):
    """Exact top-5 cosine neighbors for query vectors vec_id < 3."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return similarity.cosine_topk(emb, queries, k=5)


@register("ivf_topk_full_probe", _COSINE_ORACLE)
def ivf_topk_full_probe(spark, sf_dir):
    """IVF-bucketed ANN with nprobe = n_centroids: exercises the scale path
    (cell assignment + probe pruning) while remaining exactly equal to the
    brute-force oracle — the correctness configuration of the ANN operator."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    centroids = similarity.sample_centroids(emb, 8)
    return similarity.ivf_topk(emb, queries, centroids, k=5, nprobe=8)


_IVF_INDEX_CACHE: dict[str, str] = {}


def _ivf_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Persisted IVF index over the embeddings table (8 smallest-id
    centroids), built once per process into a temp dir."""
    key = sf_dir.rstrip("/")
    path = _IVF_INDEX_CACHE.get(key)
    if path is None:
        emb = load_table(spark, sf_dir, "embeddings")
        cents = similarity.sample_centroids(emb, 8)
        path = os.path.join(
            tempfile.mkdtemp(prefix="lakeshack_ivf_index_"), "index"
        )
        similarity.ivf_index_write(emb, cents, path)
        _IVF_INDEX_CACHE[key] = path
    return path


@register(
    "ivf_index_probe_topk",
    """
    WITH c AS (
      SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cid,
             CAST(embedding AS DOUBLE[]) AS cv
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id ASC LIMIT 8)
    ), v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings
    ), assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_dot_product(e.vv, c.cv)
                   / (sqrt(list_dot_product(e.vv, e.vv))
                      * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                 c.cid ASC) AS rn
        FROM v e CROSS JOIN c
      ) WHERE rn = 1
    ), q AS (
      SELECT vec_id AS query_id, vv AS qv FROM v WHERE vec_id < 3
    ), probe AS (
      SELECT query_id, cid AS cell FROM (
        SELECT q.query_id, c.cid,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 list_dot_product(q.qv, c.cv)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                 c.cid ASC) AS rn
        FROM q CROSS JOIN c
      ) WHERE rn <= 2
    ), scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_dot_product(q.qv, e.vv)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(e.vv, e.vv))) AS cosine
      FROM v e
      JOIN assign a ON e.vec_id = a.vec_id
      JOIN probe p ON a.cell = p.cell
      JOIN q ON q.query_id = p.query_id
      WHERE e.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rank FROM scored
    ) WHERE rank <= 5
    """,
)
def ivf_index_probe_topk(spark, sf_dir):
    """ANN search against a PERSISTED cell-partitioned IVF index
    (similarity.ivf_index_write / ivf_index_probe) at nprobe=2 of 8 —
    the "build once, probe many" serving path: the scan reads only the
    probed cells' Hive partition directories (partition pruning is
    plan-pinned in tests), and the oracle recomputes assignment, probe
    selection, and ranking from scratch — so the hash match proves the
    persisted index round-trips the exact cell structure AND that the
    pruned scan loses no candidate."""
    path = _ivf_index_path(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    cents = similarity.sample_centroids(emb, 8)
    return similarity.ivf_index_probe(
        spark, path, queries, cents, k=5, nprobe=2
    )


@register(
    "ivf_assign_cells",
    """
    WITH c AS (
      SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS centroid_id,
             CAST(embedding AS DOUBLE[]) AS cv
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id ASC LIMIT 64)
    ), scored AS (
      SELECT e.vec_id, c.centroid_id,
             list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(c.cv, c.cv))) AS sim
      FROM embeddings e CROSS JOIN c
    ), best AS (
      SELECT vec_id, centroid_id,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC
             ) AS rn
      FROM scored
    )
    SELECT centroid_id AS cell,
           COUNT(*) AS n_vectors,
           MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec
    FROM best WHERE rn = 1 GROUP BY centroid_id
    """,
)
def ivf_assign_cells(spark, sf_dir):
    """Vector clustering (the IVF build step, operators.similarity
    .ivf_assign) under the hash gate: every embedding assigned to its
    nearest-by-cosine centroid (the 64 smallest-id vectors, the
    sample_centroids seed rule), pinned against a DuckDB argmax oracle
    (row_number over sim DESC, centroid ASC — the same
    ties-toward-smallest-cid rule as the in-plan array_max). The Spark
    side is the map-only literal-centroid-array formulation — no
    crossJoin, no shuffle before the final count — while the oracle IS
    the naive n×C cross join; agreement pins both the cosine math
    (sequential IEEE folds on both engines) and the argmax tie rule.
    Cell population stats are what an IVF build monitors for balance."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = similarity.sample_centroids(emb, 64)
    assigned = similarity.ivf_assign(emb, centroids)
    return assigned.groupBy("cell").agg(
        F.count("*").alias("n_vectors"),
        F.min("vec_id").alias("min_vec"),
        F.max("vec_id").alias("max_vec"),
    )


@register(
    "semdedup_embeddings",
    """
    WITH c AS (
      SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS centroid_id,
             CAST(embedding AS DOUBLE[]) AS cv
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id ASC LIMIT 64)
    ), v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), scored AS (
      SELECT e.vec_id, c.centroid_id,
             list_dot_product(e.v, c.cv)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(c.cv, c.cv))) AS sim
      FROM v e CROSS JOIN c
    ), best AS (
      SELECT vec_id, centroid_id AS cell FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC
               ) AS rn
        FROM scored) WHERE rn = 1
    ), pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib, a.cell AS cell,
             list_dot_product(va.v, vb.v)
               / (sqrt(list_dot_product(va.v, va.v))
                  * sqrt(list_dot_product(vb.v, vb.v))) AS cosine
      FROM best a JOIN best b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN v va ON va.vec_id = a.vec_id
      JOIN v vb ON vb.vec_id = b.vec_id
    )
    SELECT ib AS vec_id, cell,
           COUNT(*) AS n_witnesses,
           MAX(cosine) AS max_cosine,
           MIN(ia) AS min_witness
    FROM pairs WHERE cosine >= CAST(0.4 AS DOUBLE)
    GROUP BY ib, cell
    """,
)
def semdedup_embeddings(spark, sf_dir):
    """SemDeDup (operators.similarity.semantic_dedup_drops) under the
    hash gate: cluster embeddings around the 64 smallest-id seed vectors
    (the sample_centroids rule, assignment already pinned by
    ivf_assign_cells), then within each cluster drop every vector with a
    cosine-≥-0.4 smaller-id neighbor. The oracle IS the naive
    cross-join+argmax assignment plus the full within-cell pair join; the
    Spark side is the map-only literal argmax plus the cell-equi-keyed
    pair join (never all-pairs) — agreement pins assignment, blocked-join
    completeness, the keep-earliest drop rule, and the witness stats
    (count / IEEE float max / id min, all order-independent; the cosine
    expression tree — one dot, two sqrt-norms multiplied, one divide —
    is the same sequential fold on both engines). τ = 0.4 is data-tuned
    so the synthetic corpus yields real drops at every shipped SF."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = similarity.sample_centroids(emb, 64)
    return similarity.semantic_dedup_drops(emb, centroids, threshold=0.4)


@register(
    "quantized_embedding_stats",
    """
    WITH q AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> abs(x))) AS amax
      FROM embeddings
    ), c AS (
      SELECT vec_id, v, amax,
        CASE WHEN amax > 0 THEN
          list_transform(v, x -> CAST(greatest(-127, least(127,
            floor(x * 127 / amax))) AS BIGINT))
        ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS codes,
        CASE WHEN amax > 0 THEN amax / 127 ELSE 0.0 END AS scale
      FROM q
    )
    SELECT vec_id,
      CAST(list_sum(codes) AS BIGINT) AS sum_codes,
      CAST(list_min(codes) AS INTEGER) AS min_code,
      CAST(list_max(codes) AS INTEGER) AS max_code,
      scale,
      list_max(list_transform(generate_series(1, len(v)),
          i -> abs(codes[i] * scale - v[i]))) <= 2.0 * scale AS err_ok
    FROM c
    """,
)
def quantized_embedding_stats(spark, sf_dir):
    """Embedding int8 quantization (operators.similarity
    .quantize_embeddings) under the hash gate: per-vector code checksum,
    code range, exact scale, and the dequantization error bound
    ``max|code·scale − x| ≤ 2·scale`` as a boolean — floor-based
    semantics make every step the same IEEE op on both engines, so the
    hash match proves the bound, not just that the query ran."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = similarity.quantize_embeddings(emb)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    errs = F.zip_with(
        F.col("codes"),
        v,
        lambda c, x: F.abs(c.cast("double") * F.col("scale") - x),
    )
    return q.select(
        "vec_id",
        F.aggregate(
            F.col("codes"), F.lit(0).cast("long"), lambda a, c: a + c
        ).alias("sum_codes"),
        F.array_min("codes").cast("int").alias("min_code"),
        F.array_max("codes").cast("int").alias("max_code"),
        "scale",
        (F.array_max(errs) <= F.lit(2.0) * F.col("scale")).alias("err_ok"),
    )


@register(
    "kmeans_update_quantized",
    """
    WITH c AS (
      SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS centroid_id,
             CAST(embedding AS DOUBLE[]) AS cv
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id ASC LIMIT 64)
    ), scored AS (
      SELECT e.vec_id, c.centroid_id,
             list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(c.cv, c.cv))) AS sim
      FROM embeddings e CROSS JOIN c
    ), best AS (
      SELECT vec_id, centroid_id,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC
             ) AS rn
      FROM scored
    ), qv AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> abs(x))) AS amax
      FROM embeddings
    ), codes AS (
      SELECT vec_id,
        CASE WHEN amax > 0 THEN
          list_transform(v, x -> CAST(greatest(-127, least(127,
            floor(x * 127 / amax))) AS BIGINT))
        ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS codes
      FROM qv
    ), x AS (
      SELECT b.centroid_id AS cell, CAST(t.i - 1 AS INTEGER) AS dim,
             codes.codes[t.i] AS code
      FROM codes JOIN best b USING (vec_id),
           unnest(generate_series(1, len(codes.codes))) AS t(i)
      WHERE b.rn = 1
    )
    SELECT cell, dim, COUNT(*) AS n_members,
           CAST(SUM(code) AS BIGINT) AS sum_val,
           CAST(SUM(code) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_val
    FROM x GROUP BY cell, dim
    """,
)
def kmeans_update_quantized(spark, sf_dir):
    """The k-means Lloyd UPDATE step (operators.similarity.cell_means —
    the aggregation inside kmeans_update) under the hash gate, over int8
    quantized codes: nearest-centroid assignment (map-side literal
    argmax) feeds a (cell, dim)-keyed mean whose sums are exact integers
    and whose mean is one int→double division — so the cross-engine hash
    pins the full assign→aggregate round trip of a clustering iteration.
    The production float-vector update (similarity.kmeans_update) shares
    every stage except the final double sums and is unit-tested."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = similarity.sample_centroids(emb, 64)
    assigned = similarity.ivf_assign(emb, centroids)
    q = similarity.quantize_embeddings(assigned)
    return similarity.cell_means(q, cell_col="cell", arr_col="codes").select(
        "cell", "dim", "n_members", "sum_val", "mean_val"
    )


def _jl_row_sql(j: int) -> str:
    """DuckDB twin of similarity.projection_matrix row ``j`` (out_dim=4 →
    scale exactly 0.5): ±0.5 signs from the low bit of the shared
    15-hex-md5 fold, dotted with the vector. ``len(embedding)`` keeps the
    oracle correct if the driver regenerates embeddings at another dim."""
    h = _H64_SQL.format(x=f"'proj:{j}:' || CAST(i AS VARCHAR)")
    return (
        "list_dot_product(CAST(embedding AS DOUBLE[]), "
        "list_transform(range(0, len(embedding)), "
        f"i -> CASE WHEN ({h}) & 1 = 1 THEN 0.5 ELSE -0.5 END))"
    )


@register(
    "jl_projection_embeddings",
    f"""
    SELECT vec_id,
           {_jl_row_sql(0)} AS proj_0,
           {_jl_row_sql(1)} AS proj_1,
           {_jl_row_sql(2)} AS proj_2,
           {_jl_row_sql(3)} AS proj_3
    FROM embeddings
    """,
)
def jl_projection_embeddings(spark, sf_dir):
    """Johnson–Lindenstrauss random projection (operators.similarity
    .project_embeddings) under the hash gate: every vector projected to 4
    coordinates through the md5-derived ±1/√4 sign matrix, reproduced
    coordinate-for-coordinate by a DuckDB oracle that re-derives the
    matrix from the same hash domain and uses the dot-product fold whose
    bit-parity the cosine entries already prove. out_dim=4 makes the
    scale exactly 0.5 (no 1/sqrt rounding concern on either engine)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.project_embeddings(emb, out_dim=4).select(
        "vec_id", "proj_0", "proj_1", "proj_2", "proj_3"
    )


@register(
    "embedding_near_dup",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))
             AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))
          >= 0.4
    """,
)
def embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, blocked by label. Threshold 0.4 is
    calibrated to this synthetic corpus (max same-label cosine ≈ 0.475 at
    sf0.01) so the checked result is non-empty — a 0-row hash match proves
    nothing."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(emb, threshold=0.4, block_col="label")


@register(
    "minhash_drop_set_docs",
    """
    WITH docs AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS s
      FROM documents WHERE doc_id < 300
    )
    SELECT DISTINCT b.doc_id AS doc_id
    FROM docs a JOIN docs b ON a.doc_id < b.doc_id
    WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
      AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / len(list_distinct(list_concat(a.s, b.s))) >= 0.9
    """,
)
def minhash_drop_set_docs(spark, sf_dir):
    """The SCALE-path near-dedup operator under the hash gate: the drop
    set (ids with a verified J ≥ 0.9 match at a smaller id) computed
    WITHOUT materializing candidate pairs — one walk per LSH bucket
    checking each doc against the bucket's earlier docs — must equal the
    all-pairs SQL oracle's distinct id_b set exactly (recall bound
    1−2e-8 at 16 bands, see minhash_dedup_verified)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "text")
    )
    drops = dedup.minhash_drop_set(
        docs, num_hashes=64, bands=16, k=1, threshold=0.9
    )
    # The operator returns a PERSISTED frame whose cache contract says
    # callers unpersist when done — but the harness only collects the
    # returned frame. Materialize the (≤300-id, bounded by the doc_id
    # filter) result locally and release the cache here, so repeated
    # harness runs never silently serve a leaked cache entry (the r3
    # steady-state artifact CLAUDE.md documents).
    rows = [(int(r["doc_id"]),) for r in drops.collect()]
    drops.unpersist()
    return spark.createDataFrame(rows, "doc_id long")


@register(
    "benchmark_decontamination",
    """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    dg AS (
      SELECT doc_id,
             list_distinct(
               list_transform(range(1, greatest(len(w) - 8 + 1, 0) + 1),
                              i -> array_to_string(w[i:i+7], ' '))) AS grams
      FROM d
    ),
    bg AS (
      SELECT DISTINCT unnest(grams) AS g FROM dg WHERE doc_id < 10
    )
    SELECT dg.doc_id AS doc_id, COUNT(DISTINCT t.g) AS n_hits
    FROM dg, unnest(dg.grams) AS t(g)
    WHERE t.g IN (SELECT g FROM bg)
    GROUP BY dg.doc_id
    HAVING COUNT(DISTINCT t.g) >= 1
    """,
)
def benchmark_decontamination(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appx C / PaLM §7 8-gram overlap)
    under the hash gate: docs sharing ≥ 1 distinct word 8-gram with the
    'benchmark' (here: the first 10 documents, standing in for an eval
    set) and their distinct-hit counts, vs a string-domain all-grams SQL
    oracle. The operator explodes distinct gram HASHES and semi-joins the
    broadcast benchmark side — corpus stays map-only; equality with the
    string oracle also witnesses hash-collision-freeness on this corpus."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") < 10)
    return dedup.contamination_flags(docs, bench, k=8, min_hits=1)


@register(
    "hash_split_counts",
    """
    WITH h AS (
      SELECT doc_id,
        CAST(list_sum(list_transform(range(1, 16),
          p -> CAST(strpos('0123456789abcdef',
                 substr(md5('split:' || CAST(doc_id AS VARCHAR)), p, 1)) - 1
                 AS BIGINT) << (4 * (15 - p))
        )) AS BIGINT) % 1000000 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 900000 THEN 'train' ELSE 'test' END AS split,
           COUNT(*) AS n
    FROM h GROUP BY 1
    """,
)
def hash_split_counts(spark, sf_dir):
    """Deterministic train/test split under the hash gate: the md5-bucket
    assignment (operators.sampling.hash_split — map-only, stable across
    runs/partitionings/engines, the leakage-safe corpus-refresh property)
    reproduced bucket-for-bucket by a DuckDB oracle via the portable
    15-hex-digit md5 hash. Output is per-split counts."""
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.hash_split(docs, "doc_id", {"train": 0.9, "test": 0.1})
    return out.groupBy("split").agg(F.count("*").alias("n"))


@register(
    "mixture_sample_counts",
    """
    WITH h AS (
      SELECT doc_id, source,
        {h64} % 1000000 AS bucket
      FROM documents
    )
    SELECT source, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM h
    WHERE bucket < CASE source
      WHEN 'src0' THEN 1000000 WHEN 'src1' THEN 500000
      WHEN 'src2' THEN 250000 WHEN 'src3' THEN 100000
      ELSE 50000 END
    GROUP BY source
    """.format(
        h64=_H64_SQL.format(
            x="'mix:' || source || '|' || CAST(doc_id AS VARCHAR)"
        )
    ),
)
def mixture_sample_counts(spark, sf_dir):
    """Training-data MIXTURE sampling under the hash gate: per-source
    deterministic keep rates (operators.sampling.stratified_sample — the
    Pile/Dolma-style "source weights" op: upweight wiki, downsample web)
    reproduced row-for-row by a DuckDB oracle over the portable md5
    bucket domain. ``id_sum`` pins the exact kept SET per source, not
    just its size. Map-only on Spark's side: one hash + one comparison
    per row, no shuffle before the audit rollup."""
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.stratified_sample(
        docs,
        "source",
        {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1},
        "doc_id",
        default_fraction=0.05,
        label="mix",
    )
    return out.groupBy("source").agg(
        F.count("*").alias("n_kept"), F.sum("doc_id").alias("id_sum")
    )


@register(
    "stratified_take_docs",
    """
    WITH h AS (
      SELECT doc_id, lang,
        {h64} AS hv
      FROM documents
    )
    SELECT doc_id, lang, CAST(rank AS INTEGER) AS sample_rank FROM (
      SELECT doc_id, lang, row_number() OVER (
        PARTITION BY lang ORDER BY hv ASC, doc_id ASC) AS rank
      FROM h
    ) WHERE rank <= 20
    """.format(
        h64=_H64_SQL.format(
            x="'take_n:' || lang || '|' || CAST(doc_id AS VARCHAR)"
        )
    ),
)
def stratified_take_docs(spark, sf_dir):
    """Exact-count stratified sampling under the hash gate
    (operators.sampling.stratified_take_n): exactly min(20, |stratum|)
    documents per language, chosen by portable md5 rank with doc_id
    tie-break, reproduced row-for-row (ids AND ranks) by the DuckDB
    row_number oracle. The Spark side plans a WindowGroupLimit pair —
    map tasks keep a local top-20 per language before the exchange, so
    the shuffle is O(tasks · strata · n), not the corpus (plan-pinned in
    tests/test_plans.py); the oracle is the naive full window."""
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.stratified_take_n(docs, "lang", 20, "doc_id")
    return out.select("doc_id", "lang", "sample_rank")


@register(
    "epoch_shuffle_prefix_docs",
    """
    WITH h AS (
      SELECT doc_id,
        {h64} AS shuffle_key
      FROM documents
    )
    SELECT doc_id, shuffle_key,
           CAST(row_number() OVER (ORDER BY shuffle_key ASC, doc_id ASC)
                AS INTEGER) AS epoch_rank
    FROM h ORDER BY shuffle_key ASC, doc_id ASC LIMIT 30
    """.format(
        h64=_H64_SQL.format(x="'epoch3:' || CAST(doc_id AS VARCHAR)")
    ),
)
def epoch_shuffle_prefix_docs(spark, sf_dir):
    """Deterministic epoch shuffle (operators.sampling.epoch_shuffle):
    the first 30 documents of epoch 3's reproducible corpus permutation,
    with their md5 sort keys and positions, pinned against the DuckDB
    window oracle — the permutation PREFIX (ids, keys, AND ranks) must
    match exactly, which an order-insensitive value hash can only see if
    the rank is a column. The operator itself is a RangePartitioned
    global sort (no global row_number — that is a one-partition window);
    the rank here is computed on the bounded 30-row prefix only, after a
    TakeOrderedAndProject limit."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    s = sampling.epoch_shuffle(docs, "doc_id", 3, with_key=True).limit(30)
    w = Window.orderBy(F.col("shuffle_key").asc(), F.col("doc_id").asc())
    return s.withColumn(
        "epoch_rank", F.row_number().over(w).cast("int")
    ).select("doc_id", "shuffle_key", "epoch_rank")


@register(
    "pq_codes_embeddings",
    """
    WITH cb AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code,
             CAST(embedding AS DOUBLE[]) AS cv
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
    ), js AS (
      SELECT unnest(range(0, 4)) AS j
    ), sub AS (
      SELECT code, j, list_slice(cv, j*16 + 1, (j+1)*16) AS c FROM cb, js
    ), v AS (
      SELECT vec_id,  j,
             list_slice(CAST(embedding AS DOUBLE[]), j*16 + 1, (j+1)*16) AS x
      FROM embeddings, js
    ), d AS (
      SELECT vec_id, j, code,
        list_dot_product(x, x)
          - CAST(2.0 AS DOUBLE) * list_dot_product(x, c)
          + list_dot_product(c, c) AS d2
      FROM v JOIN sub USING (j)
    ), best AS (
      SELECT vec_id, j, code, d2 FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id, j ORDER BY d2 ASC, code ASC) AS rn
        FROM d) WHERE rn = 1
    )
    SELECT vec_id,
      MAX(CASE WHEN j = 0 THEN code END) AS code_0,
      MAX(CASE WHEN j = 1 THEN code END) AS code_1,
      MAX(CASE WHEN j = 2 THEN code END) AS code_2,
      MAX(CASE WHEN j = 3 THEN code END) AS code_3,
      MAX(CASE WHEN j = 0 THEN d2 END) + MAX(CASE WHEN j = 1 THEN d2 END)
        + MAX(CASE WHEN j = 2 THEN d2 END) + MAX(CASE WHEN j = 3 THEN d2 END)
        AS recon_sqerr
    FROM best GROUP BY vec_id
    """,
)
def pq_codes_embeddings(spark, sf_dir):
    """Product quantization (similarity.pq_encode, Jégou et al. 2011;
    m=4 subspaces × 16 codes over the 64-d embeddings) under the hash
    gate. The oracle re-derives the codebook from the same smallest-16-id
    seed rule, scores every (vector, subspace, code) with the IDENTICAL
    expanded IEEE tree ``x·x − 2.0·x·c + c·c``, and argmins with the same
    (distance, code) tie rule — so the hash match pins subvector
    slicing, the distance algebra, the assignment, AND the summed
    reconstruction error bit-for-bit. Spark side is map-only codegen:
    one literal struct array per subspace, no join, no shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_codebooks(emb, m=4, n_codes=16)
    out = similarity.pq_encode(emb, books)
    return out.select(
        "vec_id", "code_0", "code_1", "code_2", "code_3", "recon_sqerr"
    )


@register(
    "pq_adc_topk_embeddings",
    """
    WITH cb AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code,
             CAST(embedding AS DOUBLE[]) AS cv
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
    ), js AS (
      SELECT unnest(range(0, 4)) AS j
    ), sub AS (
      SELECT code, j, list_slice(cv, j*16 + 1, (j+1)*16) AS c FROM cb, js
    ), v AS (
      SELECT vec_id, j,
             list_slice(CAST(embedding AS DOUBLE[]), j*16 + 1, (j+1)*16) AS x
      FROM embeddings, js
    ), d AS (
      SELECT vec_id, j, code,
        list_dot_product(x, x)
          - CAST(2.0 AS DOUBLE) * list_dot_product(x, c)
          + list_dot_product(c, c) AS d2
      FROM v JOIN sub USING (j)
    ), best AS (
      SELECT vec_id, j, code FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id, j ORDER BY d2 ASC, code ASC) AS rn
        FROM d) WHERE rn = 1
    ), codes AS (
      SELECT vec_id,
        MAX(CASE WHEN j = 0 THEN code END) AS code_0,
        MAX(CASE WHEN j = 1 THEN code END) AS code_1,
        MAX(CASE WHEN j = 2 THEN code END) AS code_2,
        MAX(CASE WHEN j = 3 THEN code END) AS code_3
      FROM best GROUP BY vec_id
    ), qd AS (
      SELECT vec_id AS qid, j, code, d2 FROM d WHERE vec_id < 3
    ), scored AS (
      SELECT q0.qid AS query_id, c.vec_id AS neighbor_id,
             q0.d2 + q1.d2 + q2.d2 + q3.d2 AS adc_dist
      FROM codes c
      JOIN qd q0 ON q0.j = 0 AND q0.code = c.code_0
      JOIN qd q1 ON q1.j = 1 AND q1.code = c.code_1 AND q1.qid = q0.qid
      JOIN qd q2 ON q2.j = 2 AND q2.code = c.code_2 AND q2.qid = q0.qid
      JOIN qd q3 ON q3.j = 3 AND q3.code = c.code_3 AND q3.qid = q0.qid
      WHERE c.vec_id <> q0.qid
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
)
def pq_adc_topk_embeddings(spark, sf_dir):
    """PQ asymmetric-distance top-k (similarity.pq_adc_topk): the scan
    side reads ONLY the m=4 int codes — each query's per-subspace
    distance tables are driver-built (same sequential IEEE folds as the
    oracle's list_dot_product) and folded in as one literal, so a
    candidate costs 4 array lookups + 3 adds. The oracle re-derives
    codebook, codes, and tables in SQL and ranks with the identical
    (distance, neighbor) order — hash match pins the entire
    encode→table→lookup→rank pipeline. Two-stage top-k keeps scan
    parallelism off the #queries cliff."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_codebooks(emb, m=4, n_codes=16)
    encoded = similarity.pq_encode(emb, books)
    q = emb.filter(F.col("vec_id") < 3)
    out = similarity.pq_adc_topk(encoded, q, books, k=5)
    return out.select("query_id", "neighbor_id", "adc_dist", "rank")


_SRP_COSINE = """list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"""


@register(
    "srp_near_dup_planted",
    f"""
    WITH mx AS (SELECT MAX(vec_id) + 1 AS off FROM embeddings),
    plants AS (
      SELECT e.vec_id + mx.off AS vec_id,
             list_transform(e.embedding, x -> CAST(2.0 * x AS FLOAT)) AS embedding
      FROM embeddings e, mx WHERE e.vec_id % 20 = 0
    ),
    u AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL SELECT vec_id, embedding FROM plants
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_SRP_COSINE} AS cosine
    FROM u a JOIN u b ON a.vec_id < b.vec_id
    WHERE {_SRP_COSINE} >= 0.999
    """,
)
def srp_near_dup_planted(spark, sf_dir):
    """SRP-LSH banded near-dup DISCOVERY vs an all-pairs SQL oracle.

    Planted duplicates (exact ×2.0 float32 scalings of every 20th vector
    — cosine is scale-invariant, so each plant scores exactly 1.0 and its
    SRP sign bits are bit-identical) are structurally recalled: identical
    bits collide in every band. And at threshold 0.999 ANY qualifying
    pair has per-bit match p = 1 − arccos(0.999)/π ≥ 0.986, so 8 bands of
    8 bits miss it with p ≤ (1 − 0.986⁸)⁸ ≈ 2e-8 — the same
    provable-equality argument that lets minhash_dedup_verified
    hash-match an all-pairs oracle. This puts the banded embedding
    discovery tier in the driver gate; the O(block²)
    ``embedding_near_dup`` entry remains the exact verify tier."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    off = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    plants = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + F.lit(off)).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(2.0)).cast("float")
        ).alias("embedding"),
    )
    planted = emb.unionByName(plants)
    return similarity.srp_near_dup_pairs(planted, threshold=0.999)


_COSINE_RANKS_ORACLE = """
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 3
    ), scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[]))))
               AS cosine
      FROM embeddings e, q
      WHERE e.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rank
      FROM scored
    ) WHERE rank <= 5
"""


@register("cosine_topk_pandas_udf", _COSINE_RANKS_ORACLE)
def cosine_topk_pandas_udf(spark, sf_dir):
    """Arrow-batched NumPy top-k — the high-dimensionality scale path.
    The cosine values carry BLAS final-ulp rounding, so the checked output
    is the rank list (query_id, neighbor_id, rank) only — exactly equal to
    the exact-arithmetic oracle's ranks; the values are pinned separately
    by unit tests against cosine_topk_bruteforce."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return similarity.cosine_topk_pandas(emb, queries, k=5).select(
        "query_id", "neighbor_id", "rank"
    )


#: All-pairs SimHash near-pair oracle (pigeonhole-exact; see
#: simhash_near_pairs_docs) — shared with the cluster-labels oracle,
#: where it supplies the edge set.
_SIMHASH_PAIRS_SQL = """
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents WHERE doc_id < 300
    ), th AS (
      -- portable 60-bit token hash: first 15 hex digits of md5, summed
      -- in integer domain (bit shifts, never double powers: 16^14 > 2^53)
      SELECT doc_id,
        CAST(list_sum(list_transform(range(1, 16),
          p -> CAST(strpos('0123456789abcdef', substr(md5(tok), p, 1)) - 1
                 AS BIGINT) << (4 * (15 - p))
        )) AS BIGINT) AS h
      FROM toks
    ), bits AS (
      SELECT doc_id, j,
             SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM th, generate_series(0, 62) t(j)
      GROUP BY doc_id, j
    ), fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END)
               AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@register("simhash_near_pairs", _SIMHASH_PAIRS_SQL)
def simhash_near_pairs_docs(spark, sf_dir):
    """SimHash(64) near-pairs via 16-bit pigeonhole segments + exact
    hamming filter; semantics also pinned by tests/test_operators.py
    against an independent pure-Python implementation.

    The segmented path hash-matches an all-pairs SQL oracle because the
    pigeonhole bound is exact, not probabilistic: a pair within hamming 3
    of a 64-bit fingerprint split into 4 segments MUST share one segment
    verbatim, so the candidate set is a strict superset of the answer and
    the exact hamming filter removes every false positive."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return dedup.simhash_near_pairs(docs, max_hamming=3)


@register(
    "dedup_cluster_labels",
    f"""
    WITH RECURSIVE pairs AS (
      SELECT * FROM ({_SIMHASH_PAIRS_SQL}) q
    ), sym AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents WHERE doc_id < 300
      UNION
      SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.node
    )
    SELECT node AS doc_id, MIN(label) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_cluster_labels(spark, sf_dir):
    """Near-dup pairs → CLUSTERS: connected components over the SimHash
    near-pair graph (operators.graph.connected_components — hash-min
    label propagation + pointer jumping, O(log diameter) joined rounds),
    labeling every doc with the minimum doc_id reachable from it.
    Singletons (docs with no near-dup) label themselves via the node
    universe. The oracle is DuckDB's recursive CTE computing the same
    min-reachable-label fixpoint over the identical (pigeonhole-exact)
    edge set — the ITERATIVE Spark algorithm is checked against a
    declarative transitive closure, which pins convergence, not just a
    single round."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pairs = dedup.simhash_near_pairs(docs, max_hamming=3)
    return graph.connected_components(
        pairs, nodes=docs.select("doc_id"), node_col="doc_id"
    ).select(F.col("node").alias("doc_id"), "cluster_id")


_PAGERANK_STEP = """
  SELECT n.node,
         CAST(150000000 + COALESCE(m.s, 0) AS BIGINT) AS rank
  FROM n LEFT JOIN (
    SELECT e.dst AS node,
           CAST(SUM((85 * r.rank) // (100 * d.outdeg)) AS BIGINT) AS s
    FROM e JOIN {prev} r ON e.src = r.node JOIN deg d ON e.src = d.src
    GROUP BY e.dst) m ON n.node = m.node
"""


@register(
    "pagerank_trade_network",
    f"""
    WITH ed AS (
      SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), e AS (
      SELECT a AS src, b AS dst FROM ed
      UNION ALL
      SELECT b AS src, a AS dst FROM ed
    ), deg AS (
      SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src
    ), n AS (
      SELECT src AS node FROM deg
    ), r0 AS (
      SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM n
    ), r1 AS ({_PAGERANK_STEP.format(prev="r0")}
    ), r2 AS ({_PAGERANK_STEP.format(prev="r1")}
    ), r3 AS ({_PAGERANK_STEP.format(prev="r2")}
    )
    SELECT node, rank FROM r3
    """,
)
def pagerank_trade_network(spark, sf_dir):
    """PageRank (operators.graph.pagerank) under the hash gate, on the
    customer↔supplier trade graph (distinct order lines; customers at
    2k, suppliers at 2k+1 keep the id spaces disjoint arithmetically —
    no max()-dependent offsets). Three power iterations in EXACT int64
    fixed-point (scale 1e9, damping 85/100): integer sums are
    order-independent and `div`/`//` agree on non-negatives, so the
    DuckDB oracle unrolls the identical recurrence and every rank
    matches bit-for-bit — float PageRank could never cross this gate.
    The corpus-pipeline use is source/domain quality weighting
    (CommonCrawl-style rank features). Spark-side each round joins the
    pre-partitioned checkpointed edge set once and shuffles only the
    rank frame; plan contract shared with connected_components."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("id_a"),
            (F.col("l_suppkey") * 2 + 1).alias("id_b"),
        )
        .distinct()
    )
    return graph.pagerank(pairs, n_iter=3, damping_pct=85, scale=10**9)


@register(
    "triangle_census_cosuppliers",
    f"""
    WITH pres AS (
      SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
    ), alledges AS (
      SELECT DISTINCT a.s AS u, b.s AS v
      FROM pres a JOIN pres b ON a.o = b.o AND a.s < b.s
    ), edges AS (
      SELECT u, v FROM alledges
      WHERE {_H64_SQL.format(x="'tri:' || CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)")} % 10 = 0
    ), deg AS (
      SELECT n, COUNT(*) AS d
      FROM (SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges)
      GROUP BY n
    ), tri AS (
      SELECT COUNT(*) AS t
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v
    ), wdg AS (
      SELECT COALESCE(CAST(SUM(d * (d - 1) // 2) AS BIGINT), 0) AS w FROM deg
    )
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM edges) AS n_edges,
           (SELECT w FROM wdg) AS n_wedges,
           (SELECT t FROM tri) AS n_triangles,
           CASE WHEN (SELECT w FROM wdg) > 0
                THEN CAST(3 * (SELECT t FROM tri) AS DOUBLE)
                     / CAST((SELECT w FROM wdg) AS DOUBLE)
           END AS global_clustering
    """,
)
def triangle_census_cosuppliers(spark, sf_dir):
    """Exact triangle census (operators.graph.triangle_stats) of the
    supplier co-occurrence graph (suppliers sharing an order, edges
    md5-sparsified to one-in-ten so density stays graph-shaped across
    SFs). Spark side orients edges by (degree, id) so every triangle
    materializes exactly once as a wedge at its smallest vertex — the
    O(m^1.5)-bounded MapReduce shape; the oracle counts the same
    triangles with the naive canonical 3-way join. Counts are exact
    int64; the clustering coefficient is one double division of
    sub-2^53 integers, bit-identical cross-engine. Corpus-pipeline use:
    community density / mutual-affinity features on co-occurrence
    graphs (domains co-linked, entities co-mentioned)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.s") < F.col("b.s")))
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .distinct()
    )
    key = F.concat(
        F.lit("tri:"),
        F.col("u").cast("string"),
        F.lit(":"),
        F.col("v").cast("string"),
    )
    edges = pairs.filter(dedup._h64(key) % 10 == 0)
    return graph.triangle_stats(edges, "u", "v")


@register(
    "multimodal_ppm_features",
    """
    WITH ids AS (
      SELECT doc_id FROM documents WHERE doc_id < 200
    ), px AS (
      -- pixel byte i of the planted 4x3 PPM = byte (i % 16) of
      -- md5(doc_id as string); hex pair -> byte via strpos (the repo's
      -- portable md5-byte recipe, integer domain throughout)
      SELECT doc_id, i,
             (strpos('0123456789abcdef',
                substr(md5(CAST(doc_id AS VARCHAR)), 2*(i % 16) + 1, 1)) - 1)*16
           + (strpos('0123456789abcdef',
                substr(md5(CAST(doc_id AS VARCHAR)), 2*(i % 16) + 2, 1)) - 1) AS v
      FROM ids, generate_series(0, 35) t(i)
    )
    SELECT doc_id,
           CAST(4 AS INTEGER) AS width,
           CAST(3 AS INTEGER) AS height,
           CAST(12 AS BIGINT) AS n_pixels,
           CAST(SUM(CASE WHEN i % 3 = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
           CAST(SUM(CASE WHEN i % 3 = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
           CAST(SUM(CASE WHEN i % 3 = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
           CAST(SUM(CASE WHEN i % 3 = 0 THEN v ELSE 0 END) AS DOUBLE)
             / CAST(12 AS DOUBLE) AS mean_r,
           CAST(SUM(CASE WHEN i % 3 = 1 THEN v ELSE 0 END) AS DOUBLE)
             / CAST(12 AS DOUBLE) AS mean_g,
           CAST(SUM(CASE WHEN i % 3 = 2 THEN v ELSE 0 END) AS DOUBLE)
             / CAST(12 AS DOUBLE) AS mean_b
    FROM px GROUP BY doc_id
    """,
)
def multimodal_ppm_features(spark, sf_dir):
    """The multimodal decode path END TO END, oracle-gated (closes the
    one VERDICT_r5 gap where no gate entry crossed the payload→pixels→
    features boundary): deterministically planted binary PPM (P6) images
    — pixel bytes are the md5 digest of the doc id repeated across the
    4×3 raster — are ENCODED to real PPM payloads, DECODED by the
    pure-Python netpbm parser (operators.multimodal.decode_ppm), and
    featurized into per-channel sums/means. The oracle rebuilds the same
    pixels arithmetically from md5 hex, so a hash match proves the
    encode→decode round trip byte-for-byte: any header mis-parse or
    raster offset shifts a channel sum. Sums are exact ints; each mean
    is one IEEE division (cross-engine-exact recipe). Map-only plan —
    payloads never cross a shuffle."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = multimodal.plant_ppm_media(docs, "doc_id")
    return multimodal.image_stats(media).select(
        F.col("media_id").alias("doc_id"),
        "width",
        "height",
        "n_pixels",
        "sum_r",
        "sum_g",
        "sum_b",
        "mean_r",
        "mean_g",
        "mean_b",
    )


#: Shared IVFADC oracle CTE chain (assignment → residuals → residual-
#: seeded codebooks → per-subspace argmin codes) — used verbatim by both
#: the encode gate and the search gate so the two pins share one
#: derivation of the quantizer.
_IVFPQ_BASE_SQL = """c AS (
      SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS centroid_id,
             CAST(embedding AS DOUBLE[]) AS cv
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id ASC LIMIT 8)
    ), scored AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
             c.centroid_id, c.cv,
             list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(c.cv, c.cv))) AS sim
      FROM embeddings e CROSS JOIN c
    ), res AS (
      SELECT vec_id, centroid_id AS cell,
             list_transform(range(1, 65), i -> v[i] - cv[i]) AS r
      FROM (
        SELECT vec_id, v, centroid_id, cv,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC
               ) AS rn
        FROM scored
      ) WHERE rn = 1
    ), cb AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS code,
             r AS cv
      FROM (SELECT vec_id, r FROM res ORDER BY vec_id LIMIT 16)
    ), js AS (
      SELECT unnest(range(0, 4)) AS j
    ), sub AS (
      SELECT code, j, list_slice(cv, j*16 + 1, (j+1)*16) AS cs FROM cb, js
    ), rv AS (
      SELECT vec_id, cell, j, list_slice(r, j*16 + 1, (j+1)*16) AS x
      FROM res, js
    ), d AS (
      SELECT vec_id, cell, j, code,
        list_dot_product(x, x)
          - CAST(2.0 AS DOUBLE) * list_dot_product(x, cs)
          + list_dot_product(cs, cs) AS d2
      FROM rv JOIN sub USING (j)
    ), bestc AS (
      SELECT vec_id, cell, j, code, d2 FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id, j ORDER BY d2 ASC, code ASC) AS rn
        FROM d) WHERE rn = 1
    ), enc AS (
      SELECT vec_id, MAX(cell) AS cell,
        MAX(CASE WHEN j = 0 THEN code END) AS code_0,
        MAX(CASE WHEN j = 1 THEN code END) AS code_1,
        MAX(CASE WHEN j = 2 THEN code END) AS code_2,
        MAX(CASE WHEN j = 3 THEN code END) AS code_3,
        MAX(CASE WHEN j = 0 THEN d2 END) + MAX(CASE WHEN j = 1 THEN d2 END)
          + MAX(CASE WHEN j = 2 THEN d2 END) + MAX(CASE WHEN j = 3 THEN d2 END)
          AS recon_sqerr
      FROM bestc GROUP BY vec_id
    )"""


@register(
    "ivfpq_codes_embeddings",
    f"""
    WITH {_IVFPQ_BASE_SQL}
    SELECT vec_id, cell, code_0, code_1, code_2, code_3, recon_sqerr
    FROM enc
    """,
)
def ivfpq_codes_embeddings(spark, sf_dir):
    """IVF-PQ (Jégou et al. 2011's IVFADC) under the hash gate — the one
    ANN tier that was previously only parity/stress-pinned: coarse
    cosine-argmax cell assignment (8 smallest-id centroids, the
    sample_centroids rule the ivf_assign_cells oracle already pins),
    RESIDUAL vectors (one exact double subtraction per component —
    zip_with on Spark, indexed list_transform in the oracle), residual-
    seeded codebooks (16 smallest-id residuals, the pq_codebooks rule),
    and per-subspace argmin encoding with the identical expanded IEEE
    tree and (d2, code) tie rule. The hash therefore pins the WHOLE
    IVFADC encode composition bit-for-bit: assignment, residualization,
    codebook derivation, codes, and summed residual reconstruction
    error. Spark side uses the deterministic expression twin
    (impl='expr' — the gated semantics; the Arrow fast path is
    parity-pinned against it in tests)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.sample_centroids(emb, 8)
    with_res = similarity.ivf_residuals(emb, cents)
    books = similarity.pq_codebooks(with_res, m=4, n_codes=16, vec_col="__res")
    out = similarity.ivfpq_encode(emb, cents, books, impl="expr")
    return out.select(
        "vec_id", "cell", "code_0", "code_1", "code_2", "code_3",
        "recon_sqerr",
    )


@register(
    "interval_join_click_purchase",
    """
    WITH e AS (
      SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS us
      FROM events
    )
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(p.us - c.us AS BIGINT) AS gap_us
    FROM e c JOIN e p ON c.user_id = p.user_id
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      AND p.us > c.us AND p.us <= c.us + 1800000000
    """,
)
def interval_join_click_purchase(spark, sf_dir):
    """Event-time INTERVAL JOIN (streaming.joins.interval_join, batch
    twin): every purchase by the same user strictly within 30 minutes
    after a click — the stream-stream attribution shape, run here on
    batch frames so DuckDB can oracle it; the streaming path (watermarks
    on both sides bounding join state) is pinned stream ≡ batch in
    tests/test_streaming.py. Interval arithmetic on µs timestamps is
    exact integer µs addition, so the oracle works in ``epoch_ns // 1000``
    integer space (generation-proof across the nanos/µs events flavors);
    the gap is output as integer µs, never a raw timestamp."""
    from lakeshack_spark.streaming.joins import interval_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts_utc"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts_utc"
    )
    j = interval_join(
        clicks, purchases, "user_id", "30 minutes", watermark=None
    )
    return j.select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("event_id_r").alias("purchase_id"),
        (F.unix_micros(F.col("ts_utc_r")) - F.unix_micros(F.col("ts_utc")))
        .alias("gap_us"),
    )


@register(
    "ivfpq_search_embeddings",
    f"""
    WITH {_IVFPQ_BASE_SQL}, q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 3
    ), qprobe AS (
      -- probe rule: nprobe=2 nearest cells by COSINE, tie -> smaller cid
      -- (the same metric assignment used, so probed cells are the ones
      -- assignment actually filled)
      SELECT query_id, centroid_id AS cell,
             list_transform(range(1, 65), i -> qv[i] - cv[i]) AS qres
      FROM (
        SELECT q.query_id, q.qv, c.centroid_id, c.cv,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_dot_product(q.qv, c.cv)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                 c.centroid_id ASC
               ) AS prn
        FROM q CROSS JOIN c
      ) WHERE prn <= 2
    ), qsub AS (
      SELECT query_id, cell, j,
             list_slice(qres, j*16 + 1, (j+1)*16) AS xq
      FROM qprobe, js
    ), cand AS (
      -- the cell equi-join IS the pruning: candidates outside probed
      -- cells never produce a row
      SELECT p.query_id, e.vec_id AS neighbor_id, p.cell, p.j, p.xq,
             CASE p.j WHEN 0 THEN e.code_0 WHEN 1 THEN e.code_1
                      WHEN 2 THEN e.code_2 ELSE e.code_3 END AS code
      FROM qsub p JOIN enc e ON e.cell = p.cell
      WHERE e.vec_id <> p.query_id
    ), terms AS (
      SELECT query_id, neighbor_id, cand.j AS j,
        list_dot_product(xq, xq)
          - CAST(2.0 AS DOUBLE) * list_dot_product(xq, cs)
          + list_dot_product(cs, cs) AS t
      FROM cand JOIN sub ON sub.j = cand.j AND sub.code = cand.code
    ), dist AS (
      SELECT query_id, neighbor_id,
        MAX(CASE WHEN j = 0 THEN t END) + MAX(CASE WHEN j = 1 THEN t END)
          + MAX(CASE WHEN j = 2 THEN t END) + MAX(CASE WHEN j = 3 THEN t END)
          AS adc_dist
      FROM terms GROUP BY query_id, neighbor_id
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC
      ) AS rank FROM dist
    ) WHERE rank <= 5
    """,
)
def ivfpq_search_embeddings(spark, sf_dir):
    """IVF-PQ cell-probed ADC SEARCH under the hash gate — with
    ivfpq_codes_embeddings this oracle-gates the complete IVFADC
    pipeline (encode + search). Each query probes its nprobe=2 nearest
    cells by cosine (the assignment metric; tie → smaller cid), builds
    per-(query, cell) residual distance tables, and scores ONLY
    candidates stored in probed cells — the broadcast cell equi-join IS
    the pruning. The oracle recomputes the probe ranking, the query
    residuals, every table term with the identical expanded IEEE tree,
    and the same left-associated 4-term sum and (dist, neighbor) tie
    rule, so the hash pins routing, table construction, lookup, and
    ranking together. Spark side: similarity.ivfpq_search over the
    expression-twin encoding."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.sample_centroids(emb, 8)
    with_res = similarity.ivf_residuals(emb, cents)
    books = similarity.pq_codebooks(with_res, m=4, n_codes=16, vec_col="__res")
    encoded = similarity.ivfpq_encode(emb, cents, books, impl="expr")
    queries_df = emb.filter(F.col("vec_id") < 3)
    return similarity.ivfpq_search(
        encoded, queries_df, cents, books, k=5, nprobe=2
    )


@register(
    "grouped_percentiles_orders",
    """
    WITH c AS (
      SELECT o_orderstatus,
             CAST(ROUND(o_totalprice * 1e2) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_orderstatus,
           quantile_cont(cents, 0.5) AS p50,
           quantile_cont(cents, 0.9) AS p90
    FROM c GROUP BY o_orderstatus
    """,
)
def grouped_percentiles_orders(spark, sf_dir):
    """Per-group exact percentiles through the SCALE-SAFE operator
    (order_stats.grouped_exact_percentiles — per-group sort + rank-picked
    interpolation rows, no per-group value→count aggregate buffer; the
    production twin of agg_orders_by_status's exact-``percentile`` gate
    form, which stays as the buffer-based twin). Integer-cents domain +
    Percentile's reproduced expression order make the hash cell-exact vs
    DuckDB's quantile_cont, including the non-quarter p90 fraction."""
    o = load_table(spark, sf_dir, "orders")
    c = o.select(
        "o_orderstatus",
        F.expr("CAST(ROUND(o_totalprice * 1e2) AS BIGINT)").alias("cents"),
    )
    return order_stats.grouped_exact_percentiles(
        c, "o_orderstatus", "cents", [0.5, 0.9], names=["p50", "p90"]
    )


@register(
    "multimodal_wav_features",
    """
    WITH ids AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents WHERE doc_id < 200
    ), smp AS (
      -- sample i = little-endian int16 at bytes (2i, 2i+1) of the md5
      -- digest cycled; byte j = hex pair (2*(j%16)+1, 2*(j%16)+2)
      SELECT doc_id, i,
        CASE WHEN lo + 256*hi >= 32768 THEN lo + 256*hi - 65536
             ELSE lo + 256*hi END AS s
      FROM (
        SELECT doc_id, i,
          (strpos('0123456789abcdef',
             substr(h, 2*((2*i) % 16) + 1, 1)) - 1)*16
        + (strpos('0123456789abcdef',
             substr(h, 2*((2*i) % 16) + 2, 1)) - 1) AS lo,
          (strpos('0123456789abcdef',
             substr(h, 2*((2*i + 1) % 16) + 1, 1)) - 1)*16
        + (strpos('0123456789abcdef',
             substr(h, 2*((2*i + 1) % 16) + 2, 1)) - 1) AS hi
        FROM ids, generate_series(0, 31) t(i)
      )
    )
    SELECT doc_id,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(32 AS BIGINT) AS n_samples,
           CAST(SUM(s) AS BIGINT) AS sum_amp,
           CAST(MAX(ABS(s)) AS INTEGER) AS max_abs,
           CAST(SUM(s) AS DOUBLE) / CAST(32 AS DOUBLE) AS mean_amp
    FROM smp GROUP BY doc_id
    """,
)
def multimodal_wav_features(spark, sf_dir):
    """The AUDIO twin of multimodal_ppm_features: planted PCM16 WAV
    payloads (samples are md5-derived little-endian int16s) are encoded
    into real RIFF containers, decoded by the pure-Python chunk-walking
    parser (operators.multimodal.decode_wav_pcm16), and reduced to
    amplitude statistics. The oracle rebuilds the identical samples
    arithmetically from md5 hex — a hash match proves the WAV encode→
    decode round trip sample-for-sample (any fmt/data chunk mis-parse or
    endianness slip shifts sum_amp). Integer sums exact; the mean is one
    IEEE division (cross-engine recipe). Map-only plan."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = multimodal.plant_wav_media(docs, "doc_id")
    return multimodal.audio_stats(media).select(
        F.col("media_id").alias("doc_id"),
        "sample_rate",
        "n_samples",
        "sum_amp",
        "max_abs",
        "mean_amp",
    )


@register(
    "sketch_distinct_and_quantiles",
    """
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.9) AS p90,
           quantile_cont(o_totalprice, 0.99) AS p99,
           TRUE AS distinct_ok,
           TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def sketch_distinct_and_quantiles(spark, sf_dir):
    """Sketch surface: HyperLogLog++ distinct counts and approximate
    quantiles per order status, checked by a *bounds-as-booleans* oracle
    contract — no cross-engine sketch can match cell-exact, so Spark emits
    the exact per-group scalars (``count(distinct)``, ``percentile``; both
    already cell-exact vs DuckDB in ``agg_orders_by_status``) plus
    ``abs(approx − exact) ≤ ε·exact`` booleans, and the oracle emits the
    identical exact scalars with literal TRUEs. A hash match therefore
    *proves* the sketch accuracy bounds, not just that the query ran.

    ε: HLL++ runs at its default rsd=0.05 (measured ≤0.057 across sf0.001–
    0.1) → ε=0.15; percentile_approx at accuracy 10k has rank error
    ≤ n/10k (measured value error ≤0.12%) → ε=0.01. Both sketches are
    deterministic within Spark, so the booleans are stable across runs.
    """
    o = load_table(spark, sf_dir, "orders")
    qa = F.percentile_approx("o_totalprice", [0.5, 0.9, 0.99], 10_000)
    qe = F.expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))")
    agg = o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.approx_count_distinct("o_custkey").alias("__approx_d"),
        qe.alias("__exact_q"),
        qa.alias("__approx_q"),
    )

    def q_ok(i: int, eps: float):
        e = F.element_at("__exact_q", i)
        a = F.element_at("__approx_q", i)
        return F.abs(a - e) <= F.lit(eps) * F.abs(e)

    return agg.select(
        "o_orderstatus",
        "n_customers",
        F.element_at("__exact_q", 1).alias("p50"),
        F.element_at("__exact_q", 2).alias("p90"),
        F.element_at("__exact_q", 3).alias("p99"),
        (
            F.abs(F.col("__approx_d") - F.col("n_customers"))
            <= F.lit(0.15) * F.col("n_customers")
        ).alias("distinct_ok"),
        q_ok(1, 0.01).alias("p50_ok"),
        q_ok(2, 0.01).alias("p90_ok"),
        q_ok(3, 0.01).alias("p99_ok"),
    )


#: One k-core peel round, DuckDB side (MATERIALIZED is load-bearing:
#: each round references its predecessor three times, and DuckDB 1.0
#: inlines non-materialized CTEs — the unrolled chain would re-evaluate
#: the co-supplier join 3^rounds times, measured as a hang at sf0.1).
def _kcore_rounds_sql(n_rounds: int) -> str:
    steps = []
    for n in range(1, n_rounds + 1):
        p = n - 1
        if p > 0:
            steps.append(
                f"""d{p} AS MATERIALIZED (
      SELECT src, COUNT(*) AS d FROM e{p} GROUP BY src
    )"""
            )
        steps.append(
            f"""k{n} AS MATERIALIZED (
      SELECT src FROM d{p}, kv WHERE d >= kv.k
    ), e{n} AS MATERIALIZED (
      SELECT e.src, e.dst FROM e{p} e
      JOIN k{n} a ON e.src = a.src
      JOIN k{n} b ON e.dst = b.src
    )"""
        )
    return ", ".join(steps)


@register(
    "kcore_cosuppliers",
    f"""
    WITH pres AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
    ), alledges AS MATERIALIZED (
      SELECT DISTINCT a.s AS u, b.s AS v
      FROM pres a JOIN pres b ON a.o = b.o AND a.s < b.s
    ), edges AS MATERIALIZED (
      SELECT u, v FROM alledges
      WHERE {_H64_SQL.format(x="'kc:' || CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)")} % 10 = 0
    ), e0 AS MATERIALIZED (
      SELECT u AS src, v AS dst FROM edges
      UNION ALL
      SELECT v AS src, u AS dst FROM edges
    ), d0 AS MATERIALIZED (
      SELECT src, COUNT(*) AS d FROM e0 GROUP BY src
    ), kv AS MATERIALIZED (
      SELECT CAST((SUM(d) // COUNT(*)) // 2 + 1 AS BIGINT) AS k FROM d0
    ), {_kcore_rounds_sql(4)}
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM e4 GROUP BY src
    """,
)
def kcore_cosuppliers(spark, sf_dir):
    """k-core decomposition (operators.graph.k_core) under the hash
    gate: 4 fixed peel rounds on the md5-sparsified supplier
    co-occurrence graph, with the threshold k derived FROM the data
    (half the mean degree + 1, all-integer arithmetic — a fixed k can't
    travel across scale factors because co-occurrence density grows
    with SF). The oracle unrolls the identical peel recurrence in
    MATERIALIZED CTEs, so every surviving node and its in-core degree
    matches bit-for-bit. Corpus-pipeline use: density-based backbone
    extraction on affinity graphs before community labeling. Spark-side
    per round: degree agg on src-partitioned checkpointed edges (no
    exchange) + two survivor semi-joins; k comes from one bounded
    2-scalar collect (|E|, |V|)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.s") < F.col("b.s")))
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .distinct()
    )
    key = F.concat(
        F.lit("kc:"),
        F.col("u").cast("string"),
        F.lit(":"),
        F.col("v").cast("string"),
    )
    edges = pairs.filter(dedup._h64(key) % 10 == 0).persist()
    n_edges = edges.count()
    n_nodes = (
        edges.select(F.explode(F.array("u", "v")).alias("n")).distinct().count()
    )
    k = ((2 * n_edges) // n_nodes) // 2 + 1
    out = graph.k_core(edges, k=k, id_a="u", id_b="v", rounds=4)
    return out.select("node", F.col("degree").cast("long").alias("degree"))


@register(
    "hashed_linear_quality_docs",
    f"""
    WITH t AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), b AS (
      SELECT doc_id,
             {_H64_SQL.format(x="'b:' || term")} % 256 AS bkt
      FROM t
    ), w AS (
      SELECT doc_id,
             {_H64_SQL.format(x="'hls:' || CAST(bkt AS VARCHAR)")} % 17 - 8 AS w
      FROM b
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(w) AS BIGINT) AS score,
           (SUM(w) >= 0) AS keep
    FROM w GROUP BY doc_id
    """,
)
def hashed_linear_quality_docs(spark, sf_dir):
    """Hashed-feature linear text classifier
    (operators.text.hashed_linear_score) — the fastText-style
    model-based quality-filter stage (CCNet/RefinedWeb shape) with a
    deterministic md5-derived weight vector standing in for trained
    coefficients: tokens hash into 256 buckets (the hashing trick, O(1)
    memory at any corpus size), each bucket carries an int weight in
    [-8, 8], and the doc score is the exact int64 feature dot product —
    which is what lets a float-free classifier cross the cross-engine
    hash gate. One explode + one doc-keyed aggregation, map-side
    partial combine, no joins."""
    docs = load_table(spark, sf_dir, "documents")
    return text.hashed_linear_score(
        docs, n_buckets=256, weight_span=8, seed="hls", threshold=0
    )


@register(
    "incremental_view_orders",
    """
    WITH t AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ), mx AS (SELECT MAX(o_orderkey) + 1 AS m FROM t),
    final AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 100 = 7
                  THEN o_totalprice + CAST(10.0 AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice
      FROM t WHERE o_orderkey % 100 <> 13
      UNION ALL
      SELECT o_orderkey + m AS o_orderkey, 'I' AS o_orderstatus,
             o_totalprice * CAST(0.5 AS DOUBLE) AS o_totalprice
      FROM t, mx WHERE o_orderkey % 100 = 21
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM final GROUP BY o_orderstatus
    """,
)
def incremental_view_orders(spark, sf_dir):
    """Incremental materialized-view maintenance
    (operators.diff.incremental_agg_maintain) under the hash gate: the
    orders-by-status count/sum-cents view is maintained through the
    same deterministic CDC batch as ``merge_upsert_orders`` (mod-7
    update +10, mod-13 delete, mod-21 insert re-keyed past max+1 with
    status 'I' — a group-ARRIVING change) by folding SIGNED delta
    contributions into the existing view. The oracle re-aggregates the
    fully merged table from scratch; Spark NEVER materializes the
    merged table — the hash match proves view ⊕ delta ≡ recompute,
    counts and integer-cents sums bit-exact. Scale shape: O(batch)
    delta agg + one O(batch) key join for old rows + one view-sized
    full-outer combine; the 100 TB base is never re-aggregated."""
    from lakeshack_spark.operators.diff import incremental_agg_maintain

    cents = F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents")
    t = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = t.select("*", cents)
    view = base.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.sum("cents").alias("sum_cents")
    )
    mx = t.agg((F.max("o_orderkey") + 1).alias("__mx"))
    upd = (
        t.filter(F.col("o_orderkey") % 100 == 7)
        .withColumn("o_totalprice", F.col("o_totalprice") + 10.0)
        .withColumn("is_delete", F.lit(False))
    )
    dele = t.filter(F.col("o_orderkey") % 100 == 13).withColumn(
        "is_delete", F.lit(True)
    )
    ins = (
        t.filter(F.col("o_orderkey") % 100 == 21)
        .crossJoin(F.broadcast(mx))
        .select(
            (F.col("o_orderkey") + F.col("__mx")).alias("o_orderkey"),
            F.lit("I").alias("o_orderstatus"),
            (F.col("o_totalprice") * 0.5).alias("o_totalprice"),
            F.lit(False).alias("is_delete"),
        )
    )
    changes = upd.unionByName(dele).unionByName(ins).select("*", cents)
    return incremental_agg_maintain(
        view,
        base,
        changes,
        key_cols=["o_orderkey"],
        group_cols=["o_orderstatus"],
        sum_cols={"sum_cents": "cents"},
        delete_col="is_delete",
        count_alias="n",
    )


_POSTINGS_INDEX_CACHE: dict[str, str] = {}


def _postings_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Persisted term-bucket-partitioned inverted index over the
    documents table (16 buckets), built once per process."""
    key = sf_dir.rstrip("/")
    path = _POSTINGS_INDEX_CACHE.get(key)
    if path is None:
        docs = load_table(spark, sf_dir, "documents")
        path = os.path.join(
            tempfile.mkdtemp(prefix="lakeshack_postings_index_"), "index"
        )
        retrieval.postings_index_write(docs, path, n_buckets=16)
        _POSTINGS_INDEX_CACHE[key] = path
    return path


@register(
    "inverted_index_search_docs",
    """
    WITH pairs AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(COUNT(DISTINCT term) AS INTEGER) AS n_terms_matched,
             CAST(COUNT(*) AS BIGINT) AS sum_tf
      FROM pairs WHERE term IN ('scan', 'vector', 'batch')
      GROUP BY doc_id
    )
    SELECT doc_id, n_terms_matched, sum_tf FROM m WHERE n_terms_matched = 3
    """,
)
def inverted_index_search_docs(spark, sf_dir):
    """Boolean AND search against a PERSISTED term-bucket-partitioned
    inverted index (retrieval.postings_index_write /
    postings_index_search) — the build-once/query-many text-search twin
    of the persisted IVF index: query-term buckets are computed
    driver-side with the md5 twin of the build-time Column hash, so the
    scan plans a PartitionFilters entry and reads ONLY those buckets'
    directories (≤ 3 of 16 here; plan-pinned in tests). The oracle
    recomputes postings from the raw corpus, so the hash match proves
    the persisted index round-trips term frequencies exactly AND that
    bucket pruning loses no posting."""
    path = _postings_index_path(spark, sf_dir)
    return retrieval.postings_index_search(
        spark, path, ["scan", "vector", "batch"], mode="and", n_buckets=16
    )


@register(
    "count_min_terms",
    f"""
    WITH toks AS MATERIALIZED (
      SELECT unnest(string_split(text, ' ')) AS item FROM documents
    ), rs AS (SELECT unnest(range(0, 4)) AS r),
    cells AS MATERIALIZED (
      SELECT r,
             {_H64_SQL.format(x="'cm:' || CAST(r AS VARCHAR) || ':' || item")} % 256 AS bucket,
             COUNT(*) AS c
      FROM toks, rs GROUP BY 1, 2
    ), q AS (
      SELECT unnest(['data', 'query', 'join', 'scan', 'zz-absent']) AS item
    ), probes AS (
      SELECT item, r,
             {_H64_SQL.format(x="'cm:' || CAST(r AS VARCHAR) || ':' || item")} % 256 AS bucket
      FROM q, rs
    ), est AS (
      SELECT item, CAST(MIN(COALESCE(c, 0)) AS BIGINT) AS estimate
      FROM probes LEFT JOIN cells USING (r, bucket) GROUP BY item
    ), ex AS (
      SELECT item, COUNT(*) AS n_true FROM toks
      WHERE item IN ('data', 'query', 'join', 'scan', 'zz-absent')
      GROUP BY item
    )
    SELECT q.item,
           CAST(COALESCE(ex.n_true, 0) AS BIGINT) AS exact,
           est.estimate,
           est.estimate >= COALESCE(ex.n_true, 0) AS never_undercounts
    FROM q LEFT JOIN ex USING (item) LEFT JOIN est USING (item)
    """,
)
def count_min_terms(spark, sf_dir):
    """Count-Min sketch point estimates
    (operators.frequent.count_min_estimates) over the documents' token
    stream, depth 4 × width 256 — the frequency-estimation sibling of
    the Misra–Gries detector, completing the sketch tier (MG heavy
    hitters, distinct/quantile sketches, CM point frequencies). The
    md5-derived cells make the sketch DETERMINISTIC, so the DuckDB
    oracle rebuilds the identical depth×width table and the gate pins
    every estimate bit-for-bit — including the absent item, whose
    estimate is pure collision mass — plus the sketch's deterministic
    never-undercounts inequality as a witness column. Sketch size is
    constant in the corpus; no distinct-cardinality shuffle exists in
    the plan."""
    from lakeshack_spark.operators.frequent import count_min_estimates

    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(text.words_col("text")).alias("term")
    )
    return count_min_estimates(
        toks, "term", ["data", "query", "join", "scan", "zz-absent"]
    )


@register(
    "ks_price_by_status",
    """
    WITH t AS (
      SELECT o_orderstatus AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
      FROM orders WHERE o_orderstatus IN ('O', 'F')
    ), na AS (SELECT COUNT(*) AS c FROM t WHERE g = 'O'),
    nb AS (SELECT COUNT(*) AS c FROM t WHERE g = 'F'),
    c AS (
      SELECT v,
             SUM(CASE WHEN g = 'O' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN g = 'F' THEN 1 ELSE 0 END) AS cb
      FROM t GROUP BY v
    ), cum AS (
      SELECT v,
             SUM(ca) OVER (ORDER BY v) AS cna,
             SUM(cb) OVER (ORDER BY v) AS cnb
      FROM c
    ), d AS (
      SELECT v,
             abs(CAST(cna AS DOUBLE) / CAST((SELECT c FROM na) AS DOUBLE)
               - CAST(cnb AS DOUBLE) / CAST((SELECT c FROM nb) AS DOUBLE))
               AS diff
      FROM cum
    )
    SELECT CAST((SELECT c FROM na) AS BIGINT) AS n_a,
           CAST((SELECT c FROM nb) AS BIGINT) AS n_b,
           (SELECT MAX(diff) FROM d) AS ks,
           (SELECT MIN(v) FROM d
            WHERE diff = (SELECT MAX(diff) FROM d)) AS ks_at
    """,
)
def ks_price_by_status(spark, sf_dir):
    """Exact two-sample Kolmogorov–Smirnov distance
    (operators.order_stats.two_sample_ks) between open and fulfilled
    orders' price distributions, in integer cents — the full-CDF drift
    test beside the chi-square monitor. Bit-exact cross-engine: step
    counts are int64 cumulative sums (Spark: range-partitioned sort +
    shuffle-free mapInPandas prefix pass — NEVER a single-reducer
    global window, which is what the oracle's ``SUM() OVER (ORDER BY)``
    would plan on a cluster; DuckDB runs it single-node, where it's
    fine), each CDF value is one int→double division, and the sup is a
    max over exactly-computed doubles with a smallest-value tie rule
    for ``ks_at``."""
    t = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    return order_stats.two_sample_ks(
        t, "cents", "o_orderstatus", "O", "F", n_partitions=8
    )


#: DuckDB twin of sources.synth._h: first 15 md5 hex digits of
#: 'seed:part:part...' as a BIGINT (same fold as _H64_SQL, different
#: key construction).
def _synth_h_sql(*parts: str) -> str:
    key = " || ':' || ".join(parts)
    return _H64_SQL.format(x=key)


@register(
    "synth_source_docs",
    f"""
    WITH vocab AS (
      SELECT ['scan','filter','join','merge','window','batch','vector',
              'hash','row','column','order','customer','line','small',
              'slow','data','query','index','stream','shuffle','spark']
             AS v
    ), ids AS (
      SELECT unnest(range(0, 300)) AS doc_id
    ), docs AS (
      SELECT doc_id,
             array_to_string(
               list_transform(
                 range(0, CAST(5 + {_synth_h_sql("'synth'", "CAST(doc_id AS VARCHAR)", "'len'")} % 20 AS BIGINT)),
                 i -> v[1 + CAST({_synth_h_sql("'synth'", "CAST(doc_id AS VARCHAR)", "CAST(i AS VARCHAR)")} % 21 AS INTEGER)]
               ), ' ') AS text,
             'synth-' || CAST({_synth_h_sql("'synth'", "CAST(doc_id AS VARCHAR)", "'src'")} % 5 AS VARCHAR)
               AS source
      FROM ids, vocab
    )
    SELECT doc_id, text, source, CAST(length(text) AS INTEGER) AS n_chars
    FROM docs
    """,
)
def synth_source_docs(spark, sf_dir):
    """The CUSTOM PYTHON DATA SOURCE itself under the hash gate: 300
    rows of the md5-deterministic synthetic corpus read through
    ``spark.read.format("synth_docs")`` (sources/synth.py — Spark 4
    DataSource API: schema/options/partition planning + pushFilters
    plan-time pruning), against a DuckDB oracle that REGENERATES the
    identical rows arithmetically (the same first-15-md5-hex-digit
    integer fold drives word choice, length, and source bucket). The
    hash match proves the executor-side Python generation byte-for-byte
    — row content, per-doc word sequences, and the n_chars projection —
    independent of partitioning (the source plans its own id-slice
    partitions). sf-independent by design: a generator source has no
    files to scale."""
    from lakeshack_spark.sources.synth import SynthDocsDataSource

    spark.dataSource.register(SynthDocsDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return (
        spark.read.format("synth_docs")
        .option("n_rows", "300")
        .option("rows_per_partition", "64")
        .load()
    )


def _drift_chi2_sql(n_buckets: int) -> str:
    """DuckDB twin of quality.hashed_distribution_drift: the SAME
    expression tree — per-bucket int counts, one division per share,
    and a fixed left-to-right + chain (never a data-order SUM) — so
    every IEEE step rounds identically and chi2 crosses the hash gate
    bit-for-bit. CAST(0 AS DOUBLE) in the guard: a bare 0.0 literal is
    DECIMAL in DuckDB."""
    h = _H64_SQL.format(x="'b:' || term")
    cg = ", ".join(
        f"CAST(SUM(CASE WHEN bkt = {i} THEN 1 ELSE 0 END) AS BIGINT) AS c{i}"
        for i in range(n_buckets)
    )
    ct = ", ".join(
        f"CAST(SUM(CASE WHEN bkt = {i} THEN 1 ELSE 0 END) AS BIGINT) AS t{i}"
        for i in range(n_buckets)
    )
    terms = []
    for i in range(n_buckets):
        pg = f"(CAST(c{i} AS DOUBLE) / CAST(n_tokens AS DOUBLE))"
        pc = f"(CAST(t{i} AS DOUBLE) / CAST(N AS DOUBLE))"
        terms.append(
            f"CASE WHEN t{i} > 0 THEN ({pg} - {pc}) * ({pg} - {pc}) / {pc} "
            f"ELSE CAST(0 AS DOUBLE) END"
        )
    chain = terms[0]
    for t in terms[1:]:
        chain = f"({chain} + {t})"
    return f"""
    WITH tok AS (
      SELECT source, {h} % {n_buckets} AS bkt FROM (
        SELECT source, unnest(string_split(text, ' ')) AS term
        FROM documents
      )
    ), g AS (
      SELECT source, COUNT(*) AS n_tokens, {cg}
      FROM tok GROUP BY source
    ), c AS (
      SELECT COUNT(*) AS N, {ct} FROM tok
    )
    SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
           {chain} AS chi2
    FROM g, c
    """


@register("drift_chi2_docs", _drift_chi2_sql(16))
def drift_chi2_docs(spark, sf_dir):
    """Distribution-drift monitor (quality.hashed_distribution_drift)
    under the hash gate: per-source chi-square distance between the
    source's hashed-token-bucket distribution and the whole corpus's —
    the PSI/chi² drift gate a continuously-fed pipeline runs per
    shard/day. The statistic is bit-reproducible cross-engine because
    bucket counts are exact ints, each share is one int→double
    division, and the bounded bucket list accumulates in a FIXED
    left-to-right expression chain instead of a data-order SUM (the
    repo's float-exactness recipe; libm-free). One explode, two
    bounded map-side-combined aggregations, one 1-row broadcast —
    no token-row joins."""
    from lakeshack_spark.operators.quality import hashed_distribution_drift

    docs = load_table(spark, sf_dir, "documents")
    return hashed_distribution_drift(docs, "source", n_buckets=16)


#: One k-truss peel round, DuckDB side. MATERIALIZED for the same
#: 3^rounds-inlining reason as the k-core steps; triangles enumerate
#: once in canonical x<y<z order via the 3-way join, then charge their
#: three edges.
def _ktruss_rounds_sql(n_rounds: int, k: int) -> str:
    steps = []
    for n in range(1, n_rounds + 1):
        p = n - 1
        steps.append(
            f"""t{p} AS MATERIALIZED (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e{p} e1 JOIN e{p} e2 ON e2.a = e1.b
      JOIN e{p} e3 ON e3.a = e1.a AND e3.b = e2.b
    ), s{p} AS MATERIALIZED (
      SELECT a, b, COUNT(*) AS sup FROM (
        SELECT x AS a, y AS b FROM t{p}
        UNION ALL SELECT x AS a, z AS b FROM t{p}
        UNION ALL SELECT y AS a, z AS b FROM t{p}
      ) GROUP BY a, b
    ), e{n} AS MATERIALIZED (
      SELECT e.a, e.b FROM e{p} e
      LEFT JOIN s{p} s ON e.a = s.a AND e.b = s.b
      WHERE COALESCE(s.sup, 0) >= {k - 2}
    )"""
        )
    return ", ".join(steps)


@register(
    "ktruss_cosuppliers",
    f"""
    WITH pres AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
    ), alledges AS MATERIALIZED (
      SELECT DISTINCT a.s AS u, b.s AS v
      FROM pres a JOIN pres b ON a.o = b.o AND a.s < b.s
    ), e0 AS MATERIALIZED (
      SELECT u AS a, v AS b FROM alledges
      WHERE {_H64_SQL.format(x="'kt:' || CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)")} % 10 = 0
    ), {_ktruss_rounds_sql(4, 4)},
    tf AS MATERIALIZED (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e4 e1 JOIN e4 e2 ON e2.a = e1.b
      JOIN e4 e3 ON e3.a = e1.a AND e3.b = e2.b
    ), sf_ AS MATERIALIZED (
      SELECT a, b, COUNT(*) AS sup FROM (
        SELECT x AS a, y AS b FROM tf
        UNION ALL SELECT x AS a, z AS b FROM tf
        UNION ALL SELECT y AS a, z AS b FROM tf
      ) GROUP BY a, b
    )
    SELECT e.a AS u, e.b AS v,
           CAST(COALESCE(s.sup, 0) AS BIGINT) AS support
    FROM e4 e LEFT JOIN sf_ s ON e.a = s.a AND e.b = s.b
    """,
)
def ktruss_cosuppliers(spark, sf_dir):
    """4-truss of the md5-sparsified co-supplier graph
    (operators.graph.k_truss) under the hash gate: 4 fixed edge-peel
    rounds (every edge must close ≥ 2 triangles), the stronger
    cohesion filter than k-core — at sf0.01 the peel cascades
    451 → 88 → 24 → 15 edges before stabilizing, so the gate
    exercises genuine multi-round erosion, and the output support
    column witnesses the defining invariant on the final edge set.
    The oracle unrolls the identical recurrence: canonical x<y<z
    triangle enumeration per round (3-way self-join), each triangle
    charging its three edges, MATERIALIZED per round (same 3^rounds
    CTE-inlining trap as k-core). Spark's per-round support pass uses
    the degree-ordered O(m^1.5) wedge closure, never the naive
    Σ deg² expansion."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.s") < F.col("b.s")))
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .distinct()
    )
    key = F.concat(
        F.lit("kt:"),
        F.col("u").cast("string"),
        F.lit(":"),
        F.col("v").cast("string"),
    )
    edges = pairs.filter(dedup._h64(key) % 10 == 0)
    return graph.k_truss(edges, k=4, u="u", v="v", rounds=4)


@register(
    "entity_resolution_parts",
    """
    WITH RECURSIVE p AS (
      SELECT p_partkey, p_name FROM part WHERE p_partkey < 200
    ), mx AS (SELECT MAX(p_partkey) + 1 AS m FROM p),
    recs AS (
      SELECT p_partkey AS rec_id, p_name AS name FROM p
      UNION ALL
      SELECT p_partkey + m AS rec_id,
             'x' || substr(p_name, 2, length(p_name) - 2) AS name
      FROM p, mx
    ), pairs AS (
      SELECT a.rec_id AS id_a, b.rec_id AS id_b
      FROM recs a, recs b
      WHERE a.rec_id < b.rec_id AND levenshtein(a.name, b.name) <= 2
    ), sym AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(node, label) AS (
      SELECT rec_id, rec_id FROM recs
      UNION
      SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.node
    ), lab AS (
      SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node
    ), agg AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_records
      FROM lab GROUP BY cluster_id
    )
    SELECT a.cluster_id, a.n_records, c.name AS canonical_name
    FROM agg a JOIN recs c ON c.rec_id = a.cluster_id
    """,
)
def entity_resolution_parts(spark, sf_dir):
    """End-to-end entity resolution — the record-linkage composition a
    catalog/dedup pipeline runs: q-gram-blocked fuzzy matching
    (operators.fuzzy.fuzzy_join, never a cross join) → connected
    components over the match graph (operators.graph) → survivorship
    (cluster size + the canonical record's name, canonical = min id).
    Records are the first 200 part names plus a planted 2-edit typo
    variant of each (re-keyed past max(key)+1, built identically in
    both engines). The oracle cross-joins with the same levenshtein
    bound and resolves clusters with a recursive-CTE transitive
    closure, so the hash match proves blocking losslessness AND
    cluster convergence AND survivor pick in one pin. Scale shape:
    blocking is gram-equi-join + length band; CC rounds are
    O(log diameter); survivorship is one group-agg + one key join."""
    from lakeshack_spark.operators.fuzzy import fuzzy_join

    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 200)
        .select("p_partkey", "p_name")
    )
    mx = p.agg((F.max("p_partkey") + 1).alias("__mx"))
    typos = p.crossJoin(F.broadcast(mx)).select(
        (F.col("p_partkey") + F.col("__mx")).alias("rec_id"),
        F.concat(
            F.lit("x"),
            F.expr("substr(p_name, 2, length(p_name) - 2)"),
        ).alias("name"),
    )
    recs = p.select(
        F.col("p_partkey").alias("rec_id"), F.col("p_name").alias("name")
    ).unionByName(typos)
    # four consumers in one action (fuzzy left/right, node universe,
    # canonical-name join): persist + eager count, the repo's measured
    # branch-recomputation rule
    recs = recs.persist()
    recs.count()
    right = recs.select(
        F.col("rec_id").alias("rec_id2"), F.col("name").alias("name2")
    )
    pairs = fuzzy_join(
        recs, right, "name", "name2", "rec_id", "rec_id2", max_dist=2
    ).filter(F.col("rec_id") < F.col("rec_id2"))
    cc = graph.connected_components(
        pairs,
        id_a="rec_id",
        id_b="rec_id2",
        nodes=recs.select("rec_id"),
        node_col="rec_id",
    )
    agg = cc.groupBy("cluster_id").agg(F.count("*").alias("n_records"))
    return agg.join(
        recs.select(
            F.col("rec_id").alias("cluster_id"),
            F.col("name").alias("canonical_name"),
        ),
        "cluster_id",
    ).select("cluster_id", "n_records", "canonical_name")


# =====================================================================
# Snapshot versioning: time travel over an evolving table
# =====================================================================


_VERSIONED_ORDERS_CACHE: dict[str, str] = {}


def _versioned_orders_dir(spark: SparkSession, sf_dir: str) -> str:
    """A 3-version snapshot table built from orders, once per process:
    v1 = create(orders), v2 = copy-on-write delete of finished orders
    from one custkey decile, v3 = append of a filtered copy of v1's
    rows. Every mutation is pure set logic over the orders view, so the
    DuckDB oracle can reconstruct each version exactly."""
    from lakeshack_spark.versioning import VersionedTable

    key = sf_dir.rstrip("/")
    path = _VERSIONED_ORDERS_CACHE.get(key)
    if path is None:
        path = os.path.join(
            tempfile.mkdtemp(prefix="lakeshack_time_travel_"), "orders_vt"
        )
        vt = VersionedTable(spark, path)
        base = load_table(spark, key, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        # Range-clustered on the cluster column so the snapshot-pruned
        # AS-OF lookup (snapshot_pruned_query) has selective zone maps;
        # the aggregate gates are layout-independent.
        vt.create(
            base.repartitionByRange(4, "o_custkey").sortWithinPartitions(
                "o_custkey"
            )
        )
        vt.delete_where("o_orderstatus = 'F' AND o_custkey % 10 = 3")
        vt.append(vt.read(1).filter(F.col("o_custkey") % 100 == 7))
        _VERSIONED_ORDERS_CACHE[key] = path
    return path


@register(
    "time_travel_orders",
    """
    WITH v1 AS (
      SELECT o_custkey, o_orderstatus, o_totalprice FROM orders
    ), v2 AS (
      SELECT * FROM v1
      WHERE NOT (o_orderstatus = 'F' AND o_custkey % 10 = 3)
    ), v3 AS (
      SELECT * FROM v2
      UNION ALL SELECT * FROM v1 WHERE o_custkey % 100 = 7
    ), u AS (
      SELECT 1 AS version, * FROM v1
      UNION ALL SELECT 2, * FROM v2
      UNION ALL SELECT 3, * FROM v3
    )
    SELECT CAST(version AS INTEGER) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM u GROUP BY version
    """,
)
def time_travel_orders(spark, sf_dir):
    """Time travel over a snapshot-versioned table (versioning.
    VersionedTable — the Delta/Iceberg commit model on plain Parquet +
    O_EXCL JSON manifests): v1 create, v2 copy-on-write delete that
    rewrites ONLY files containing matches, v3 append that carries v2's
    files by reference. The query reads all three versions AS OF their
    snapshots and aggregates each; the oracle reconstructs every
    version from the orders view with pure set logic, so one hash pin
    proves (a) v1 is immutable under later commits, (b) the CoW delete
    dropped exactly the matching rows and nothing else, and (c) the
    append touched no carried file. Scale shape: a manifest lists file
    paths (O(#files) metadata, Delta's contract), reads plan exactly
    the listed files with no directory walk, and the delete's rewrite
    set is bounded by one input_file_name planning pass."""
    from lakeshack_spark.versioning import VersionedTable

    vt = VersionedTable(spark, _versioned_orders_dir(spark, sf_dir))
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    parts = [
        vt.read(v)
        .select(cents.alias("__c"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("__c").alias("sum_cents"),
        )
        .select(F.lit(v).cast("int").alias("version"), "n_rows", "sum_cents")
        for v in (1, 2, 3)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# =====================================================================
# Per-file HLL sketch index: distinct counts from file metadata
# =====================================================================


_HLL_INDEX_CACHE: dict[str, tuple[str, str]] = {}


def _hll_orders_index(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(lake_dir, index_store): orders clustered into 8 files by
    o_custkey with a per-(file, o_orderstatus) HLL sidecar over
    o_custkey — built once per process."""
    from lakeshack_spark.sketchindex import DistinctSketchIndex
    from lakeshack_spark.writer import cluster_write

    key = sf_dir.rstrip("/")
    cached = _HLL_INDEX_CACHE.get(key)
    if cached is None:
        root = tempfile.mkdtemp(prefix="lakeshack_hll_index_")
        lake = os.path.join(root, "orders_lake")
        store = os.path.join(lake, "_lakeshack_hll", "o_custkey")
        orders = load_table(spark, key, "orders").select(
            "o_custkey", "o_orderstatus"
        )
        cluster_write(orders, lake, "o_custkey", n_files=8)
        DistinctSketchIndex(
            spark, store, "o_custkey", group_col="o_orderstatus"
        ).update(lake)
        cached = (lake, store)
        _HLL_INDEX_CACHE[key] = cached
    return cached


_VMERGE_CACHE: dict[str, tuple] = {}


def _versioned_merge_fixture(spark: SparkSession, sf_dir: str):
    """(VersionedTable, max_orderkey): v1 = orders (key, status, cents)
    clustered into 8 files; v2 = one MERGE commit applying a CDC batch
    derived from the data — keys %10==3 update (status 'U', cents+1),
    %10==7 delete-flagged, %10==5 insert under fresh keys max+1+k."""
    from lakeshack_spark.versioning import VersionedTable

    key = sf_dir.rstrip("/")
    cached = _VMERGE_CACHE.get(key)
    if cached is not None and cached[0].spark is spark:
        return cached
    orders = load_table(spark, key, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    maxk = base.agg(F.max("k")).collect()[0][0]
    table_dir = os.path.join(
        tempfile.mkdtemp(prefix="lakeshack_vmerge_"), "orders_v"
    )
    vt = VersionedTable(spark, table_dir)
    vt.create(base.repartitionByRange(8, "k").sortWithinPartitions("k"))
    updates = base.filter(F.col("k") % 10 == 3).select(
        "k",
        F.lit("U").alias("status"),
        (F.col("cents") + 1).alias("cents"),
        F.lit(False).alias("is_delete"),
    )
    deletes = base.filter(F.col("k") % 10 == 7).select(
        "k", "status", "cents", F.lit(True).alias("is_delete")
    )
    inserts = base.filter(F.col("k") % 10 == 5).select(
        (F.col("k") + F.lit(maxk) + 1).alias("k"),
        F.lit("I").alias("status"),
        "cents",
        F.lit(False).alias("is_delete"),
    )
    vt.merge(
        updates.unionByName(deletes).unionByName(inserts),
        ["k"],
        delete_col="is_delete",
    )
    cached = (vt, maxk)
    _VMERGE_CACHE[key] = cached
    return cached


@register(
    "versioned_merge_orders",
    """
    WITH b AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), m AS (
      SELECT COUNT(*) AS n, SUM(cents) AS s,
             SUM(CASE WHEN k % 10 = 3 THEN 1 ELSE 0 END) AS n_upd,
             SUM(CASE WHEN k % 10 = 7 THEN 1 ELSE 0 END) AS n_del,
             SUM(CASE WHEN k % 10 = 7 THEN cents ELSE 0 END) AS s_del,
             SUM(CASE WHEN k % 10 = 5 THEN 1 ELSE 0 END) AS n_ins,
             SUM(CASE WHEN k % 10 = 5 THEN cents ELSE 0 END) AS s_ins
      FROM b
    )
    SELECT CAST(n AS BIGINT) AS n_v1,
           CAST(n - n_del + n_ins AS BIGINT) AS n_v2,
           CAST(s - s_del + n_upd + s_ins AS BIGINT) AS sum_cents_v2,
           CAST(n_upd AS BIGINT) AS n_updated,
           CAST(n_ins AS BIGINT) AS n_inserted,
           CAST(0 AS BIGINT) AS n_deleted_remaining
    FROM m
    """,
)
def versioned_merge_orders(spark, sf_dir):
    """Copy-on-write MERGE INTO a versioned table (VersionedTable.merge
    = diff.merge_upsert under the manifest commit): one CDC batch
    updates/%10==3, delete-flags/%10==7, and inserts fresh keys (max+1
    offset — the planted-id discipline), rewriting ONLY the files whose
    key ranges the batch touches; every other file carries over by
    reference (pinned in tests). The hash pins v2's row count, exact
    cents total, update/insert/tombstone effects, AND v1's immutability
    (n_v1 read AFTER the merge committed). The oracle states the same
    quantities in pure set logic over orders — Spark never materializes
    that form; it reads the two manifests."""
    vt, maxk = _versioned_merge_fixture(spark, sf_dir)
    v1, v2 = vt.read(1), vt.read(2)
    a = v1.agg(F.count(F.lit(1)).cast("long").alias("n_v1"))
    b = v2.agg(
        F.count(F.lit(1)).cast("long").alias("n_v2"),
        F.sum("cents").cast("long").alias("sum_cents_v2"),
        F.sum(F.when(F.col("status") == "U", 1).otherwise(0))
        .cast("long")
        .alias("n_updated"),
        F.sum(F.when(F.col("k") > maxk, 1).otherwise(0))
        .cast("long")
        .alias("n_inserted"),
        F.sum(
            F.when((F.col("k") % 10 == 7) & (F.col("k") <= maxk), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("n_deleted_remaining"),
    )
    return a.crossJoin(b).select(
        "n_v1",
        "n_v2",
        "sum_cents_v2",
        "n_updated",
        "n_inserted",
        "n_deleted_remaining",
    )


_MOR_CACHE: dict[str, object] = {}


def _mor_fixture(spark: SparkSession, sf_dir: str):
    """Versioned orders (k, cents) in 8 files; v2 = MERGE-ON-READ delete
    of k%10==7 — a KB deletion vector, zero data files rewritten."""
    from lakeshack_spark.versioning import VersionedTable

    key = sf_dir.rstrip("/")
    cached = _MOR_CACHE.get(key)
    if cached is not None and cached.spark is spark:
        return cached
    orders = load_table(spark, key, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    vt = VersionedTable(
        spark, os.path.join(tempfile.mkdtemp(prefix="lakeshack_mor_"), "t")
    )
    vt.create(base.repartitionByRange(8, "k").sortWithinPartitions("k"))
    vt.delete_where_mor("k % 10 = 7")
    _MOR_CACHE[key] = vt
    return vt


@register(
    "mor_delete_orders",
    """
    WITH b AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_v1,
           CAST(SUM(CASE WHEN k % 10 <> 7 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_v2,
           CAST(SUM(CASE WHEN k % 10 <> 7 THEN cents ELSE 0 END) AS BIGINT)
             AS sum_cents_v2,
           CAST(0 AS BIGINT) AS n_deleted_remaining,
           TRUE AS zero_rewrite
    FROM b
    """,
)
def mor_delete_orders(spark, sf_dir):
    """MERGE-ON-READ delete via deletion vectors
    (VersionedTable.delete_where_mor): the delete commits a KB-sized
    (file, row position) sidecar instead of rewriting any data file —
    reads subtract it with one broadcast anti-join against
    _metadata.row_index. The hash pins v2's exact row count and cents
    total, that no tombstoned key survives, that v1 still reads intact,
    AND the zero-rewrite witness: v2's data file list is byte-identical
    to v1's. The other half of the delete trade-off next to the CoW
    delete_where (write O(matches) now, pay an anti-join per read until
    apply_dvs materializes); at 100 TB this is the wide-table/small-
    delete/GDPR-stream shape where CoW rewrite amplification dominates."""
    vt = _mor_fixture(spark, sf_dir)
    same_files = vt.manifest(2)["files"] == vt.manifest(1)["files"]
    v1, v2 = vt.read(1), vt.read(2)
    a = v1.agg(F.count(F.lit(1)).cast("long").alias("n_v1"))
    b = v2.agg(
        F.count(F.lit(1)).cast("long").alias("n_v2"),
        F.sum("cents").cast("long").alias("sum_cents_v2"),
        F.sum(F.when(F.col("k") % 10 == 7, 1).otherwise(0))
        .cast("long")
        .alias("n_deleted_remaining"),
    )
    return a.crossJoin(b).select(
        "n_v1",
        "n_v2",
        "sum_cents_v2",
        "n_deleted_remaining",
        F.lit(bool(same_files)).alias("zero_rewrite"),
    )


@register(
    "manifest_counts_orders",
    """
    WITH b AS (SELECT o_orderkey AS k FROM orders),
    m AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN k % 10 = 7 THEN 1 ELSE 0 END) AS n_del,
             SUM(CASE WHEN k % 10 = 5 THEN 1 ELSE 0 END) AS n_ins
      FROM b
    )
    SELECT CAST(n AS BIGINT) AS n_v1,
           CAST(n - n_del AS BIGINT) AS n_v2,
           CAST(n - n_del + n_ins AS BIGINT) AS n_v3
    FROM m
    """,
)
def manifest_counts_orders(spark, sf_dir):
    """COUNT(*) AS OF every version answered from MANIFESTS ALONE
    (VersionedTable.count_rows): Σ per-file footer counts − Σ
    deletion-vector tombstones — zero data I/O, zero Spark jobs, the
    versioned twin of plan_agg's interior path (Delta answers the same
    from its checkpoint's numRecords). Three versions: create,
    merge-on-read delete (tombstone counts SUBTRACT from the sum — the
    DV file's own footer count), append (carried files reuse the
    parent's entries, only new files read a footer). The oracle states
    the three counts in set logic over orders; Spark's side is three
    manifest sums."""
    from lakeshack_spark.versioning import VersionedTable  # noqa: F401

    vt = _mor_fixture(spark, sf_dir)
    if vt.latest_version() == 2:  # extend the shared fixture once
        orders = load_table(spark, sf_dir, "orders")
        base = orders.select(
            F.col("o_orderkey").alias("k"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        maxk = base.agg(F.max("k")).collect()[0][0]
        vt.append(
            base.filter(F.col("k") % 10 == 5).select(
                (F.col("k") + F.lit(maxk) + 1).alias("k"), "cents"
            )
        )
    counts = [vt.count_rows(v) for v in (1, 2, 3)]
    return spark.createDataFrame(
        [tuple(counts)], "n_v1 long, n_v2 long, n_v3 long"
    )


_WAP_CACHE: dict[str, object] = {}


def _wap_fixture(spark: SparkSession, sf_dir: str):
    """WAP flow on a versioned orders table: stage a clean batch and a
    poisoned batch (NULL keys, negative cents), audit both with the
    one-scan expectation suite, abort the poisoned one, publish the
    clean one. Returns the VersionedTable."""
    from lakeshack_spark.operators.quality import check_expectations, expect
    from lakeshack_spark.versioning import VersionedTable

    key = sf_dir.rstrip("/")
    cached = _WAP_CACHE.get(key)
    if cached is not None and cached.spark is spark:
        return cached
    orders = load_table(spark, key, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    maxk = base.agg(F.max("k")).collect()[0][0]
    vt = VersionedTable(
        spark, os.path.join(tempfile.mkdtemp(prefix="lakeshack_wap_"), "t")
    )
    vt.create(base.repartitionByRange(4, "k").sortWithinPartitions("k"))
    good = base.filter(F.col("k") % 10 == 2).select(
        (F.col("k") + F.lit(maxk) + 1).alias("k"), "cents"
    )
    bad = base.filter(F.col("k") % 10 == 4).select(
        F.when(F.col("k") % 20 == 4, F.lit(None).cast("long"))
        .otherwise(F.col("k") + F.lit(2 * maxk) + 2)
        .alias("k"),
        (-F.col("cents")).alias("cents"),
    )
    vt.stage_append(good, "batch-good")
    vt.stage_append(bad, "batch-bad")
    suite = [expect.not_null("k"), expect.non_negative("cents")]
    verdicts = {
        wap: all(
            r["passed"]
            for r in check_expectations(vt.read_staged(wap), suite).collect()
        )
        for wap in ("batch-good", "batch-bad")
    }
    assert verdicts == {"batch-good": True, "batch-bad": False}, verdicts
    vt.abort("batch-bad")
    vt.publish("batch-good")
    _WAP_CACHE[key] = vt
    return vt


@register(
    "wap_publish_orders",
    """
    WITH b AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), g AS (
      SELECT COUNT(*) AS n_good, SUM(cents) AS s_good
      FROM b WHERE k % 10 = 2
    )
    SELECT CAST((SELECT COUNT(*) FROM b) + n_good AS BIGINT) AS n_final,
           CAST((SELECT SUM(cents) FROM b) + s_good AS BIGINT)
             AS sum_cents_final,
           CAST(2 AS BIGINT) AS n_versions,
           CAST(0 AS BIGINT) AS n_staged_left,
           CAST(0 AS BIGINT) AS n_bad_rows
    FROM g
    """,
)
def wap_publish_orders(spark, sf_dir):
    """Write-Audit-Publish (the Iceberg WAP pattern) on the versioned
    table: two appends staged invisibly, audited by the one-scan
    expectation suite (operators.quality) against the WOULD-BE table,
    the poisoned batch (NULL keys / negative cents) ABORTED, the clean
    one PUBLISHED by reference. The hash pins that the final table
    contains exactly base + clean batch (row count + exact cents), that
    no staged manifest leaks, that exactly two versions exist, and that
    none of the poisoned rows ever became visible — the audit gate
    actually gated. Publish is idempotent on its wap_id (crash between
    commit and cleanup replays safely; pinned in tests)."""
    vt = _wap_fixture(spark, sf_dir)
    final = vt.read()
    return final.agg(
        F.count(F.lit(1)).cast("long").alias("n_final"),
        F.sum("cents").cast("long").alias("sum_cents_final"),
        F.lit(len(vt.versions())).cast("long").alias("n_versions"),
        F.lit(len(vt.staged_ids())).cast("long").alias("n_staged_left"),
        F.sum(
            (F.col("k").isNull() | (F.col("cents") < 0)).cast("long")
        ).alias("n_bad_rows"),
    )


_NULLNESS_SHACK_CACHE: dict[str, Lakeshack] = {}


def _nullness_docs_shack(spark: SparkSession, sf_dir: str) -> Lakeshack:
    """Documents with text NULLed below doc_id < max//3 (correlated with
    the doc_id clustering, so whole files are provably all-NULL /
    NULL-free), 8 files, stats tracking text + source — the fixture for
    null-count pruning."""
    from lakeshack_spark.writer import cluster_write

    key = sf_dir.rstrip("/")
    shack = _NULLNESS_SHACK_CACHE.get(key)
    if shack is not None and shack.spark is spark:
        return shack
    docs = load_table(spark, key, "documents")
    cut = docs.agg((F.max("doc_id") / 3).cast("long").alias("c")).collect()[0][
        "c"
    ]
    nulled = docs.select(
        "doc_id",
        F.when(F.col("doc_id") < cut, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("text"),
        "source",
    )
    lake = tempfile.mkdtemp(prefix="lakeshack_nullness_lake_")
    cluster_write(nulled, os.path.join(lake, "data"), "doc_id", n_files=8)
    shack = Lakeshack(
        spark,
        os.path.join(lake, "data"),
        cluster_column="doc_id",
        optional_columns=["text", "source"],
        store_path=os.path.join(lake, "stats"),
    )
    shack.update_metastore()
    _NULLNESS_SHACK_CACHE[key] = shack
    return shack


@register(
    "nullness_pruned_agg_docs",
    """
    WITH m AS (SELECT MAX(doc_id) // 3 AS cut FROM documents),
    d AS (
      SELECT doc_id,
             CASE WHEN doc_id < m.cut THEN NULL ELSE text END AS text,
             source
      FROM documents, m
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS row_count,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id,
           CAST(COUNT(text) AS BIGINT) AS cnt_text,
           CAST(COUNT(source) AS BIGINT) AS cnt_source
    FROM d WHERE text IS NOT NULL
    """,
)
def nullness_pruned_agg_docs(spark, sf_dir):
    """IS NOT NULL pruning + metadata-only aggregation on the null-count
    stats: documents whose text was NULLed below doc_id < max//3
    (correlated with the clustering) — the all-NULL files are EXCLUDED
    by the nullness truth table, the NULL-free files are interior
    (COUNT/MIN/MAX served from footer stats), and only the straddling
    file is scanned. `IS [NOT] NULL` clauses are an extension beyond
    the reference's operator set (its metastore has no null counts);
    the scan re-applies the exact predicate so pruning stays
    best-effort-safe. Driver + distributed classification twins
    parity-pinned in tests."""
    shack = _nullness_docs_shack(spark, sf_dir)
    return shack.query_agg(
        [("text", "is_not_null", None)],
        min_max_columns=["doc_id"],
        count_columns=["text", "source"],
    )


_THETA_IDX_CACHE: dict[str, tuple] = {}


def _theta_orders_index(spark: SparkSession, sf_dir: str):
    """(index, split_us): orders reduced to (o_custkey, half) with half
    split at the µs midpoint of the order-date span, clustered into 8
    files by o_custkey, with a per-(file, half) theta sidecar over
    o_custkey — built once per process."""
    from lakeshack_spark.sketchindex import ThetaSketchIndex
    from lakeshack_spark.writer import cluster_write

    key = sf_dir.rstrip("/")
    cached = _THETA_IDX_CACHE.get(key)
    if cached is None:
        orders = load_table(spark, key, "orders")
        us = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        row = orders.agg(
            F.min(us).alias("mn"), F.max(us).alias("mx")
        ).collect()[0]
        split_us = (row["mn"] + row["mx"]) // 2
        root = tempfile.mkdtemp(prefix="lakeshack_theta_index_")
        lake = os.path.join(root, "orders_lake")
        store = os.path.join(lake, "_lakeshack_theta", "o_custkey")
        halves = orders.select(
            "o_custkey",
            F.when(us < F.lit(split_us), F.lit(0))
            .otherwise(F.lit(1))
            .alias("half"),
        )
        cluster_write(halves, lake, "o_custkey", n_files=8)
        idx = ThetaSketchIndex(spark, store, "o_custkey", group_col="half")
        idx.update(lake)
        cached = (idx, split_us)
        _THETA_IDX_CACHE[key] = cached
    return cached


@register(
    "theta_index_overlap_orders",
    """
    WITH s AS (
      SELECT (MIN(epoch_us(o_orderdate)) + MAX(epoch_us(o_orderdate))) // 2
             AS sp FROM orders
    ), h AS (
      SELECT o_custkey,
             CASE WHEN epoch_us(o_orderdate) < s.sp THEN 0 ELSE 1 END AS half
      FROM orders, s
    ), k AS (
      SELECT o_custkey,
             MAX(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS in_early,
             MAX(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS in_late
      FROM h GROUP BY o_custkey
    )
    SELECT CAST(SUM(in_early) AS BIGINT) AS exact_early,
           CAST(SUM(in_late) AS BIGINT) AS exact_late,
           CAST(SUM(in_early * in_late) AS BIGINT) AS exact_both,
           CAST(COUNT(*) AS BIGINT) AS exact_union,
           TRUE AS ok_early, TRUE AS ok_late, TRUE AS ok_union,
           TRUE AS ok_inter, TRUE AS ok_diff
    FROM k
    """,
)
def theta_index_overlap_orders(spark, sf_dir):
    """Distinct-count SET ALGEBRA from the per-file theta-sketch sidecar
    (sketchindex.ThetaSketchIndex): repeat customers — distinct custkeys
    active in BOTH halves of the order-date span — estimated by sketch
    INTERSECTION, plus union and difference, reading only KB-sized
    sidecar rows. This is the question HLL union cannot answer
    (inclusion–exclusion over HLL compounds error; theta intersects the
    retained-hash samples directly). Bounds-as-booleans contract: one
    exact per-custkey pass computes early/late/both/union ground truth
    on both engines; the Spark side additionally flags every sketch
    estimate within ε (5% sides/union, 10% intersection/difference —
    measured ≤3% at shipped SFs). The date split derives from the data
    (µs midpoint, exact int arithmetic) so the halves move with the
    generated span at every sf."""
    idx, split_us = _theta_orders_index(spark, sf_dir)
    est = idx.overlap({"group": "0"}, {"group": "1"}).collect()[0]
    orders = load_table(spark, sf_dir, "orders")
    us = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    h = orders.select(
        "o_custkey",
        F.when(us < F.lit(split_us), F.lit(0)).otherwise(F.lit(1)).alias(
            "half"
        ),
    )
    k = h.groupBy("o_custkey").agg(
        F.max(F.when(F.col("half") == 0, 1).otherwise(0)).alias("in_early"),
        F.max(F.when(F.col("half") == 1, 1).otherwise(0)).alias("in_late"),
    )

    def ok(est_v, exact_col, eps):
        return (
            F.abs(F.lit(float(est_v)) - exact_col.cast("double"))
            <= F.lit(eps) * exact_col.cast("double")
        )

    agg = k.agg(
        F.sum("in_early").cast("long").alias("exact_early"),
        F.sum("in_late").cast("long").alias("exact_late"),
        F.sum(F.col("in_early") * F.col("in_late"))
        .cast("long")
        .alias("exact_both"),
        F.count(F.lit(1)).cast("long").alias("exact_union"),
    )
    return agg.select(
        "exact_early",
        "exact_late",
        "exact_both",
        "exact_union",
        ok(est["est_left"], F.col("exact_early"), 0.05).alias("ok_early"),
        ok(est["est_right"], F.col("exact_late"), 0.05).alias("ok_late"),
        ok(est["est_union"], F.col("exact_union"), 0.05).alias("ok_union"),
        ok(est["est_intersection"], F.col("exact_both"), 0.10).alias(
            "ok_inter"
        ),
        ok(
            est["est_difference"],
            F.col("exact_early") - F.col("exact_both"),
            0.10,
        ).alias("ok_diff"),
    )


@register(
    "kll_index_quantiles_orders",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS ok_n,
           TRUE AS ok_p10, TRUE AS ok_p25, TRUE AS ok_p50,
           TRUE AS ok_p75, TRUE AS ok_p90
    FROM orders
    """,
)
def kll_index_quantiles_orders(spark, sf_dir):
    """Quantile estimates answered from the per-file KLL sketch sidecar
    (sketchindex.QuantileSketchIndex) — the fourth classic of the
    file-metadata index tier (zone maps: ranges, Bloom: membership, HLL:
    cardinality, KLL: quantiles). The 8-file orders lake carries one
    KB-sized KllLongsSketch per file over o_custkey; the query MERGES
    the 8 sketch rows (Datasketches KLL union — associative/commutative,
    so any file slice merges without re-sorting data) and reads
    estimated p10/p25/p50/p75/p90. Bounds-as-booleans contract: the
    verification scan computes each estimate's EXACT normalized rank and
    flags |rank − p| ≤ 0.02 (KLL's bound at k=800 is ≈1%; measured
    ≤0.6% at shipped SFs), and ok_n pins the sidecar's footer-count
    reconciliation. Scale shape: the estimate path is O(#files) sketch
    rows — never a full sort and never the single-reducer exact
    Percentile buffer (operators/order_stats.py documents that killer);
    the scan here exists only to PROVE the accuracy claim."""
    from lakeshack_spark.sketchindex import QuantileSketchIndex

    lake, _hll_store = _hll_orders_index(spark, sf_dir)
    idx = QuantileSketchIndex(
        spark, os.path.join(lake, "_lakeshack_kll", "o_custkey"), "o_custkey"
    )
    idx.update(lake)
    ps = [0.1, 0.25, 0.5, 0.75, 0.9]
    est = idx.quantiles(ps).collect()[0].asDict()
    orders = load_table(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    aggs = [
        n.cast("long").alias("n_rows"),
        (n.cast("long") == F.lit(est["n_rows"])).alias("ok_n"),
    ]
    for lab, p in zip(["p10", "p25", "p50", "p75", "p90"], ps):
        v = est[f"q_{str(p).replace('.', '_')}"]
        rank = F.sum(F.when(F.col("o_custkey") <= F.lit(v), 1).otherwise(0))
        aggs.append(
            (
                F.abs(rank / n - F.lit(float(p))) <= F.lit(0.02)
            ).alias(f"ok_{lab}")
        )
    return orders.agg(*aggs)


@register(
    "kll_grouped_quantiles_orders",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS ok_p25, TRUE AS ok_p50, TRUE AS ok_p75
    FROM orders GROUP BY o_orderstatus
    """,
)
def kll_grouped_quantiles_orders(spark, sf_dir):
    """GROUPED quantile rollups from the per-(file, group) KLL sidecar:
    one sketch per (file, o_orderstatus) over o_custkey, merged
    per-group across files — the materialized-rollup pattern for
    percentiles (per-group medians across a lake without per-group
    sorts). Bounds-as-booleans per group: each estimated p25/p50/p75's
    EXACT within-group rank must sit within ±2% of its target (KLL
    k=800 bound ≈1%), plus per-group footer-count reconciliation. The
    global twin is kll_index_quantiles_orders; this pins the group_col
    path the class carries."""
    from lakeshack_spark.sketchindex import QuantileSketchIndex

    lake, _hll_store = _hll_orders_index(spark, sf_dir)
    idx = QuantileSketchIndex(
        spark,
        os.path.join(lake, "_lakeshack_kll_grp", "o_custkey"),
        "o_custkey",
        group_col="o_orderstatus",
    )
    idx.update(lake)
    ps = [0.25, 0.5, 0.75]
    est = {r["grp"]: r.asDict() for r in idx.quantiles(ps).collect()}
    orders = load_table(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    aggs = [n.cast("long").alias("n_rows")]
    for lab, p in zip(["p25", "p50", "p75"], ps):
        v_map = {g: est[g][f"q_{str(p).replace('.', '_')}"] for g in est}
        v_col = F.coalesce(
            *[
                F.when(F.col("o_orderstatus") == g, F.lit(v))
                for g, v in sorted(v_map.items())
            ]
        )
        rank = F.sum(F.when(F.col("o_custkey") <= v_col, 1).otherwise(0))
        aggs.append(
            (F.abs(rank / n - F.lit(float(p))) <= F.lit(0.02)).alias(
                f"ok_{lab}"
            )
        )
    return orders.groupBy("o_orderstatus").agg(*aggs)


@register(
    "hll_index_distinct_orders",
    """
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS within_5pct
    FROM orders GROUP BY o_orderstatus
    """,
)
def hll_index_distinct_orders(spark, sf_dir):
    """Distinct-count rollup answered from the per-file HLL sketch
    sidecar (sketchindex.DistinctSketchIndex): orders clustered into 8
    files, one ~1.5 KB sketch per (file, status); the query MERGES the
    24 sketch rows (register-wise max — exactly associative and
    idempotent, so slices never double-count) instead of shuffling
    (status, custkey) pairs. Bounds-as-booleans contract like
    sketch_distinct_and_quantiles: exact scalars on both sides plus a
    within-5% flag the Spark side computes from the merged estimate
    (measured ≤1.3 % across shipped SFs at lg_config_k=12) — sketches
    are deterministic byte strings and union is order-independent, so
    the flag is stable. n_rows additionally pins that the sidecar's
    footer counts reconcile with the data. Scale shape: build is one
    column-pruned scan with an O(files × groups) shuffle; the estimate
    reads ONLY the sidecar — metadata, never data."""
    from lakeshack_spark.sketchindex import DistinctSketchIndex

    lake, store = _hll_orders_index(spark, sf_dir)
    idx = DistinctSketchIndex(
        spark, store, "o_custkey", group_col="o_orderstatus"
    )
    exact = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").cast("long").alias("exact_distinct"))
    )
    est = idx.estimates().select(
        F.col("grp").alias("o_orderstatus"), "n_rows", "estimate"
    )
    return (
        exact.join(est, "o_orderstatus")
        .select(
            "o_orderstatus",
            "exact_distinct",
            "n_rows",
            (
                F.abs(F.col("estimate") - F.col("exact_distinct"))
                / F.col("exact_distinct")
                <= F.lit(0.05)
            ).alias("within_5pct"),
        )
    )


# =====================================================================
# Format surface: JSONL / CSV round trips, schema-evolution reads
# =====================================================================


_FORMAT_RT_CACHE: dict[tuple[str, str], str] = {}


def _format_roundtrip_dir(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    """Write the source table out in ``fmt`` once per process; return
    the directory. documents→JSONL (text fidelity), orders→CSV
    (numeric/temporal fidelity), lineitem→ORC (native columnar
    type-faithful)."""
    from lakeshack_spark.sources.io import write_table

    key = (sf_dir.rstrip("/"), fmt)
    path = _FORMAT_RT_CACHE.get(key)
    if path is None:
        path = os.path.join(tempfile.mkdtemp(prefix="lakeshack_fmt_"), fmt)
        if fmt == "json":
            df = load_table(spark, key[0], "documents")
            write_table(df, path, fmt="json")
        elif fmt == "orc":
            df = load_table(spark, key[0], "lineitem")
            write_table(df, path, fmt="orc")
        else:
            # Temporal columns cross CSV as integer µs: the parquet
            # flavor has shipped as NTZ and non-NTZ across rounds (the
            # events lesson), and CSV timestamp FORMATTING splits into
            # timestampFormat/timestampNTZFormat by flavor — integers
            # round-trip exactly under either, with no formatter coupling.
            df = load_table(spark, key[0], "orders").select(
                "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                    "o_date_us"
                ),
            )
            write_table(df, path, fmt="csv")
        _FORMAT_RT_CACHE[key] = path
    return path


def _mmr_oracle_sql(k: int = 5, shortlist: int = 16, n_q: int = 4) -> str:
    """The MMR greedy trajectory unrolled: one MATERIALIZED CTE per
    round (DuckDB 1.0 inlines plain CTEs — each round references its
    predecessor several times, the 3^rounds blowup trap), integer
    arithmetic identical to the Spark side's."""
    head = f"""
    WITH c AS MATERIALIZED (
      SELECT vec_id,
        CASE WHEN amax > 0 THEN list_transform(v, x ->
               CAST(greatest(-127, least(127, floor(x * 127 / amax))) AS BIGINT))
             ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS codes
      FROM (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                       x -> abs(x))) AS amax
        FROM embeddings)
    ), qs AS MATERIALIZED (
      SELECT vec_id AS query_id, codes AS qc FROM c ORDER BY vec_id LIMIT {n_q}
    ), short AS MATERIALIZED (
      SELECT query_id, doc_id, rel, dc FROM (
        SELECT query_id, doc_id, rel, dc,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rel DESC, doc_id) AS rn
        FROM (
          SELECT q.query_id, d.vec_id AS doc_id, d.codes AS dc,
                 CAST(list_sum(list_transform(generate_series(1, len(q.qc)),
                      i -> q.qc[i] * d.codes[i])) AS BIGINT) AS rel
          FROM qs q JOIN c d ON d.vec_id <> q.query_id))
      WHERE rn <= {shortlist}
    ), sim AS MATERIALIZED (
      SELECT a.query_id, a.doc_id AS d1, b.doc_id AS d2,
             CAST(list_sum(list_transform(generate_series(1, len(a.dc)),
                  i -> a.dc[i] * b.dc[i])) AS BIGINT) AS s
      FROM short a JOIN short b ON a.query_id = b.query_id
    ), r1 AS MATERIALIZED (
      SELECT query_id, doc_id, rel, 7 * rel AS mmr_num, 1 AS rnk FROM (
        SELECT query_id, doc_id, rel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY 7 * rel DESC, doc_id) AS p
        FROM short) WHERE p = 1
    ), sel1 AS MATERIALIZED (SELECT * FROM r1)"""
    rounds = []
    for r in range(2, k + 1):
        rounds.append(f""", r{r} AS MATERIALIZED (
      SELECT query_id, doc_id, rel, mmr_num, {r} AS rnk FROM (
        SELECT t.*, row_number() OVER (PARTITION BY query_id
                                       ORDER BY mmr_num DESC, doc_id) AS p
        FROM (
          SELECT s.query_id, s.doc_id, s.rel,
                 7 * s.rel - 3 * MAX(m.s) AS mmr_num
          FROM short s
          JOIN sim m ON m.query_id = s.query_id AND m.d1 = s.doc_id
          JOIN sel{r-1} sel ON sel.query_id = m.query_id
                           AND sel.doc_id = m.d2
          LEFT JOIN sel{r-1} x ON x.query_id = s.query_id
                              AND x.doc_id = s.doc_id
          WHERE x.doc_id IS NULL
          GROUP BY s.query_id, s.doc_id, s.rel) t) WHERE p = 1
    ), sel{r} AS MATERIALIZED (
      SELECT * FROM sel{r-1} UNION ALL SELECT * FROM r{r})""")
    tail = f"""
    SELECT query_id, CAST(rnk AS INTEGER) AS rank, doc_id, rel, mmr_num
    FROM sel{k}"""
    return head + "".join(rounds) + tail


@register("mmr_rerank_embeddings", _mmr_oracle_sql())
def mmr_rerank_embeddings(spark, sf_dir):
    """Maximal Marginal Relevance diversified top-k
    (similarity.mmr_rerank, Carbonell & Goldstein 1998) over
    int8-quantized embeddings — the RAG/search re-rank that trades
    relevance against redundancy. Entirely integer arithmetic (exact
    int64 code dot products, λ=7/10 as a scaled rational objective
    7·rel − 3·maxsim, ties to smaller doc id), so the greedy SELECTION
    TRAJECTORY itself is engine-reproducible and the oracle replays all
    5 rounds in MATERIALIZED CTEs — a float MMR forks on ulps at every
    argmax and could never hash-gate. Composition pin: quantization →
    shortlist (relevance window over the bounded query set) →
    per-query greedy via applyInPandas, queries parallel across the
    cluster, nothing iterates over the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = similarity.quantize_embeddings(emb).select("vec_id", "codes")
    queries = q.orderBy("vec_id").limit(4)
    return similarity.mmr_rerank(q, queries, k=5, shortlist=16)


@register(
    "corr_lineitem_qty_tax",
    """
    WITH b AS (
      SELECT l_returnflag,
             CAST(round(l_quantity) AS BIGINT) AS x,
             CAST(round(l_tax * 10000) AS BIGINT) AS y
      FROM lineitem
    ), s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x*x) AS BIGINT) AS sxx,
             CAST(SUM(y*y) AS BIGINT) AS syy,
             CAST(SUM(x*y) AS BIGINT) AS sxy
      FROM b GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           n AS n_rows,
           n*sxy - sx*sy AS cov_num,
           n*sxx - sx*sx AS varx_num,
           n*syy - sy*sy AS vary_num,
           CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0 THEN
             (CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE))
             / (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
           END AS corr2,
           CASE WHEN (n*sxx - sx*sx) > 0 THEN
             CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
           END AS slope
    FROM s
    """,
)
def corr_lineitem_qty_tax(spark, sf_dir):
    """Grouped exact covariance / correlation² / OLS slope
    (operators.stats.grouped_linear_stats): quantity vs tax basis points
    per returnflag. The five raw moments accumulate in exact int64
    (order-independent — F.corr/covar_pop float moments could never
    cross a value-hash gate), the integer numerators n·Σxy−ΣxΣy etc.
    ship exact, and corr²/slope are fixed chains of single IEEE ops on
    int64→double conversions — bit-reproducible against the ANSI oracle
    (which casts each HUGEINT sum through BIGINT first: a two-limb
    HUGEINT→DOUBLE can double-round). One hash aggregate with map-side
    partial combine; corr² not corr because sqrt is libm (signed_corr is
    the unit-tested production path)."""
    from lakeshack_spark.operators import stats

    li = load_table(spark, sf_dir, "lineitem")
    return stats.grouped_linear_stats(
        li,
        F.round(F.col("l_quantity")),
        F.round(F.col("l_tax") * 10000),
        by="l_returnflag",
    )


@register(
    "orc_roundtrip_lineitem",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_keys,
           CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS n_status,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(SUM(CAST(round(l_discount * 10000) AS BIGINT)) AS BIGINT)
             AS sum_disc_bp,
           CAST(MAX(epoch_us(l_shipdate)) AS BIGINT) AS max_ship_us
    FROM lineitem GROUP BY l_returnflag
    """,
)
def orc_roundtrip_lineitem(spark, sf_dir):
    """ORC sink → schema-explicit source round trip (sources.io) for the
    engine's third columnar-format leg: lineitem's int64/int32/double/
    string/timestamp mix crosses Spark's native ORC writer and comes
    back cell-identical — aggregates per returnflag over the read-back
    rows must match the oracle on the ORIGINAL parquet (counts, key and
    status cardinalities, exact cents/basis-point sums, max ship date in
    µs — the temporal compare stays in the integer-µs domain, the
    generation-proof discipline from the events lesson). ORC matters at
    100 TB because warehouse estates are mixed: the same pruned,
    pushdown scan pipeline must ingest a neighbor system's ORC drops
    without a bespoke path."""
    from lakeshack_spark.sources.io import read_table

    li = load_table(spark, sf_dir, "lineitem")
    path = _format_roundtrip_dir(spark, sf_dir, "orc")
    back = read_table(spark, path, fmt="orc", schema=li.schema)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("l_orderkey").cast("long").alias("n_keys"),
        F.countDistinct("l_linestatus").cast("long").alias("n_status"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "sum_cents"
        ),
        F.sum(F.round(F.col("l_discount") * 10000).cast("long")).alias(
            "sum_disc_bp"
        ),
        F.max(F.unix_micros(F.col("l_shipdate").cast("timestamp"))).cast(
            "long"
        ).alias("max_ship_us"),
    )


@register(
    "jsonl_roundtrip_docs",
    """
    SELECT doc_id, md5(text) AS text_md5,
           CAST(length(text) AS INTEGER) AS n_chars, source
    FROM documents
    """,
)
def jsonl_roundtrip_docs(spark, sf_dir):
    """JSON-lines sink → schema-explicit source round trip
    (sources.io.write_table/read_table): every document row crosses the
    text format and comes back byte-identical — the per-row md5 pins
    fidelity through JSON's escaping of newlines/quotes/unicode, the
    oracle reads the original parquet. Schema-explicit read: no
    inference pass over the JSON (inference is a full extra scan — the
    io layer's documented rule). The format surface matters because
    real corpus drops arrive as JSONL far more often than parquet; this
    gate proves ingestion loses nothing."""
    from lakeshack_spark.sources.io import read_table

    docs = load_table(spark, sf_dir, "documents")
    path = _format_roundtrip_dir(spark, sf_dir, "json")
    back = read_table(spark, path, fmt="json", schema=docs.schema)
    return back.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("text_md5"),
        F.length("text").cast("int").alias("n_chars"),
        "source",
    )


@register(
    "csv_roundtrip_orders",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(MAX(epoch_us(o_orderdate)) AS BIGINT) AS max_date_us
    FROM orders GROUP BY o_orderstatus
    """,
)
def csv_roundtrip_orders(spark, sf_dir):
    """CSV sink → schema-explicit source round trip for the numeric/
    temporal column mix: doubles survive via Java's shortest-round-trip
    rendering; the order date crosses as integer µs (CSV timestamp
    formatting forks by NTZ-ness of the parquet flavor, which has
    changed between driver generations — the integer domain is exact
    under both). Aggregates per status over the read-back rows must
    match the oracle on the ORIGINAL parquet cell-for-cell: counts,
    key cardinality, exact cents sums, max order date in µs."""
    from pyspark.sql import types as T

    from lakeshack_spark.sources.io import read_table

    path = _format_roundtrip_dir(spark, sf_dir, "csv")
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_date_us", T.LongType()),
        ]
    )
    back = read_table(spark, path, fmt="csv", schema=schema)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("o_orderkey").cast("long").alias("n_keys"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
            "sum_cents"
        ),
        F.max("o_date_us").cast("long").alias("max_date_us"),
    )


_SCHEMA_EVO_CACHE: dict[str, str] = {}


def _schema_evolution_dir(spark: SparkSession, sf_dir: str) -> str:
    """Two parquet epochs under one root with EVOLVED schemas: epoch 1
    (even order keys) lacks o_orderstatus, epoch 2 (odd keys) carries
    it — the additive-column migration every long-lived lake hits."""
    key = sf_dir.rstrip("/")
    path = _SCHEMA_EVO_CACHE.get(key)
    if path is None:
        path = os.path.join(tempfile.mkdtemp(prefix="lakeshack_evo_"), "orders")
        orders = load_table(spark, key, "orders")
        orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ).write.parquet(os.path.join(path, "epoch=1"))
        orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        ).write.parquet(os.path.join(path, "epoch=2"))
        _SCHEMA_EVO_CACHE[key] = path
    return path


@register(
    "schema_evolution_orders",
    """
    WITH unioned AS (
      SELECT o_orderkey, CAST(NULL AS VARCHAR) AS o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT COALESCE(o_orderstatus, '<pre-migration>') AS status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM unioned GROUP BY 1
    """,
)
def schema_evolution_orders(spark, sf_dir):
    """Schema-evolution read: one lake, two parquet epochs whose schemas
    differ by an added column; ``mergeSchema`` unifies them and the
    missing column surfaces as NULL for pre-migration rows — pinned
    against an oracle that rebuilds the union with explicit NULLs. At
    100 TB this is how additive migrations ship: no rewrite of old
    files, the reader reconciles (footer-schema union is per-file
    metadata work; Catalyst still prunes columns/filters as usual)."""
    back = spark.read.option("mergeSchema", "true").parquet(
        _schema_evolution_dir(spark, sf_dir)
    )
    return (
        back.select(
            F.coalesce(F.col("o_orderstatus"), F.lit("<pre-migration>")).alias(
                "status"
            ),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("__c"),
        )
        .groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("__c").alias("sum_cents"),
        )
    )


# =====================================================================
# Continuous aggregate: daily served from a materialized hourly layer
# =====================================================================


_ROLLUP_CACHE: dict[str, str] = {}


def _hourly_rollup_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialized hourly continuous-aggregate layer over events
    (timeseries.bucket_rollup at 1 h in the nanos domain), built once
    per process."""
    from lakeshack_spark.operators.timeseries import bucket_rollup

    key = sf_dir.rstrip("/")
    path = _ROLLUP_CACHE.get(key)
    if path is None:
        path = os.path.join(tempfile.mkdtemp(prefix="lakeshack_rollup_"), "hourly")
        ev = load_table(spark, key, "events")
        bucket_rollup(
            ev, 3_600_000_000_000, time_col="ts",
            group_cols=("event_type",), value_col="value", scale=8,
        ).write.parquet(path)
        _ROLLUP_CACHE[key] = path
    return path


@register(
    "rollup_cascade_events",
    f"""
    SELECT epoch_ns(ts) // 86400000000000 AS bucket,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           {oracle_dsum('value', 8)} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def rollup_cascade_events(spark, sf_dir):
    """Continuous-aggregate cascade (timeseries.bucket_rollup /
    rollup_merge / rollup_finalize — the TimescaleDB rollup pattern):
    the DAILY answer is served by merging the MATERIALIZED hourly
    layer's partials — the raw events are never re-read — while the
    oracle aggregates the raw stream directly. The hash match proves
    layer mergeability is exact: counts and the deterministic
    scaled-integer sums add associatively, and the single finalize
    division reproduces the direct double bit-for-bit. Scale shape:
    the hourly layer is O(hours × event types) rows regardless of
    event volume, so the daily rollup costs metadata-scale work; late
    data refreshes one bucket via the IVM delta path instead of a
    recompute."""
    from lakeshack_spark.operators.timeseries import rollup_finalize, rollup_merge

    hourly = spark.read.parquet(_hourly_rollup_dir(spark, sf_dir))
    daily = rollup_merge(hourly, 24, group_cols=("event_type",))
    return rollup_finalize(daily, scale=8).select(
        "bucket", "event_type", "n", "sum_value"
    )


# =====================================================================
# Weighted sampling: exact systematic PPS draw
# =====================================================================


@register(
    "weighted_sample_docs",
    f"""
    WITH w AS MATERIALIZED (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS weight,
             {_H64_SQL.format(x="'wss:' || CAST(doc_id AS VARCHAR)")} AS hk
      FROM documents
    ), p AS (
      SELECT doc_id, weight,
             COALESCE(SUM(weight) OVER (ORDER BY hk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s0,
             SUM(weight) OVER () AS tw
      FROM w
    ), m AS (
      SELECT doc_id, weight,
             LEAST(CAST(100 AS BIGINT),
               CASE WHEN 2*100*(s0 + weight) <= tw THEN 0
                    ELSE (2*100*(s0 + weight) - tw + 2*tw - 1) // (2*tw) END)
           - LEAST(CAST(100 AS BIGINT),
               CASE WHEN 2*100*s0 <= tw THEN 0
                    ELSE (2*100*s0 - tw + 2*tw - 1) // (2*tw) END)
             AS multiplicity
      FROM p
    )
    SELECT doc_id, weight, CAST(multiplicity AS BIGINT) AS multiplicity
    FROM m WHERE multiplicity > 0
    """,
)
def weighted_sample_docs(spark, sf_dir):
    """Probability-proportional-to-size document draw (sampling.
    weighted_systematic_sample): 100 pointers through the md5-shuffled
    token-count weight line — the mixture-construction primitive
    ("sample documents proportional to length"). Exact integer pointer
    counting makes the draw bit-reproducible, so the oracle replays the
    identical systematic selection with a window prefix sum while the
    Spark side uses the two-pass distributed prefix sum (no global
    row_number, no one-partition window — the packing machinery).
    Multiplicities sum to exactly 100 by construction; the hash pin
    covers membership, weights, and multiplicities together."""
    from lakeshack_spark.operators.sampling import weighted_systematic_sample

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("weight"),
    )
    return weighted_systematic_sample(
        docs, key_col="doc_id", weight_col="weight", n=100
    ).select("doc_id", "weight", "multiplicity")


_VT_SHACK_CACHE: dict[str, tuple] = {}


def _versioned_orders_shack(spark: SparkSession, sf_dir: str):
    """(VersionedTable, Lakeshack) over the snapshot table's immutable
    data files: ONE zone-map store serves every version (stats are
    per-file; version membership is the manifest's job)."""
    from lakeshack_spark.versioning import VersionedTable

    key = sf_dir.rstrip("/")
    cached = _VT_SHACK_CACHE.get(key)
    if cached is None:
        path = _versioned_orders_dir(spark, key)
        vt = VersionedTable(spark, path)
        shack = Lakeshack(
            spark,
            os.path.join(path, "data"),
            cluster_column="o_custkey",
            optional_columns=["o_totalprice"],
            store_path=os.path.join(path, "_lakeshack_stats"),
        )
        shack.update_metastore()
        cached = (vt, shack)
        _VT_SHACK_CACHE[key] = cached
    return cached


@register(
    "snapshot_agg_orders",
    """
    WITH m AS (SELECT (MAX(o_custkey) * 3) // 4 AS hi FROM orders),
    v1 AS (
      SELECT o_custkey, o_orderstatus, o_totalprice FROM orders
    ), v2 AS (
      SELECT * FROM v1
      WHERE NOT (o_orderstatus = 'F' AND o_custkey % 10 = 3)
    ), u AS (
      SELECT 1 AS version, * FROM v1
      UNION ALL SELECT 2, * FROM v2
    )
    SELECT CAST(version AS INTEGER) AS version,
           CAST(COUNT(*) AS BIGINT) AS row_count,
           MIN(o_custkey) AS min_o_custkey,
           MAX(o_custkey) AS max_o_custkey,
           CAST(COUNT(o_totalprice) AS BIGINT) AS cnt_o_totalprice
    FROM u, m WHERE o_custkey <= m.hi
    GROUP BY version
    """,
)
def snapshot_agg_orders(spark, sf_dir):
    """Metadata-only aggregation AS OF a snapshot
    (versioning.snapshot_agg = plan_agg ∩ manifest): COUNT/MIN/MAX over
    a cluster-range clause, at v1 AND v2 of the versioned orders table,
    from ONE per-file stats store serving every version — membership is
    the manifest intersection's job, so each version classifies only
    its own files (files the store never indexed conservatively scan;
    unit-pinned). The range endpoint derives from the data (3·max//4,
    exact ints) so interior/boundary splits at every sf; snapshots
    carrying deletion vectors are refused (footer stats cannot subtract
    tombstones). The oracle reconstructs both versions in set logic."""
    from lakeshack_spark.versioning import snapshot_agg

    vt, shack = _versioned_orders_shack(spark, sf_dir)
    hi = (
        shack.metastore.stats_df()
        .agg(((F.max("o_custkey_max") * 3) / 4).cast("long").alias("hi"))
        .collect()[0]["hi"]
    )
    parts = [
        snapshot_agg(
            vt,
            shack,
            v,
            [("o_custkey", "<=", hi)],
            min_max_columns=["o_custkey"],
            count_columns=["o_totalprice"],
        ).select(F.lit(v).cast("int").alias("version"), "*")
        for v in (1, 2)
    ]
    return parts[0].unionByName(parts[1])


@register(
    "time_travel_pruned_lookup",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_custkey IN (11, 47, 102, 999) AND o_totalprice >= 50000
    )
    SELECT 1 AS version, * FROM base
    UNION ALL
    SELECT 2, * FROM base
    WHERE NOT (o_orderstatus = 'F' AND o_custkey % 10 = 3)
    """,
)
def time_travel_pruned_lookup(spark, sf_dir):
    """The reference's point-lookup semantics AS OF a snapshot
    (versioning.snapshot_pruned_query): IN-list ∧ range clause over the
    range-clustered versioned orders table, planned as candidate_files
    ∩ manifest(version) — one zone-map store over the immutable data
    files serves every version, and the intersection hides both
    later-commit files and aborted-commit orphans. Run at v1 and v2:
    the deleted decile's rows appear in v1's answer and not v2's, which
    the oracle states directly. Pruning selectivity is unit-pinned
    (the AS-OF scan plans fewer files than the store holds)."""
    vt, shack = _versioned_orders_shack(spark, sf_dir)
    from lakeshack_spark.versioning import snapshot_pruned_query

    parts = [
        snapshot_pruned_query(
            vt, shack, v, [11, 47, 102, 999], [("o_totalprice", ">=", 50000.0)]
        ).select(
            F.lit(v).cast("int").alias("version"),
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        )
        for v in (1, 2)
    ]
    return parts[0].unionByName(parts[1])


_VDIFF_FP = (
    "md5("
    + " || '|' || ".join(
        f"(CAST(length(CAST({c} AS VARCHAR)) AS VARCHAR) || ':' "
        f"|| CAST({c} AS VARCHAR))"
        for c in ("o_custkey", "o_orderstatus")
    )
    + ")"
)


@register(
    "version_diff_orders",
    f"""
    SELECT o_orderkey,
           'removed' AS status,
           {_VDIFF_FP} AS old_fp,
           CAST(NULL AS VARCHAR) AS new_fp
    FROM orders
    WHERE o_orderstatus = 'F' AND o_custkey % 10 = 3
    """,
)
def version_diff_orders(spark, sf_dir):
    """Composition: snapshot time travel × keyed table diff = the CDC of
    a commit, recovered after the fact. ``table_diff(read(v1),
    read(v2))`` over the versioned orders table must return EXACTLY the
    copy-on-write delete's rows as 'removed' — nothing added, nothing
    changed, every fingerprint intact — which the oracle states directly
    as the delete predicate over the orders view. This is the audit
    primitive a lakehouse owes its operators: any commit's row-level
    effect is reconstructible from adjacent snapshots without having
    logged it. Scale shape: both sides reduce map-side to (key, md5
    fingerprint) before one full-outer join — only keys and 32-hex
    strings cross the shuffle."""
    from lakeshack_spark.operators.diff import table_diff
    from lakeshack_spark.versioning import VersionedTable

    vt = VersionedTable(spark, _versioned_orders_dir(spark, sf_dir))
    return table_diff(
        vt.read(1),
        vt.read(2),
        key_cols=["o_orderkey"],
        compare_cols=["o_custkey", "o_orderstatus"],
    )


# =====================================================================
# Entry points used by __spark_entry__.py
# =====================================================================


#: The driver's correctness gate hashes only the FIRST 50 ``queries()``
#: entries; the list rotates per round so every registered entry
#: accumulates driver-side hash evidence, not just selfcheck evidence
#: (VERDICT_r5 item 2, VERDICT_r6 item 5). Cumulative driver-hash
#: coverage reached 164/164 in r8; the rotation now refreshes the
#: STALEST proofs each round (testdata is regenerated between rounds, so
#: the oldest proofs are the least trusted). Round-11 rotation
#: (VERDICT_r10 item 2) refreshed the 18 r7-era proofs + the first 30
#: r8-era names. Round-12 rotation (VERDICT_r11 item 1): the remaining
#: 18 r8-era proofs + the alphabetically-first 30 of the 47 r9-era
#: proofs. Round-13 rotation (VERDICT_r12 item 1): the 18 remaining
#: r9-era proofs (judge histogram: bloom_semi_join_lineitem …
#: window_running_and_lag — 18, not 17; the old "kll-onward" phrasing
#: under-counted by one because kll_index_quantiles_orders had already
#: rotated in r12), PLUS asof_join_events_orders prepended out of turn:
#: its physical plan flipped to the union carry-forward strategy in r12
#: AFTER its last driver hash (r11 witnessed the join plan), and any
#: entry whose operator plan changes re-enters the next window. Filled
#: to 50 with the alphabetically-first 29 of the 48 r10-era proofs.
#: Every registered entry not named here follows in registration order,
#: so the full corpus is unchanged — only the order rotates.
_DRIVER_WINDOW = [
    # Round-14 rotation (VERDICT_r13 item 1): (a) every entry whose
    # physical plan changed in r13 without re-entering that round's
    # window — the Arrow cosine-scorer family (cosine_topk_bruteforce,
    # ivf_assign_cells, ivfpq_codes_embeddings, semdedup_embeddings;
    # ivfpq_search_embeddings and kmeans_update_quantized were already
    # hashed in r13 on the new plans) and the CC materialization pair
    # (dedup_cluster_labels, entity_resolution_parts); (b)
    # minhash_drop_set_docs, whose plan changes AGAIN this round (r14
    # long buckets + job restructure); (c) the 19 remaining r10-era
    # proofs; filled to 50 with the alphabetically-first 23 r11-era
    # proofs (which happen to re-prove the r14-touched dedup family:
    # minhash_dedup_verified, docs_near_deduped, dedup_exact_docs,
    # ngram_jaccard_pairs). No proof in this window is older than r10,
    # and after this round none in the corpus is older than r11.
    # core-op anchors (intentionally hashed every round: O1/O3/O6 scan +
    # zone-map prune are the reference's essence)
    "shack_pruned_lookup",
    "scan_filter_project",
    # (a) r13 plan-changed re-entries:
    "cosine_topk_bruteforce",
    "ivf_assign_cells",
    "ivfpq_codes_embeddings",
    "dedup_cluster_labels",
    "entity_resolution_parts",
    # (b) r14 plan-changed re-entry:
    "minhash_drop_set_docs",
    # (c) r10-era proofs, the 19 remaining:
    "pq_adc_topk_embeddings",
    "pq_codes_embeddings",
    "q11_important_part_values",
    "q12_priority_shipping_split",
    "q22_idle_rich_customers",
    "range_join_user_windows",
    "rollup_cascade_events",
    "scd2_merge_customer_segments",
    "semdedup_embeddings",
    "srp_near_dup_planted",
    "stratified_take_docs",
    "synth_source_docs",
    "table_diff_orders",
    "theta_index_overlap_orders",
    "topk_orders",
    "udtf_ngram_stats",
    "versioned_merge_orders",
    "vocab_encode_docs",
    "wap_publish_orders",
    # r11-era proofs, alphabetical first 23 of 47 (rest stay current
    # through selfcheck; every one has a driver hash from r11):
    "cosine_topk_pandas_udf",
    "cube_orders",
    "dedup_events_first",
    "dedup_exact_docs",
    "dedup_normalized_docs",
    "doc_fingerprint",
    "docs_near_deduped",
    "embedding_near_dup",
    "grouping_sets_orders",
    "ivf_topk_full_probe",
    "json_extract_events",
    "lang_id_docs",
    "minhash_dedup_verified",
    "ngram_jaccard_pairs",
    "pivot_orderstatus",
    "q10_returned_item_revenue",
    "q13_order_count_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_supplier_count_by_part",
    "q17_small_quantity_revenue",
    "q18_large_orders",
    # r14 plan-changed (simhash Arrow default): re-enters in place of
    # the next alphabetical r11 fill (q19) — plan-changed trumps stale.
    "simhash_near_pairs",
]

def _ordered_names() -> list[str]:
    windowed = [n for n in _DRIVER_WINDOW if n in SPECS]
    rest = [n for n in SPECS if n not in set(windowed)]
    return windowed + rest


def queries() -> dict[str, QueryFn]:
    return {name: SPECS[name][0] for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: SPECS[name][1]
        for name in _ordered_names()
        if SPECS[name][1] is not None
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the TPC-H Q3-shaped join/agg/top-k on sf0.001."""
    return q3_shipping_priority(spark, "/root/testdata/sf0.001")
