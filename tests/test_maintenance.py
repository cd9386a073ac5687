"""Compaction: overlapping per-batch clustering → one global clustering;
results preserved, pruning selectivity restored."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakeshack_spark.engine import Lakeshack
from lakeshack_spark.maintenance import compact
from lakeshack_spark.sources.catalog import load_table
from lakeshack_spark.writer import cluster_write

SF = "/root/testdata/sf0.001"


def test_compact_restores_point_lookup_selectivity(spark, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("lake"))
    store = str(tmp_path_factory.mktemp("stats"))
    orders = load_table(spark, SF, "orders")

    # 4 appended batches, each internally clustered → overlapping ranges
    for i in range(4):
        cluster_write(
            orders.filter(F.col("o_orderkey") % 4 == i),
            lake, "o_custkey", n_files=2, mode="append",
        )
    shack = Lakeshack(
        spark, lake, "o_custkey", ["o_orderdate"],
        store_path=store, schema=orders.schema,
    )
    shack.update_metastore()
    assert shack.metastore.stats_df().count() == 8
    before = len(shack.candidate_files([7]))
    assert before >= 4  # every batch's range covers custkey 7
    # Open every file through this shack first: their cached statuses
    # must not outlive the compaction that deletes them.
    assert shack.query(list(range(1500))).count() == orders.count()

    removed = compact(shack, n_files=8)
    assert removed == 8
    stats = shack.metastore.stats_df()
    assert stats.count() == 8
    after = len(shack.candidate_files([7]))
    assert after <= 2  # global clustering: 1 file (+1 for boundary overlap)

    # row-for-row identical dataset
    assert shack.query(list(range(1500))).count() == orders.count()
    got = spark.read.schema(orders.schema).parquet(lake + "/compact-*.parquet")
    assert got.exceptAll(orders).count() == 0
    assert orders.exceptAll(got).count() == 0


def test_compact_empty_dataset_is_noop(spark, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("empty_lake"))
    orders = load_table(spark, SF, "orders")
    shack = Lakeshack(
        spark, lake, "o_custkey",
        store_path=str(tmp_path_factory.mktemp("stats")), schema=orders.schema,
    )
    assert compact(shack, n_files=4) == 0


def test_delete_rows_rewrites_only_candidate_files(spark, tmp_path_factory):
    """GDPR-style targeted delete: only zone-map-candidate files are
    touched (others stay byte-identical at the same paths), matching
    rows vanish, everything else survives, and the metastore reconciles
    to the post-delete file population."""
    import os

    from lakeshack_spark.maintenance import delete_rows

    lake = str(tmp_path_factory.mktemp("del_lake"))
    store = str(tmp_path_factory.mktemp("del_stats"))
    orders = load_table(spark, SF, "orders")
    cluster_write(orders, lake, "o_custkey", n_files=6)
    shack = Lakeshack(
        spark, lake, "o_custkey", store_path=store, schema=orders.schema
    )
    shack.update_metastore()

    keys = [7, 42]
    want_deleted = orders.filter(F.col("o_custkey").isin(keys)).count()
    assert want_deleted > 0
    before = {
        f: os.path.getmtime(f"{lake}/{f}")
        for f in os.listdir(lake)
        if f.endswith(".parquet")
    }
    candidates = {os.path.basename(p) for p in shack.candidate_files(keys)}
    assert 0 < len(candidates) < len(before)  # pruning is doing work

    report = delete_rows(shack, keys)
    assert report["rows_deleted"] == want_deleted
    assert report["files_candidate"] == len(candidates)
    assert report["files_rewritten"] + report["files_removed"] >= 1

    # untouched files: same paths, same mtimes (byte-identical by proxy)
    after = {
        f: os.path.getmtime(f"{lake}/{f}")
        for f in os.listdir(lake)
        if f.endswith(".parquet")
    }
    for f, ts in before.items():
        if f not in candidates:
            assert after[f] == ts, f
    # deleted keys gone, the rest intact row-for-row
    remaining = spark.read.schema(orders.schema).parquet(lake)
    want = orders.filter(~F.col("o_custkey").isin(keys))
    assert remaining.filter(F.col("o_custkey").isin(keys)).count() == 0
    assert remaining.exceptAll(want).count() == 0
    assert want.exceptAll(remaining).count() == 0
    # metastore reconciled: stats rows == surviving files; queries prune
    assert shack.metastore.stats_df().count() == len(after)
    assert shack.query(keys).count() == 0
    assert shack.query([9]).count() == orders.filter(
        F.col("o_custkey") == 9
    ).count()


def test_delete_rows_with_clause_and_false_positive(spark, tmp_path_factory):
    """A clause narrows the delete below the key grain; a key absent from
    the data (zone-map false positive range hit) deletes nothing and
    rewrites nothing."""
    from lakeshack_spark.maintenance import delete_rows

    lake = str(tmp_path_factory.mktemp("del_lake2"))
    store = str(tmp_path_factory.mktemp("del_stats2"))
    orders = load_table(spark, SF, "orders")
    cluster_write(orders, lake, "o_custkey", n_files=3)
    shack = Lakeshack(
        spark, lake, "o_custkey", ["o_totalprice"],
        store_path=store, schema=orders.schema,
    )
    shack.update_metastore()

    clause = [("o_totalprice", ">=", 100000.0)]
    want = orders.filter(
        F.col("o_custkey").isin([7]) & (F.col("o_totalprice") >= 100000.0)
    ).count()
    report = delete_rows(shack, [7], clause)
    assert report["rows_deleted"] == want
    kept = orders.filter(F.col("o_custkey") == 7).count() - want
    assert shack.query([7]).count() == kept

    # replaying the SAME delete is the false-positive case: zone ranges
    # still cover key 7 (its sub-threshold rows remain), so candidate
    # files exist — but the exact per-file check finds nothing and
    # refuses to churn them: zero deletes, zero rewrites, idempotent
    r2 = delete_rows(shack, [7], clause)
    assert r2["files_candidate"] > 0
    assert r2["rows_deleted"] == 0
    assert r2["files_rewritten"] == r2["files_removed"] == 0
