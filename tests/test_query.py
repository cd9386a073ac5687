"""End-to-end pruned-query golden values, ported 1:1 from the reference's
tests/test_lakeshack.py semantics (values re-verified per FIXTURES.md §A),
plus a pruned≡unpruned property check.
"""

from __future__ import annotations

import os
from datetime import date, datetime
from decimal import Decimal

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from lakeshack_spark.engine import Lakeshack, build_predicate
from lakeshack_spark.sources.catalog import load_table
from lakeshack_spark.writer import cluster_write
from tests.conftest import SF_SMOKE

TEN_IDS = ["01", "22", "35", "4f", "70", "8a", "a0", "bf", "d1", "f0"]


@pytest.fixture(scope="module")
def shack(spark, sales_fixture, tmp_path_factory):
    root, _files = sales_fixture
    ls = Lakeshack(
        spark,
        root,
        cluster_column="id",
        optional_columns=["timestamp"],
        store_path=str(tmp_path_factory.mktemp("shack_stats")),
    )
    ls.update_metastore()
    return ls


def test_point_lookup_golden(shack):
    """query("00") → 3 rows (reference tests/test_lakeshack.py:211-212)."""
    assert shack.query("00").count() == 3


def test_in_list_projection_golden(shack):
    """10-value IN-list with projection → 31 rows, 2 cols, sum(x)=7108
    (reference tests/test_lakeshack.py:214-223)."""
    df = shack.query(TEN_IDS, columns=["id", "x"])
    rows = df.collect()
    assert len(rows) == 31
    assert len(df.columns) == 2
    assert sum(r["x"] for r in rows) == 7108


def test_range_clause_golden(shack):
    """query("00", timestamp <= <boundary>) → 2 rows, sum(x)=609
    (reference tests/test_lakeshack.py:236-241). The reference hardcodes
    "2021-08-10T22:50:53", which is epoch 1628650253 rendered in the
    author's US/Eastern local time — the fixture writes local-naive
    timestamps (datetime.fromtimestamp), so the portable boundary is the
    same epoch rendered in *this* host's local time."""
    clause = [("timestamp", "<=", datetime.fromtimestamp(1_628_650_253))]
    rows = shack.query("00", clause).collect()
    assert len(rows) == 2
    assert sum(r["x"] for r in rows) == 609


def test_limit_semantics(shack):
    """query("a9") → 9 rows; with n_records_max=6 exactly 6 (our limit is
    exact where the reference's soft cap may overshoot by a batch,
    reference tests/test_lakeshack.py:329-355 asserts ≤ 6+batch)."""
    assert shack.query("a9").count() == 9
    assert shack.query("a9", n_records_max=6).count() == 6


def test_default_row_cap_matches_reference(shack):
    """The default n_records_max is the reference's 2,000,000
    (lakeshack/lakeshack.py:308,482): the default plan carries a limit,
    ``None`` removes it, and an explicit cap still binds tighter."""
    assert Lakeshack.N_RECORDS_MAX_DEFAULT == 2_000_000
    capped = shack.query("a9")._jdf.queryExecution().optimizedPlan().toString()
    assert "2000000" in capped, capped
    uncapped = shack.query("a9", n_records_max=None)
    plan = uncapped._jdf.queryExecution().optimizedPlan().toString()
    assert "Limit" not in plan, plan
    # Counting is unaffected by the default cap at test scale.
    assert shack.query("a9").count() == uncapped.count() == 9


def test_binding_row_cap_is_observable(shack, caplog):
    """When n_records_max actually binds, the truncation must be
    observable (ADVICE r4): last_query_status['capped'] flips True and a
    warning names the cap; an unbound cap reports capped=False."""
    import logging

    with caplog.at_level(logging.WARNING, logger="lakeshack_spark.engine"):
        t = shack.query_arrow("a9", n_records_max=6)
    assert t.num_rows == 6
    assert shack.status()["capped"] is True
    assert shack.status()["n_records_max"] == 6
    assert any("truncated" in r.message for r in caplog.records)
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="lakeshack_spark.engine"):
        t = shack.query_arrow("a9")  # default 2M cap never binds here
    assert t.num_rows == 9
    assert shack.status()["capped"] is False
    assert not any("truncated" in r.message for r in caplog.records)


def test_pruning_reduces_files_touched(shack):
    """Point lookup plans a scan over ≤ 2 files out of 10 (ideal
    clustering: docs/source/lakeshack.rst:245-250 'files touched')."""
    files = shack.candidate_files(["00"])
    assert 1 <= len(files) <= 2


def test_empty_result_when_nothing_matches(shack):
    df = shack.query(["zz"])  # beyond every id range (hex max is 'ff')
    assert df.count() == 0
    assert df.columns == ["id", "timestamp", "x"]


def test_default_colocated_store(spark, sales_fixture, tmp_path_factory):
    """Default store_path (a _lakeshack_stats dir INSIDE the data dir) must
    be self-consistent: ingest sees it, re-ingest is idempotent, and data
    listings exclude it (regression: the side-dir skip used to hide the
    store from itself)."""
    import shutil

    root, files = sales_fixture
    lake = str(tmp_path_factory.mktemp("colocated"))
    for f in files:
        shutil.copy(f, lake)
    ls = Lakeshack(spark, lake, cluster_column="id", optional_columns=["timestamp"])
    assert ls.update_metastore() == 10
    assert ls.update_metastore() == 0
    assert ls.metastore.stats_df().count() == 10
    assert ls.query(["00"]).count() == 3


def test_pruned_equals_unpruned(shack, spark, sales_fixture):
    """Property: pruned scan ≡ full scan + exact filter, for a mix of
    predicates (SURVEY §5 'our plan')."""
    root, files = sales_fixture
    full = spark.read.parquet(*files)
    cases = [
        (["00", "a9", "ff"], []),
        (TEN_IDS, [("timestamp", ">=", datetime(2021, 9, 1))]),
        (["4f"], [("x", ">=", 250)]),
        (["10", "20", "30"], [("timestamp", "<", datetime(2021, 8, 1)), ("x", "<", 400)]),
    ]
    for values, clauses in cases:
        got = shack.query(values, clauses)
        pred = F.col("id").isin(values)
        for c, op, v in clauses:
            col = F.col(c)
            pred = pred & {
                ">=": col >= v,
                ">": col > v,
                "<": col < v,
                "<=": col <= v,
                "=": col == v,
            }[op]
        want = full.filter(pred)
        assert got.count() == want.count()
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_query_telemetry_point_lookup(shack):
    """I/O telemetry parity with the reference's per-query counters
    (lakeshack/lakeshack.py:236-243,463-472,566-577): a point lookup on
    the clustered fixture plans a 1-file scan — 9 of 10 files pruned —
    and status() reports the candidate bytes/rows upper bounds."""
    table = shack.query_arrow("00")
    st = shack.status()
    assert st["n_files_total"] == 10
    assert st["n_files_candidate"] == 1
    assert st["n_files_pruned"] == 9
    assert st["n_rows_candidate"] == 100  # one 100-row file's footer count
    assert st["n_rows_returned"] == table.num_rows == 3
    assert st["bytes_candidate"] > 0
    assert st["plan_sec"] >= 0


def test_query_telemetry_bytes_from_store_not_filesystem(shack, monkeypatch):
    """bytes_candidate comes from the ingest-time file_bytes column: query
    planning must make ZERO per-query filesystem size calls (the old
    implementation stat-ed every candidate file on every query — one JVM
    round trip each on remote stores)."""
    import os as os_mod

    calls = []
    real = os_mod.path.getsize

    def counting(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(os_mod.path, "getsize", counting)
    shack.query(["00", "22", "35"])
    st = shack.status()
    assert calls == [], calls
    assert st["bytes_candidate"] > 0
    # the byte bound is the physical size of the candidate files
    expected = sum(real(f) for f in shack.candidate_files(["00", "22", "35"]))
    assert st["bytes_candidate"] == expected


def test_query_telemetry_full_scan_and_reset(shack):
    """A no-pruning query touches all 10 files; each query() overwrites
    the previous status (lazy query leaves n_rows_returned unset)."""
    df = shack.query([f"{i:02x}" for i in range(256)])
    st = shack.status()
    assert st["n_files_total"] == 10
    assert st["n_files_candidate"] == 10
    assert st["n_files_pruned"] == 0
    assert st["n_rows_candidate"] == 1000
    assert "n_rows_returned" not in st
    assert df.count() == 1000


def test_reference_api_compatibility(shack):
    """A user of the reference can call the same entry points with the
    same signatures: query_s3_select (collapses onto the pruned scan),
    batch_size on query (accepted, advisory), Metastore.query (the
    prune mapping), and update's filesystem/n_workers."""
    via_s3sel = shack.query_s3_select("a9", n_workers=50)
    via_arrow = shack.query_arrow("a9")
    assert via_s3sel.num_rows == via_arrow.num_rows == 9
    assert shack.query("a9", batch_size=1024).count() == 9
    ms = shack.metastore
    assert ms.query(["00"]) == ms.prune(["00"]) != {}
    assert ms.update(shack.data_path, filesystem=None, n_workers=8) == 0


@pytest.mark.parametrize(
    "values",
    [
        [0, 7, -3],
        [2**31, 2**40, -(2**35)],
        ["plain", "o'brien", 'say "hi"', "back\\slash"],
        [date(2021, 8, 10), date(1970, 1, 1)],
        [datetime(2021, 8, 10, 22, 50, 53), datetime(1999, 12, 31, 23, 59, 59, 123456)],
        [Decimal("12.34"), Decimal("-0.001")],
        [None, 5],
    ],
    ids=["small_int", "big_int", "quoted_str", "date", "datetime", "decimal", "none"],
)
def test_in_list_literals_match_isin(spark, values):
    """build_predicate's one-call IN-list makes the same expression,
    literal for literal, as ``Column.isin``'s one ``lit`` per value."""
    want = F.col("c").isin(values) & F.lit(True)
    got = build_predicate("c", values)
    assert str(got) == str(want)
    assert got._jc.node().sql() == want._jc.node().sql()


def _orders_lake(spark, tmp_path_factory, n_files):
    orders = load_table(spark, SF_SMOKE, "orders")
    lake = str(tmp_path_factory.mktemp("orders_lake"))
    cluster_write(orders, lake, "o_custkey", n_files=n_files)
    shack = Lakeshack(
        spark, lake, "o_custkey", ["o_orderdate"],
        store_path=str(tmp_path_factory.mktemp("orders_stats")),
        schema=orders.schema,
    )
    shack.update_metastore()
    return shack


@pytest.fixture(scope="module")
def wide_shack(spark, tmp_path_factory):
    """A 40-file ``orders`` lake: wide requests have more candidates than
    Spark's 32-path parallel-listing threshold."""
    return _orders_lake(spark, tmp_path_factory, n_files=40)


WIDE_KEYS = list(range(0, 1500, 2))


def test_wide_query_repeat_runs_one_job(spark, wide_shack):
    """A repeated query over >32 candidates runs its scan job only: the
    candidates' file statuses come from the shack's cache, not from a
    distributed listing job (a plain ``spark.read.parquet`` of the same
    files runs two jobs). Opening writes no session conf."""
    assert len(wide_shack.candidate_files(WIDE_KEYS)) >= 33
    conf = spark.conf.getAll
    first = wide_shack.query_arrow(WIDE_KEYS)
    assert spark.conf.getAll == conf
    sc = spark.sparkContext
    group = "test_wide_query_repeat_runs_one_job"
    sc.setJobGroup(group, group)
    try:
        again = wide_shack.query_arrow(WIDE_KEYS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert again.num_rows == first.num_rows > 0
    assert n_jobs == 1, n_jobs


def test_query_input_files_match_plain_read(spark, wide_shack):
    """The cached opener names the same files, in the same ``file:``
    spelling, as ``spark.read.parquet`` of the candidate list."""
    for keys in (WIDE_KEYS, [7]):
        got = wide_shack.query(keys).inputFiles()
        want = spark.read.parquet(*wide_shack.candidate_files(keys)).inputFiles()
        assert sorted(got) == sorted(want)


PYTHON_EXEC_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInArrow",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "PythonMapInArrow",
)


def _python_exec_nodes(df) -> list[str]:
    df.toArrow()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [n for n in PYTHON_EXEC_NODES if n in plan]


def test_lookups_run_no_python(spark, wide_shack):
    """A point and a wide lookup execute JVM-only plans: no stage of a
    lookup starts a Python worker, so lookup latency carries none of the
    per-task Python fixed cost. The detector does see a ``mapInArrow``."""
    point = wide_shack.query([7])
    wide = wide_shack.query(
        WIDE_KEYS, [("o_orderdate", ">=", datetime(1995, 1, 1))]
    )
    for df in (point, wide):
        assert "Scan parquet" in df._jdf.queryExecution().executedPlan().toString()
        assert _python_exec_nodes(df) == []
    control = point.mapInArrow(lambda batches: batches, point.schema)
    assert "MapInArrow" in _python_exec_nodes(control)


def test_missing_candidate_raises_path_not_found(spark, tmp_path_factory):
    """A candidate deleted from disk before this shack first opened it
    fails at query() with PATH_NOT_FOUND, as a plain read of the list
    does."""
    shack = _orders_lake(spark, tmp_path_factory, n_files=4)
    files = shack.candidate_files(WIDE_KEYS)
    os.remove(files[1])
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        shack.query(WIDE_KEYS)
