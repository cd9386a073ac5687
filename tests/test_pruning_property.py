"""Property-based pruning safety (SURVEY §5 plan): for random file
contents and random predicates, zone-map pruning must NEVER drop a file
that contains a qualifying row (false positives are fine — the scan
filters exactly; false negatives are data loss)."""

from __future__ import annotations

import operator

from hypothesis import given, settings, strategies as st

from lakeshack_spark.metastore import PRUNE_OPS, interval_keeps

_PY_OPS = {
    ">=": operator.ge,
    ">": operator.gt,
    "=": operator.eq,
    "==": operator.eq,
    "<": operator.lt,
    "<=": operator.le,
}

values_strategy = st.one_of(
    st.integers(min_value=-1000, max_value=1000),
    st.text(alphabet="abcdef", min_size=0, max_size=4),
)


@settings(max_examples=500)
@given(
    rows=st.lists(st.integers(-1000, 1000), min_size=1, max_size=50),
    op=st.sampled_from(PRUNE_OPS),
    value=st.integers(-1100, 1100),
)
def test_no_false_negatives_int(rows, op, value):
    lo, hi = min(rows), max(rows)
    any_match = any(_PY_OPS[op](r, value) for r in rows)
    if any_match:
        assert interval_keeps(op, lo, hi, value)


@settings(max_examples=500)
@given(
    rows=st.lists(st.text(alphabet="abc", min_size=0, max_size=3), min_size=1, max_size=30),
    op=st.sampled_from(PRUNE_OPS),
    value=st.text(alphabet="abc", min_size=0, max_size=3),
)
def test_no_false_negatives_str(rows, op, value):
    lo, hi = min(rows), max(rows)
    any_match = any(_PY_OPS[op](r, value) for r in rows)
    if any_match:
        assert interval_keeps(op, lo, hi, value)


@settings(max_examples=300)
@given(
    rows=st.lists(st.integers(-1000, 1000), min_size=1, max_size=50),
    op=st.sampled_from(PRUNE_OPS),
    value=st.integers(-1100, 1100),
)
def test_pruned_file_truly_has_no_matches(rows, op, value):
    """The converse (tightness): when the interval test prunes a file,
    no row in it can satisfy the predicate — min/max intervals are exact
    for these operators, so pruning is not just safe but precise."""
    lo, hi = min(rows), max(rows)
    if not interval_keeps(op, lo, hi, value):
        assert not any(_PY_OPS[op](r, value) for r in rows)


def test_null_stats_always_keep():
    for op in PRUNE_OPS:
        assert interval_keeps(op, None, None, 42)
        assert interval_keeps(op, None, 7, 42)


# ---------------------------------------------------------------------
# The vectorized classifier (driver site) vs a pure-Python reference:
# NULL stats must keep the file for every clause and every IN-list value
# — fixture stores carry no NULL stats, so these properties pin that edge
# directly on synthetic Arrow tables (int + string cluster columns,
# timestamp clause columns, min-only, max-only and two-sided NULLs).
# ---------------------------------------------------------------------

from datetime import datetime, timedelta


def _fake_metastore(spark_session, table, data_schema, cluster, optional):
    from lakeshack_spark.metastore import FileStatsMetastore

    class _FakeBackend:
        def bind(self, stats_schema):
            self.stats_schema = stats_schema

        def exists(self):
            return True

        def actual_schema(self):
            return None  # new store: skip reconnect validation

        def read_arrow(self, max_rows):
            return table

        def read_df(self):  # pragma: no cover - not used by pruning
            raise NotImplementedError

        append = rewrite = compact = drop = read_df

    return FileStatsMetastore(
        spark_session, "unused", data_schema, cluster, optional,
        backend=_FakeBackend(),
    )


def _ref_prune(rows, values, clauses, tracked, cc):
    out = {}
    for r in rows:
        ok = all(
            interval_keeps(op, r[f"{c}_min"], r[f"{c}_max"], val)
            for c, op, val in clauses
            if c in tracked
        )
        if not ok:
            continue
        lo, hi = r[f"{cc}_min"], r[f"{cc}_max"]
        matched = (
            list(values)
            if lo is None or hi is None
            else [v for v in values if lo <= v <= hi]
        )
        if matched:
            out[r["filepath"]] = sorted(matched)
    return out


_T0 = datetime(2021, 1, 1)

interval_ints = st.tuples(st.integers(-50, 50), st.integers(-50, 50)).map(
    lambda t: (min(t), max(t))
)
maybe_null = st.one_of(
    st.just((None, None)), st.just(("lo_null",)), st.just(("hi_null",)), interval_ints
)
ts_days = st.tuples(st.integers(0, 40), st.integers(0, 40)).map(
    lambda t: (_T0 + timedelta(days=min(t)), _T0 + timedelta(days=max(t)))
)
ts_interval = st.one_of(
    st.just((None, None)),
    ts_days,
    ts_days.map(lambda t: (None, t[1])),  # min-only NULL
    ts_days.map(lambda t: (t[0], None)),  # max-only NULL
)


@settings(max_examples=60, deadline=None)
@given(
    k_stats=st.lists(maybe_null, min_size=0, max_size=12),
    ts_stats=st.data(),
    values=st.lists(st.integers(-60, 60), min_size=1, max_size=6, unique=True),
    clause_op=st.sampled_from(PRUNE_OPS),
    clause_day=st.integers(-5, 45),
)
def test_vectorized_pruner_matches_python_reference(
    spark_for_props, k_stats, ts_stats, values, clause_op, clause_day
):
    import pyarrow as pa
    from pyspark.sql import types as T

    rows = []
    for i, kp in enumerate(k_stats):
        if kp == ("lo_null",):
            k_lo, k_hi = None, i  # single-sided NULLs
        elif kp == ("hi_null",):
            k_lo, k_hi = i, None
        else:
            k_lo, k_hi = kp
        ts_lo, ts_hi = ts_stats.draw(ts_interval)
        rows.append(
            {
                "filepath": f"f{i}",
                "num_rows": 1,
                "file_bytes": 1,
                "k_min": k_lo,
                "k_max": k_hi,
                "ts_min": ts_lo,
                "ts_max": ts_hi,
            }
        )
    table = pa.table(
        {
            "filepath": pa.array([r["filepath"] for r in rows], pa.string()),
            "num_rows": pa.array([1] * len(rows), pa.int64()),
            "file_bytes": pa.array([1] * len(rows), pa.int64()),
            "k_min": pa.array([r["k_min"] for r in rows], pa.int64()),
            "k_max": pa.array([r["k_max"] for r in rows], pa.int64()),
            "ts_min": pa.array([r["ts_min"] for r in rows], pa.timestamp("us")),
            "ts_max": pa.array([r["ts_max"] for r in rows], pa.timestamp("us")),
        }
    )
    data_schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    ms = _fake_metastore(spark_for_props, table, data_schema, "k", ["ts"])
    clauses = [("ts", clause_op, _T0 + timedelta(days=clause_day))]
    got = ms.prune(list(values), clauses)
    want = _ref_prune(rows, sorted(values), clauses, ("k", "ts"), "k")
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    s_stats=st.lists(
        st.one_of(
            st.just((None, None)),
            st.tuples(
                st.text(alphabet="abc", min_size=0, max_size=3),
                st.text(alphabet="abc", min_size=0, max_size=3),
            ).map(lambda t: (min(t), max(t))),
        ),
        min_size=0,
        max_size=10,
    ),
    values=st.lists(
        st.text(alphabet="abc", min_size=0, max_size=3),
        min_size=1,
        max_size=5,
        unique=True,
    ),
)
def test_vectorized_pruner_string_cluster_matches_reference(
    spark_for_props, s_stats, values
):
    """String cluster columns: the IN-list search runs on object-dtype
    stats."""
    import pyarrow as pa
    from pyspark.sql import types as T

    rows = [
        {
            "filepath": f"f{i}",
            "num_rows": 1,
            "file_bytes": 1,
            "s_min": lo,
            "s_max": hi,
        }
        for i, (lo, hi) in enumerate(s_stats)
    ]
    table = pa.table(
        {
            "filepath": pa.array([r["filepath"] for r in rows], pa.string()),
            "num_rows": pa.array([1] * len(rows), pa.int64()),
            "file_bytes": pa.array([1] * len(rows), pa.int64()),
            "s_min": pa.array([r["s_min"] for r in rows], pa.string()),
            "s_max": pa.array([r["s_max"] for r in rows], pa.string()),
        }
    )
    data_schema = T.StructType([T.StructField("s", T.StringType())])
    ms = _fake_metastore(spark_for_props, table, data_schema, "s", [])
    got = ms.prune(list(values))
    want = _ref_prune(rows, sorted(values), [], ("s",), "s")
    assert got == want
