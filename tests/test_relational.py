"""as-of join unit coverage: directions, tiebreaks, unmatched rows, and
the no-left_key grouping path (the corpus query asof_join_events_orders
pins the backward+tiebreak path against a SQL oracle at sf0.01)."""

from __future__ import annotations

import pytest

from lakeshack_spark.operators.relational import asof_join


@pytest.fixture(scope="module")
def quotes_trades(spark):
    quotes = spark.createDataFrame(
        [
            (1, "A", 100),
            (2, "A", 205),
            (3, "B", 150),
            (4, "C", 50),  # no trades for C at all
            (5, "A", 10),  # before every A trade
        ],
        "quote_id long, sym string, qts long",
    )
    trades = spark.createDataFrame(
        [
            ("A", 90, 10.0, 901),
            ("A", 100, 11.0, 902),  # equal-time vs quote 1
            ("A", 100, 12.0, 903),  # equal time, higher trade_id
            ("A", 200, 13.0, 904),
            ("B", 149, 20.0, 905),
            ("B", 151, 21.0, 906),
        ],
        "sym string, tts long, price double, trade_id long",
    )
    return quotes, trades


def _by_quote(df):
    return {r["quote_id"]: r for r in df.collect()}

@pytest.mark.parametrize("strategy", ["union", "join"])
def test_backward_with_tiebreak(spark, quotes_trades, strategy):
    quotes, trades = quotes_trades
    out = _by_quote(
        asof_join(
            quotes, trades, on="sym", left_time="qts", right_time="tts",
            left_key="quote_id", right_tiebreak="trade_id", strategy=strategy,
        )
    )
    assert len(out) == 5
    # quote 1 @100: trades at 90,100,100 qualify; max (tts, trade_id) = 903
    assert (out[1]["trade_id"], out[1]["price"]) == (903, 12.0)
    # quote 2 @205: latest A trade 200
    assert out[2]["trade_id"] == 904
    # quote 3 @150: only the 149 B trade is at-or-before
    assert out[3]["trade_id"] == 905
    # quote 4: symbol with no trades -> NULL right side, row preserved
    assert out[4]["trade_id"] is None and out[4]["price"] is None
    # quote 5 @10: earlier than every A trade -> NULL
    assert out[5]["trade_id"] is None


@pytest.mark.parametrize("strategy", ["union", "join"])
def test_forward(spark, quotes_trades, strategy):
    quotes, trades = quotes_trades
    out = _by_quote(
        asof_join(
            quotes, trades, on="sym", left_time="qts", right_time="tts",
            left_key="quote_id", right_tiebreak="trade_id", direction="forward",
            strategy=strategy,
        )
    )
    # forward = least (tts, trade_id) with tts >= qts
    assert out[1]["trade_id"] == 902  # 100 ties broken toward smaller id
    assert out[2]["trade_id"] is None  # nothing at-or-after 205
    assert out[3]["trade_id"] == 906
    assert out[5]["trade_id"] == 901


def test_no_left_key_groups_all_columns(spark, quotes_trades):
    """The JOIN strategy's documented no-left_key fallback (group by all
    left columns) — strategy passed explicitly since the default flipped
    to union in r12 (ADVICE_r12: keep this path covered)."""
    quotes, trades = quotes_trades
    out = asof_join(
        quotes, trades, on="sym", left_time="qts", right_time="tts",
        right_tiebreak="trade_id", strategy="join",
    )
    assert out.count() == quotes.count()
    got = _by_quote(out)
    assert got[1]["trade_id"] == 903
    assert got[4]["trade_id"] is None
    # and the union default agrees on this duplicate-free input
    got_u = _by_quote(
        asof_join(
            quotes, trades, on="sym", left_time="qts", right_time="tts",
            right_tiebreak="trade_id",
        )
    )
    assert {k: v["trade_id"] for k, v in got.items()} == {
        k: v["trade_id"] for k, v in got_u.items()
    }


@pytest.mark.parametrize("strategy", ["union", "join"])
def test_column_collision_suffix(spark, strategy):
    left = spark.createDataFrame([(1, "k", 10, 1.0)], "id long, k string, t long, price double")
    right = spark.createDataFrame([("k", 5, 2.0)], "k string, rt long, price double")
    out = asof_join(left, right, on="k", left_time="t", right_time="rt",
                    left_key="id", strategy=strategy)
    assert set(out.columns) == {"id", "k", "t", "price", "rt", "price_right"}
    row = out.collect()[0]
    assert (row["price"], row["price_right"]) == (1.0, 2.0)


@pytest.mark.parametrize("strategy", ["union", "join"])
@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_null_semantics(spark, strategy, direction):
    """NULL probe times / NULL keys never match (the equi+inequality
    predicate is null-rejecting in the join form; the union form must
    agree), and NULL-time or NULL-key quotes can never be carried."""
    left = spark.createDataFrame(
        [(1, "A", None), (2, None, 100), (3, "A", 100)],
        "id long, k string, t long",
    )
    right = spark.createDataFrame(
        [("A", None, 1.0), (None, 50, 2.0), ("A", 90, 3.0), ("A", 150, 4.0)],
        "k string, rt long, price double",
    )
    out = {
        r["id"]: r["price"]
        for r in asof_join(
            left, right, on="k", left_time="t", right_time="rt",
            left_key="id", direction=direction, strategy=strategy,
        ).collect()
    }
    assert out[1] is None and out[2] is None
    assert out[3] == (3.0 if direction == "backward" else 4.0)


def test_asof_strategies_agree_on_adversarial_matrix(spark):
    """Union and join strategies are the SAME operator: on a seeded
    matrix dense with equal-time ties, duplicate quote times, missing
    keys, and NULLs in every role, both directions must return
    identical row sets (the tiebreak makes the pick deterministic)."""
    import random

    rng = random.Random(42)
    syms = ["A", "B", "C", "D", "E"]
    left_rows = [
        (
            i,
            rng.choice(syms + [None]),
            rng.choice([None] + list(range(0, 50))),
        )
        for i in range(300)
    ]
    right_rows = [
        (
            rng.choice(syms + [None]),
            rng.choice([None] + list(range(0, 50))),
            float(j),
            # occasional NULL tiebreaks: struct-compare treats NULL as
            # smallest in max_by/min_by; the union sort's nulls-first
            # (asc) / nulls-last (desc) defaults must agree
            None if j % 11 == 0 else j,
        )
        for j in range(120)
    ]
    left = spark.createDataFrame(left_rows, "id long, k string, t long")
    right = spark.createDataFrame(
        right_rows, "k string, rt long, price double, trade_id long"
    )

    def key(row):
        return tuple((v is None, v) for v in row)

    for direction in ("backward", "forward"):
        results = {}
        for strategy in ("union", "join"):
            out = asof_join(
                left, right, on="k", left_time="t", right_time="rt",
                left_key="id", right_tiebreak="trade_id",
                direction=direction, strategy=strategy,
            )
            results[strategy] = sorted(
                (
                    (r["id"], r["rt"], r["price"], r["trade_id"])
                    for r in out.collect()
                ),
                key=key,
            )
        assert results["union"] == results["join"], direction


def test_asof_union_preserves_duplicate_left_rows(spark):
    """The union strategy needs no unique left id: exact-duplicate probe
    rows each survive with their own match (the join form without
    left_key collapses them — its documented group-by-all fallback)."""
    left = spark.createDataFrame(
        [("A", 100), ("A", 100), ("A", 200)], "k string, t long"
    )
    right = spark.createDataFrame([("A", 90, 1.0)], "k string, rt long, price double")
    out = asof_join(left, right, on="k", left_time="t", right_time="rt")
    assert out.count() == 3
    assert out.filter("price = 1.0").count() == 3


def test_asof_auto_strategy_resolution(spark):
    """strategy="auto" (r13): the priced skew bound picks join only in
    the extreme-hot-key regime; balanced, key-clustered-balanced, and
    NULL-heavy inputs all keep union; no left_key short-circuits to
    union with zero jobs (join's group-by-all fallback would collapse
    duplicate left rows)."""
    from pyspark.sql import functions as F

    from lakeshack_spark.operators.relational import (
        asof_join,
        resolve_asof_strategy,
    )

    n = 20_000
    balanced = spark.range(n).select(
        F.col("id"), (F.col("id") % 100).cast("string").alias("k"),
        (F.col("id") % 997).alias("t"),
    )
    assert resolve_asof_strategy(balanced, "k", "t", "id") == "union"

    hot = spark.range(n).select(
        F.col("id"), F.lit("HOT").alias("k"), (F.col("id") % 997).alias("t")
    )
    assert resolve_asof_strategy(hot, "k", "t", "id") == "join"

    # key-clustered but balanced (each partition one local key): the
    # per-partition-head sampler must NOT mistake local purity for a
    # global hot key — the limit()-style first-partitions bias this
    # design dodges
    clustered = spark.range(n).repartitionByRange(8, F.col("id")).select(
        F.col("id"),
        (F.col("id") / 4000).cast("long").cast("string").alias("k"),
        (F.col("id") % 997).alias("t"),
    )
    assert resolve_asof_strategy(clustered, "k", "t", "id") == "union"

    # NULL-key probes bypass the window (dead-probe split), so a
    # NULL-dominated left must not read as hot
    nullheavy = spark.range(n).select(
        F.col("id"),
        F.when(F.col("id") % 10 == 0, (F.col("id") % 50).cast("string")).alias("k"),
        (F.col("id") % 997).alias("t"),
    )
    assert resolve_asof_strategy(nullheavy, "k", "t", "id") == "union"

    assert resolve_asof_strategy(hot, "k", "t", None) == "union"

    # empty left (or all-NULL probes): the sampler sees no live rows,
    # share reads 0.0, auto keeps the default
    assert resolve_asof_strategy(balanced.limit(0), "k", "t", "id") == "union"

    # multi-key `on`: the sampler groups by ALL key columns, so a hot
    # composite key reads hot even when each component alone is balanced
    # (k1, k2 each uniform over 2 values, but (0, 1) holds every row)
    composite_hot = spark.range(n).select(
        F.col("id"), F.lit(0).alias("k1"), F.lit(1).alias("k2"),
        (F.col("id") % 997).alias("t"),
    )
    assert resolve_asof_strategy(composite_hot, ["k1", "k2"], "t", "id") == "join"
    composite_bal = spark.range(n).select(
        F.col("id"), (F.col("id") % 7).alias("k1"), (F.col("id") % 11).alias("k2"),
        (F.col("id") % 997).alias("t"),
    )
    assert resolve_asof_strategy(composite_bal, ["k1", "k2"], "t", "id") == "union"

    # end-to-end dispatch: auto returns the same rows as the forced
    # strategies on a small planted case
    left = spark.createDataFrame(
        [(1, "A", 100), (2, "A", 200), (3, None, 150)], "id long, k string, t long"
    )
    right = spark.createDataFrame(
        [("A", 90, 1.0), ("A", 150, 2.0)], "k string, rt long, price double"
    )
    want = {(1, 1.0), (2, 2.0), (3, None)}
    for strategy in ("auto", "union", "join"):
        out = asof_join(
            left, right, on="k", left_time="t", right_time="rt",
            left_key="id", strategy=strategy,
        )
        assert {(r["id"], r["price"]) for r in out.collect()} == want, strategy


def _shuffle_records_written(df) -> int:
    """Sum of shuffleRecordsWritten over every exchange in the EXECUTED
    adaptive plan (collect first — the pre-execution plan has no
    metrics; CLAUDE.md AQE plan-reading rule)."""
    df.collect()
    totals: list[int] = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if "QueryStageExec" in name:
            walk(node.plan())
        if name == "ShuffleExchangeExec":
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "shuffleRecordsWritten":
                    totals.append(kv._2().value())
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return sum(totals)


def test_asof_union_dead_probes_skip_exchange(spark):
    """NULL-key / NULL-time probes short-circuit around the union
    strategy's shuffle+window (VERDICT_r12 item 3): the one exchange
    writes exactly |live probes| + |live quotes| records — the dead
    probes (answer known NULL) never enter it."""
    left = spark.createDataFrame(
        [
            (1, "A", 100),
            (2, "A", None),   # dead: NULL time
            (3, None, 100),   # dead: NULL key
            (4, None, None),  # dead: both
            (5, "B", 100),
        ],
        "id long, k string, t long",
    )
    right = spark.createDataFrame(
        [("A", 90, 1.0), ("B", 50, 2.0), (None, 10, 3.0), ("A", None, 4.0)],
        "k string, rt long, price double",
    )
    out = asof_join(left, right, on="k", left_time="t", right_time="rt")
    got = {r["id"]: r["price"] for r in out.collect()}
    assert got == {1: 1.0, 2: None, 3: None, 4: None, 5: 2.0}
    # 2 live probes + 2 live quotes; the 3 dead probes and 2 dead quotes
    # must not cross the shuffle
    assert _shuffle_records_written(out) == 4


# ----------------------------------------------------------- range join


@pytest.fixture(scope="module")
def points_intervals(spark):
    points = spark.createDataFrame(
        [(i, v) for i, v in enumerate([-25, -10, -1, 0, 3, 7, 49, 50, 51, 120])],
        "pid long, p long",
    )
    intervals = spark.createDataFrame(
        [
            (1, -30, -5),
            (2, -2, 4),
            (3, 0, 0),
            (4, 5, 60),
            (5, 45, 55),
            (6, 200, 300),  # matches nothing
        ],
        "iid long, lo long, hi long",
    )
    return points, intervals


def _exact(points, intervals, extra=None):
    from pyspark.sql import functions as F

    cond = (points.p >= intervals.lo) & (points.p <= intervals.hi)
    if extra is not None:
        cond = cond & extra(points, intervals)
    return {(r["pid"], r["iid"]) for r in points.join(intervals, cond).collect()}


@pytest.mark.parametrize("width", [1, 7, 100])
def test_range_join_matches_theta_join(spark, points_intervals, width):
    from lakeshack_spark.operators.relational import range_join

    points, intervals = points_intervals
    got = range_join(points, intervals, "p", "lo", "hi", width)
    assert {(r["pid"], r["iid"]) for r in got.collect()} == _exact(
        points, intervals
    )
    # exactly-once: no dedup hidden in the operator
    assert got.count() == len(_exact(points, intervals))


def test_range_join_float_domain(spark):
    from lakeshack_spark.operators.relational import range_join

    points = spark.createDataFrame(
        [(1, -0.5), (2, 0.0), (3, 2.25)], "pid long, p double"
    )
    intervals = spark.createDataFrame(
        [(1, -1.0, -0.25), (2, -0.1, 2.5)], "iid long, lo double, hi double"
    )
    got = {(r["pid"], r["iid"]) for r in
           range_join(points, intervals, "p", "lo", "hi", 0.5).collect()}
    assert got == {(1, 1), (2, 2), (3, 2)}


def test_range_join_with_equi_keys(spark):
    from lakeshack_spark.operators.relational import range_join

    points = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10)], "pid long, k string, p long"
    )
    intervals = spark.createDataFrame(
        [(1, "a", 0, 20), (2, "b", 15, 20)], "iid long, k string, lo long, hi long"
    )
    got = {(r["pid"], r["iid"]) for r in
           range_join(points, intervals, "p", "lo", "hi", 8, on=["k"]).collect()}
    assert got == {(1, 1)}  # pid 2 is in range of iid 1 but keys differ


def test_range_join_no_nested_loop(spark, points_intervals):
    from lakeshack_spark import plans
    from lakeshack_spark.operators.relational import range_join

    points, intervals = points_intervals
    plan = plans.explain_str(range_join(points, intervals, "p", "lo", "hi", 10))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_retention_cohorts(spark):
    """Cohort sizes at offset 0; later-day activity counted at its
    offset; duplicate observations collapse."""
    from lakeshack_spark.operators import relational as rel

    rows = [
        (1, 10), (1, 10), (1, 12),       # user 1: cohort 10, back at +2
        (2, 10), (2, 11),                # user 2: cohort 10, back at +1
        (3, 11),                         # user 3: cohort 11 only
    ]
    df = spark.createDataFrame(rows, "user_id long, day long")
    got = {
        (r.cohort_day, r.day_offset): r.n_users
        for r in rel.retention_cohorts(df).collect()
    }
    assert got == {
        (10, 0): 2,   # users 1 and 2
        (10, 1): 1,   # user 2
        (10, 2): 1,   # user 1
        (11, 0): 1,   # user 3
    }


def test_funnel_counts_ordering(spark):
    """Step i counts only events at-or-after the first completion of
    step i-1: out-of-order completions do not count."""
    from lakeshack_spark.operators import relational as rel

    rows = [
        # user 1: full ordered funnel a(1) b(2) c(3)
        (1, "a", 1), (1, "b", 2), (1, "c", 3),
        # user 2: b BEFORE a — never reaches step 2
        (2, "b", 1), (2, "a", 2),
        # user 3: a then b, c missing
        (3, "a", 5), (3, "b", 9),
        # user 4: a, b same timestamp (tie counts), c before b → no step 3
        (4, "c", 1), (4, "a", 4), (4, "b", 4),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts long")
    got = {
        r.step: (r.step_name, r.n_users)
        for r in rel.funnel_counts(df, ["a", "b", "c"]).collect()
    }
    assert got == {1: ("a", 4), 2: ("b", 3), 3: ("c", 1)}
    # reversed funnel: user 4 completes c(1)→b(4)→a(4) via the tie rule;
    # user 1's b(2) predates their first c(3) so they stop at step 1
    got2 = {
        r.step: r.n_users
        for r in rel.funnel_counts(df, ["c", "b", "a"]).collect()
    }
    assert got2 == {1: 2, 2: 1, 3: 1}
    # a step nobody reaches still emits a 0 row
    got3 = {
        r.step: r.n_users
        for r in rel.funnel_counts(df, ["a", "zzz"]).collect()
    }
    assert got3 == {1: 4, 2: 0}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rel.funnel_counts(df, [])


def test_scd2_merge_branches(spark):
    """All four merge branches: changed (close+append), unchanged (keep),
    new key (append), untouched (keep); closed history never changes."""
    from lakeshack_spark.operators import relational as rel

    current = spark.createDataFrame(
        [
            (1, "A", 0, 5),      # closed history row
            (1, "B", 5, None),   # open; update changes → close at 9 + new
            (2, "C", 0, None),   # open; update with same attr → keep
            (3, "D", 0, None),   # open; no update → keep
        ],
        "k long, attr string, valid_from long, valid_to long",
    )
    updates = spark.createDataFrame(
        [
            (1, "B2", 9),
            (1, "B1", 8),   # older duplicate in batch → latest (ts=9) wins
            (2, "C", 7),
            (4, "E", 6),    # brand-new key
        ],
        "k long, attr string, ts long",
    )
    got = {
        (r.k, r.attr, r.valid_from): r.valid_to
        for r in rel.scd2_merge(
            current, updates, "k", ["attr"], "ts"
        ).collect()
    }
    assert got == {
        (1, "A", 0): 5,      # history untouched
        (1, "B", 5): 9,      # closed at the update ts
        (1, "B2", 9): None,  # new open version (latest update won)
        (2, "C", 0): None,   # unchanged → kept open, no new version
        (3, "D", 0): None,   # untouched
        (4, "E", 6): None,   # new key
    }
    # idempotence: re-merging the same batch changes nothing
    merged = rel.scd2_merge(current, updates, "k", ["attr"], "ts")
    again = rel.scd2_merge(merged, updates, "k", ["attr"], "ts")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, again.collect())
    )


def test_asof_planted_grid_construction_closed_form(spark):
    """The planted as-of grid (tests/planted.py) at unit scale: every
    left row's backward match is the closed-form grid slot."""
    from pyspark.sql import functions as F

    from tests.planted import STEP, VAL_MULT, build_sides

    left, right = build_sides(spark, 500)
    out = asof_join(
        left, right, on="key", left_time="t", right_time="rt",
        left_key="id",
    )
    assert out.count() == 500
    bad = out.filter(
        F.expr(
            f"quote != key * {VAL_MULT} + (t div {STEP}) "
            f"or rt != (t div {STEP}) * {STEP}"
        )
    ).count()
    assert bad == 0


def test_sessionize_planted_construction_closed_form(spark):
    """The planted session blocks (tests/planted.py) at unit scale:
    session breaks exactly at block boundaries, session_id == 1 +
    (j div BLOCK)."""
    from pyspark.sql import functions as F

    from lakeshack_spark.operators.relational import sessionize
    from tests.planted import BLOCK, GAP_THRESHOLD, build_events

    ev = build_events(spark, 3 * 1000)  # 3 full users
    out = sessionize(ev, user_col="user_id", time_col="ts",
                     gap=GAP_THRESHOLD)
    assert out.count() == 3000
    assert out.filter(
        F.expr(f"session_id != 1 + (j div {BLOCK})")
    ).count() == 0
