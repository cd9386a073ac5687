"""Relational operators Spark lacks as single calls, composed from
DataFrame primitives: as-of join (equi-join + max_by/min_by pick) and
sessionization (window).

Both stay in built-in functions (no Python), so Catalyst keeps
pushdown/codegen and AQE handles skew. For streaming sessionization see
:mod:`lakeshack_spark.streaming`.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

#: strategy="auto" picks the join form only when ONE sampled key holds at
#: least this share of the live probe rows — the "EXTREMELY hot" regime
#: where the union form's un-splittable window key loses (measured 3× at
#: share 1.0) while everywhere below it the union form wins up to 14×
#: (``git show b7e8b89:tools/stress_asof.py``). The threshold sits well
#: below 1.0 but above any share a balanced keyspace can sample (two keys
#: cannot both exceed 0.5, so the sampled winner at >=0.5 is the true hot
#: key).
AUTO_HOT_SHARE = 0.5
_AUTO_HEAD_ROWS = 10_000  # per-partition head rows the sampler reads


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_time: str,
    right_time: str,
    left_key: str | None = None,
    right_tiebreak: str | None = None,
    direction: str = "backward",
    strategy: str = "union",
) -> DataFrame:
    """For each left row, attach the single right row with the same key(s)
    and the greatest ``right_time <= left_time`` (backward; forward = least
    ``right_time >= left_time``). ``right_tiebreak`` resolves equal right
    times deterministically.

    Two physical strategies, identical semantics:

    ``strategy="union"`` (default) — the merge-as-of as a carry-forward
    scan: union probes and quotes into one keyed stream, hash-shuffle ONCE
    on the key(s), sort each key's rows by time (quotes before probes at
    equal time, so the inclusive bound holds), and carry the last
    non-null quote forward with a running ``last(..., ignorenulls)``
    window. The intermediate is |left|+|right| rows — it never touches
    the |left|·(matches/row) join blow-up, so cost tracks the INPUTS, not
    the per-key quote history (measured 10×+ at 10M probes × 1M quotes
    vs the join form's 505M-row intermediate,
    ``git show b7e8b89:tools/stress_asof.py``).
    ``left_key`` is ignored: every probe row is carried through the scan,
    so no unique id is needed. The running frame streams with bounded
    memory (WindowExec running-frame accumulation, spill-backed).

    ``strategy="join"`` — equi-join on the key(s) + inequality filter +
    pick-one via ``max_by``/``min_by`` keyed on ``struct(right_time,
    tiebreak)``. The aggregation gets map-side partial combine: the
    equi-join leaves all matches for a left row co-located, so each
    partition pre-collapses to ONE candidate per left row before the
    shuffle — the shuffle carries |left| rows, but the join intermediate
    itself is |left|·(avg matches/row) and dominates when per-key quote
    history is deep. Prefer it only when one key is EXTREMELY hot (a
    broadcast-small right side keeps the join map-side and the partial
    combine parallel, while a window key cannot be split: measured on
    the 10M-probe single-key stress leg, join 10.0 s vs union 30.8 s —
    the exact inverse of the balanced-key decade, union 2.2 s vs join
    31.7 s; ``git show b7e8b89:tools/stress_asof.py``, ``hotkey`` leg).
    Requires ``left_key`` to be a unique left row id (omit it to group
    by all left columns instead): with a non-unique key the group mixes
    several left rows, and the any_value(left)/max_by(right) pair could
    come from DIFFERENT left rows — silently pairing a row with a match
    that violates its own time bound.

    ``strategy="auto"`` — picks between the two from a PRICED skew bound
    (:func:`resolve_asof_strategy`): one JVM-only sampling job over the
    first ``_AUTO_HEAD_ROWS`` live probe rows of each partition
    estimates the hottest key's share; join wins only at share ≥
    ``AUTO_HOT_SHARE``. Measured 0.5–0.8 s at 10M cached probes (one
    column-pruned codegen'd pass, no Python workers, one collected row)
    vs the ≥28 s the decision is worth there — and the gap widens with
    scale, the estimate being O(|left|·tiny-constant) against the join
    form's O(|left|·matches) blow-up. With no ``left_key`` the join form
    isn't semantics-preserving for duplicate left rows (its group-by-all
    fallback collapses them), so auto resolves to union without sampling.
    Use auto when skew is unknown at 100×-scale; the default stays
    ``"union"`` so small/known-shape callers never pay the extra job.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if strategy == "auto":
        strategy = resolve_asof_strategy(left, keys, left_time, left_key)
    if strategy not in ("union", "join"):
        raise ValueError(f"unknown asof strategy: {strategy!r}")
    if strategy == "union":
        return _asof_union(
            left, right, keys, left_time, right_time, right_tiebreak, direction
        )
    lt, rt = F.col(f"__l.{left_time}"), F.col(f"__r.{right_time}")
    cond = [F.col(f"__l.{k}") == F.col(f"__r.{k}") for k in keys]
    cond.append(rt <= lt if direction == "backward" else rt >= lt)
    joined = left.alias("__l").join(right.alias("__r"), cond, "left")
    ord_fields = [rt]
    if right_tiebreak:
        ord_fields.append(F.col(f"__r.{right_tiebreak}"))
    ordkey = F.struct(*ord_fields)
    right_struct = F.struct(*[F.col(f"__r.{c}").alias(c) for c in right.columns])
    pick = (
        F.max_by(right_struct, ordkey)
        if direction == "backward"
        else F.min_by(right_struct, ordkey)
    )
    # A left-join group is either all-matched or a single unmatched row
    # (NULL ordering struct), so the pick is deterministic given a unique
    # (right_time, tiebreak) — same contract as the old row_number form.
    if left_key:
        left_struct = F.struct(*[F.col(f"__l.{c}").alias(c) for c in left.columns])
        grouped = (
            joined.groupBy(F.col(f"__l.{left_key}"))
            .agg(
                F.any_value(left_struct).alias("__lrow"),
                pick.alias("__rrow"),
            )
        )
        lref, rref = "__lrow", "__rrow"
    else:
        grouped = joined.groupBy(
            *[F.col(f"__l.{c}").alias(c) for c in left.columns]
        ).agg(pick.alias("__rrow"))
        lref, rref = None, "__rrow"
    # Output: all left columns, plus right columns minus the join keys
    # (suffixed _right on residual name collisions).
    out_cols = [
        (F.col(f"{lref}.{c}") if lref else F.col(c)).alias(c) for c in left.columns
    ]
    for c in right.columns:
        if c in keys:
            continue
        alias = f"{c}_right" if c in left.columns else c
        out_cols.append(F.col(f"{rref}.{c}").alias(alias))
    return grouped.select(*out_cols)


def resolve_asof_strategy(
    left: DataFrame,
    on: str | Sequence[str],
    left_time: str,
    left_key: str | None,
) -> str:
    """The strategy="auto" pick: "join" iff the sampled hottest key holds
    ≥ ``AUTO_HOT_SHARE`` of the live probe rows (and ``left_key`` makes
    the join form semantics-preserving), else "union".

    Priced per CLAUDE.md's estimator rule (r9-2): the bound is ONE
    JVM-side job (:func:`_sampled_hot_key_share` — per-partition heads,
    partial-combine aggregation, one row collected), never a full eager
    pass of the operator's own work, and the zero-cost gate (no
    ``left_key`` → union) runs first.
    """
    if left_key is None:
        return "union"
    keys = [on] if isinstance(on, str) else list(on)
    share = _sampled_hot_key_share(left, keys, left_time)
    return "join" if share >= AUTO_HOT_SHARE else "union"


def _sampled_hot_key_share(
    left: DataFrame, keys: list[str], left_time: str
) -> float:
    """Bounded estimate of the hottest key's share of live probe rows.

    One JVM-only job: the first ``_AUTO_HEAD_ROWS`` (non-null-key,
    non-null-time) probe rows of EACH partition — selected by the
    lower-33-bit within-partition counter of
    ``monotonically_increasing_id`` (the filter sits above the null
    filters and, being nondeterministic, is never pushed past them) —
    feed a two-level aggregation (count per key, then max/sum) whose
    partial combine keeps the shuffle at one row per (task, sampled
    key); the driver collects ONE row. Per-partition heads (not a
    global ``limit``, which collapses to whichever partitions answer
    first) dodge the sorted-data bias: key-clustered-but-balanced
    inputs contribute a DIFFERENT local key per partition, so the
    global share stays ~1/partitions and auto correctly keeps union; a
    truly hot key (share ≥ 0.5) by pigeonhole dominates the heads of
    the partitions that hold it. NULL key/time probes are excluded —
    they bypass the window entirely (the ``_asof_union`` dead-probe
    split), so they cannot make its key hot.

    The first cut of this sampler read one Arrow batch per partition
    via ``mapInPandas`` with an early ``return`` — but the JVM
    PythonRunner writer thread drains the WHOLE partition through
    Arrow regardless of Python-side consumption, so the "bounded" read
    cost scaled with |left| (measured 2.45 s at 10M cached rows vs
    0.5–0.8 s for this all-JVM form, which pays only a column-pruned
    codegen'd scan)."""
    row = _hot_key_share_plan(left, keys, left_time).first()
    if row is None or not row["__tot"]:
        return 0.0
    return row["__mx"] / row["__tot"]


def _hot_key_share_plan(
    left: DataFrame, keys: list[str], left_time: str
) -> DataFrame:
    """The sampler's lazy one-row plan, split out so tests can pin its
    shape: all-JVM (no Python eval nodes) — the no-CSE/PythonRunner
    traps must never creep back into a cost ESTIMATOR."""
    live = left
    for c in [left_time, *keys]:
        live = live.filter(F.col(c).isNotNull())
    rid = "__asof_auto_rid"  # not a plausible user key name
    head = (
        live.select(*[F.col(k) for k in keys])
        .withColumn(
            rid,
            F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1)),
        )
        .filter(F.col(rid) < _AUTO_HEAD_ROWS)
        .drop(rid)
    )
    return (
        head.groupBy(*[F.col(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n").alias("__mx"), F.sum("__n").alias("__tot"))
    )


def _asof_union(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_time: str,
    right_time: str,
    right_tiebreak: str | None,
    direction: str,
) -> DataFrame:
    """Carry-forward as-of (see asof_join strategy="union").

    Correctness bookkeeping the sort order encodes:
    - quotes sort BEFORE probes at equal time (``__p`` 0 < 1), so the
      inclusive bound (rt <= t backward / rt >= t forward) holds;
    - among equal-time quotes the LAST one in sort order must be the
      winner the join form's max_by/min_by picks: tiebreak asc for
      backward (max wins), desc for forward (min wins);
    - quotes with a NULL time or a NULL key can never satisfy the join
      form's equi+inequality predicate and are filtered up front;
    - probes with a NULL key or NULL time can likewise never match, and
      they SHORT-CIRCUIT around the shuffle+window entirely: the dead
      branch attaches a literal NULL match and unions back above the
      window (VERDICT_r12 item 3). Without the split every NULL-key
      probe lands in the window's single NULL partition — on dirty real
      data a self-inflicted hot partition sorting rows whose answer is
      known. The split re-traverses ``left`` with complementary filters;
      on file scans the dead branch is ~free (IsNull pushes down and
      null-count row-group stats skip clean files).
    """
    from pyspark.sql import types as T

    backward = direction == "backward"
    kcols = [f"__k{i}" for i in range(len(keys))]

    dead_pred = F.col(left_time).isNull()
    for k in keys:
        dead_pred = dead_pred | F.col(k).isNull()
    live = left.filter(~dead_pred)

    quotes = right
    for c in [right_time, *keys]:
        quotes = quotes.filter(F.col(c).isNotNull())
    ltype = T.StructType(left.schema.fields)
    rtype = T.StructType(right.schema.fields)
    tb_type = (
        right.schema[right_tiebreak].dataType if right_tiebreak else T.IntegerType()
    )
    qsel = quotes.select(
        *[F.col(k).alias(a) for k, a in zip(keys, kcols)],
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__p"),
        (
            F.col(right_tiebreak) if right_tiebreak else F.lit(None).cast(tb_type)
        ).alias("__tb"),
        F.lit(None).cast(ltype).alias("__lrow"),
        F.struct(*[F.col(c).alias(c) for c in right.columns]).alias("__rrow"),
    )
    psel = live.select(
        *[F.col(k).alias(a) for k, a in zip(keys, kcols)],
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__p"),
        F.lit(None).cast(tb_type).alias("__tb"),
        F.struct(*[F.col(c).alias(c) for c in left.columns]).alias("__lrow"),
        F.lit(None).cast(rtype).alias("__rrow"),
    )
    if backward:
        order = [F.col("__t").asc_nulls_first(), F.col("__p").asc(),
                 F.col("__tb").asc()]
    else:
        order = [F.col("__t").desc_nulls_first(), F.col("__p").asc(),
                 F.col("__tb").desc()]
    w = (
        Window.partitionBy(*kcols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        qsel.unionByName(psel)
        .withColumn("__match", F.last("__rrow", ignorenulls=True).over(w))
        .filter(F.col("__p") == 1)
    )
    out_cols = [F.col(f"__lrow.{c}").alias(c) for c in left.columns]
    dead_cols = [F.col(c) for c in left.columns]
    for c in right.columns:
        if c in keys:
            continue
        alias = f"{c}_right" if c in left.columns else c
        out_cols.append(F.col(f"__match.{c}").alias(alias))
        dead_cols.append(
            F.lit(None).cast(right.schema[c].dataType).alias(alias)
        )
    dead = left.filter(dead_pred).select(*dead_cols)
    return carried.select(*out_cols).unionByName(dead)


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_lo: str,
    right_hi: str,
    bucket_width: int | float,
    on: Sequence[str] = (),
) -> DataFrame:
    """Point-in-interval join (``right_lo <= left_point <= right_hi``,
    plus optional equi-keys ``on``) as a BUCKETED equi-join.

    A naive inequality join compiles to a broadcast-nested-loop /
    cartesian product — O(|L|·|R|) and undriveable at scale. Binning the
    number line into ``bucket_width`` buckets turns it into: left row →
    its point's bucket; right interval → explode the buckets it covers;
    hash equi-join on (bucket, *on); exact interval filter after. Each
    matching pair meets in exactly ONE bucket (the one containing the
    point), so no dedup is needed and the join output is exact.

    Pick ``bucket_width`` near the typical interval length: cost is
    |R| · (interval/bucket_width) exploded rows vs. per-bucket join
    fan-in — same tuning as Databricks'/Delta's range-join bin hints.
    Bucketing uses integer ``div`` for integral columns (nanosecond
    epochs overflow double's 2^53 under ``floor(x / w)``) and ``floor``
    for floating ones; both are monotone, which is all correctness needs.
    """
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    from pyspark.sql import types as T

    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    # One bucketing function for BOTH sides: `div` truncates while `floor`
    # rounds down — mixing them across sides would mis-bucket negatives.
    all_integral = all(
        isinstance(d, integral)
        for d in (
            left.schema[left_point].dataType,
            right.schema[right_lo].dataType,
            right.schema[right_hi].dataType,
        )
    )

    def bucket(colname: str, side: str) -> Column:
        if all_integral and float(bucket_width).is_integer():
            return F.expr(f"{side}.{colname} div {int(bucket_width)}")
        return F.floor(F.col(f"{side}.{colname}") / F.lit(float(bucket_width))).cast(
            "long"
        )

    l = left.alias("__rjl")
    r = right.alias("__rjr")
    lb = bucket(left_point, "__rjl").alias("__bucket")
    rb_seq = F.sequence(bucket(right_lo, "__rjr"), bucket(right_hi, "__rjr"))
    lsel = l.select(F.col("__rjl.*"), lb)
    # Right columns that collide with left ones (other than the equi-keys,
    # which the name-based join merges) get an _right suffix, same rule as
    # asof_join — without it the interval filter or any downstream select
    # of a shared name is ambiguous.
    taken = set(left.columns)
    renames = {
        c: f"{c}_right" for c in right.columns if c in taken and c not in on
    }
    rcols = [
        F.col(f"__rjr.{c}").alias(renames.get(c, c))
        for c in right.columns
        if c not in on
    ]
    rkey_cols = [F.col(f"__rjr.{c}").alias(c) for c in on]
    rsel = r.select(*rkey_cols, *rcols, F.explode(rb_seq).alias("__bucket"))
    keys = ["__bucket", *on]
    joined = lsel.join(rsel, keys, "inner").drop("__bucket")
    lo_name = renames.get(right_lo, right_lo)
    hi_name = renames.get(right_hi, right_hi)
    return joined.filter(
        (F.col(left_point) >= F.col(lo_name))
        & (F.col(left_point) <= F.col(hi_name))
    )


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    time_col: str = "ts",
    gap: int | Column = 30 * 60,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Classic gap-based sessionization: a new session starts when the gap
    to the previous event of the same user exceeds ``gap`` (same units as
    ``time_col``; pass nanoseconds for the events table's raw ``ts``).

    Adds ``session_id`` (1-based per user). One shuffle on the user key;
    the windows reuse that partitioning.
    """
    order = [F.col(time_col).asc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(user_col).orderBy(*order)
    prev = F.lag(F.col(time_col)).over(w)
    new_session = F.when(
        prev.isNull() | ((F.col(time_col) - prev) > gap), F.lit(1)
    ).otherwise(F.lit(0))
    return events.withColumn(
        "session_id",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def retention_cohorts(
    df: DataFrame, user_col: str = "user_id", day_col: str = "day"
) -> DataFrame:
    """Classic cohort-retention rollup: group users by their FIRST active
    day (the cohort), then count how many of each cohort are active
    again ``k`` days later — the activity matrix behind every retention
    curve.

    Input: one row per (user, integer day) activity observation (dupes
    fine — de-duplicated here). Output: ``(cohort_day, day_offset,
    n_users)`` with ``day_offset = day - cohort_day`` (0 = the cohort's
    own size on its first day; n_users at offset 0 is the cohort size
    because the first active day is by definition active).

    Scale shape: one distinct on (user, day), one user-keyed min
    (map-side combinable), one user-keyed join, one (cohort, offset)
    aggregation — all hash-partitioned on high-cardinality keys, no
    window, no driver data. Day arithmetic stays in the integer-day
    domain (derive days by integer-dividing epoch ns/µs — the events
    timestamp discipline)."""
    activity = df.select(F.col(user_col), F.col(day_col)).distinct()
    cohorts = activity.groupBy(user_col).agg(
        F.min(day_col).alias("cohort_day")
    )
    return (
        activity.join(cohorts, user_col)
        .groupBy(
            "cohort_day",
            (F.col(day_col) - F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


def funnel_counts(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered funnel completion: how many users performed ``steps`` in
    sequence — step i counts only events at-or-after the user's first
    completion of step i-1 (the standard product-analytics funnel, e.g.
    view → click → purchase).

    Output: ``(step, step_name, n_users)``, one row per step (rows for
    steps nobody reached still appear, with ``n_users = 0``), counts
    non-increasing by construction.

    Declarative k-step build, not a per-user fold: each step is one
    map-side type filter, an equi-join on the user key against the
    previous step's first-completion times, and a user-keyed MIN (all
    hash-partitioned, map-side combinable; the event scan is reused k
    times but each pass reads one type's partition-pruned slice if the
    table is type-partitioned). Timestamps are compared in their raw
    (integer) domain and never leave the query — the events discipline.
    Ties (same-timestamp consecutive steps) count as completing, the
    at-or-after convention."""
    if not steps:
        raise ValueError("steps must be non-empty")
    ev = df.select(
        F.col(user_col).alias("__u"),
        F.col(type_col).alias("__t"),
        F.col(ts_col).alias("__ts"),
    )
    prev = None  # DataFrame (__u, __first) of users who reached prev step
    reached = []
    for i, step in enumerate(steps):
        cur = ev.filter(F.col("__t") == step)
        if prev is not None:
            cur = cur.join(prev, "__u").filter(
                F.col("__ts") >= F.col("__first")
            )
        cur = cur.groupBy("__u").agg(F.min("__ts").alias("__first"))
        reached.append(cur)
        prev = cur
    counted = None
    for i, (step, cur) in enumerate(zip(steps, reached)):
        row = cur.agg(
            F.lit(i + 1).cast("int").alias("step"),
            F.lit(step).alias("step_name"),
            F.count("*").alias("n_users"),
        )
        counted = row if counted is None else counted.unionByName(row)
    return counted


def scd2_merge(
    current: DataFrame,
    updates: DataFrame,
    key_col: str,
    attr_cols: Sequence[str],
    ts_col: str = "ts",
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """Slowly-changing-dimension TYPE-2 merge: apply a batch of updates
    to a versioned dimension, closing the open version of any key whose
    tracked attributes changed and appending the new open version —
    the MERGE INTO pattern of lakehouse table maintenance, as a pure
    batch-to-batch transform (write the result with the clustered
    writer; on Delta/Iceberg hand the same frame to their MERGE).

    ``current`` rows carry ``attr_cols`` plus ``from_col``/``to_col``
    (NULL ``to_col`` = the open version). ``updates`` rows carry
    ``attr_cols`` plus ``ts_col`` (the effective-from stamp, an integer
    domain — e.g. epoch days); multiple updates per key in one batch
    collapse to the latest by (ts, attrs) — a deterministic total order.

    Branches (all from ONE full-outer join of open rows vs latest
    updates, plus the untouched closed history):
    - changed attrs → old open row closed at the update ts + new open row
    - unchanged attrs (null-safe struct compare) → old open row kept
    - brand-new key → new open row
    - no update → old open row kept

    Scale shape: one key-partitioned dedup of the update batch, one
    key-keyed full-outer join against ONLY the open slice (the closed
    history never shuffles), map-side branch selection. Idempotent:
    re-merging the same batch changes nothing (attrs compare equal)."""
    attrs = list(attr_cols)
    out_cols = [key_col, *attrs, from_col, to_col]

    latest = updates.groupBy(key_col).agg(
        F.max_by(
            F.struct(*[F.col(a) for a in attrs], F.col(ts_col).alias("__ts")),
            F.struct(F.col(ts_col), *[F.col(a) for a in attrs]),
        ).alias("__u")
    ).select(
        F.col(key_col).alias("__k"),
        *[F.col(f"__u.{a}").alias(f"__new_{a}") for a in attrs],
        F.col("__u.__ts").alias("__new_ts"),
    )

    history = current.filter(F.col(to_col).isNotNull()).select(*out_cols)
    open_rows = current.filter(F.col(to_col).isNull())

    j = open_rows.join(latest, open_rows[key_col] == latest["__k"], "full_outer")
    has_old = F.col(from_col).isNotNull() | F.col(key_col).isNotNull()
    has_upd = F.col("__k").isNotNull()
    changed = has_upd & (
        ~F.struct(*[F.col(a) for a in attrs]).eqNullSafe(
            F.struct(*[F.col(f"__new_{a}").alias(a) for a in attrs])
        )
        | ~has_old
    )

    kept_open = j.filter(has_old & ~changed).select(*out_cols)
    closed_now = j.filter(has_old & changed).select(
        F.col(key_col),
        *[F.col(a) for a in attrs],
        F.col(from_col),
        F.col("__new_ts").alias(to_col),
    )
    new_open = j.filter(changed).select(
        F.coalesce(F.col(key_col), F.col("__k")).alias(key_col),
        *[F.col(f"__new_{a}").alias(a) for a in attrs],
        F.col("__new_ts").alias(from_col),
        F.lit(None).cast(open_rows.schema[to_col].dataType).alias(to_col),
    )
    return (
        history.unionByName(kept_open)
        .unionByName(closed_now)
        .unionByName(new_open)
    )
