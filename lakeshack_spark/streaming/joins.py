"""Stream-stream event-time joins.

The reference has no streaming surface at all; within this repo's
streaming tier (ingest, windows, watermark dedup, stateful sketches)
this module adds the remaining Structured Streaming primitive: joining
two UNBOUNDED streams on a key within an event-time interval — the
click→purchase attribution shape every event pipeline needs.

Why the interval matters at scale: a stream-stream equi-join without a
time bound must buffer EVERY past row of both sides forever (unbounded
state). Watermarks on both sides plus the join's time-range condition
let Spark prove when a buffered row can no longer match — state is
bounded to roughly ``watermark + max_gap`` of data per key, the same
eviction argument as windowed aggregation (Spark's stream-stream join
state-cleanup semantics derive the eviction threshold directly from the
range condition).

Like the windows module, the operator runs identically on batch frames
(``isStreaming`` gates only the watermark), so the batch twin in
queries.py (``interval_join_click_purchase``) gives it a DuckDB oracle
in the integer-µs domain, and the streaming test pins stream ≡ batch
row-for-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    max_gap: str,
    time_col: str = "ts_utc",
    watermark: str | None = "1 hour",
    right_suffix: str = "_r",
) -> DataFrame:
    """Inner-join ``right`` rows to ``left`` rows with the same
    ``key_col`` where the right event lands in the OPEN-LEFT interval
    ``(left_time, left_time + max_gap]`` — "a purchase strictly after
    the click, within the attribution window".

    Right-side columns (including its ``time_col``) come back with
    ``right_suffix`` appended; the key appears once. The right key is
    renamed like the rest before the join, so two filters of one frame
    join on distinct attributes, not on a trivially true ``k == k``.
    ``max_gap`` and ``watermark`` are Spark interval strings ("30
    minutes"). For streaming inputs the watermark is REQUIRED on both
    sides (Spark rejects an unbounded stream-stream inner join
    otherwise) and bounds the join state; on batch frames it is a no-op.
    """
    l = left
    r = right
    if watermark is not None:
        if l.isStreaming:
            l = l.withWatermark(time_col, watermark)
        if r.isStreaming:
            r = r.withWatermark(time_col, watermark)
    r = r.select([F.col(c).alias(c + right_suffix) for c in r.columns])
    rk = key_col + right_suffix
    rt = F.col(time_col + right_suffix)
    lt = F.col(time_col)
    cond = (
        (l[key_col] == F.col(rk))
        & (rt > lt)
        & (rt <= lt + F.expr(f"INTERVAL {max_gap}"))
    )
    return l.join(r, cond, "inner").drop(rk)
