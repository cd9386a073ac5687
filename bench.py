"""Benchmark harness: runs the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is materialized through the noop sink (full execution, no
driver-side collection cost). One uncounted warm-up query absorbs JVM/
codegen warm-up.

Self-defense against the shared box (VERDICT_r8 item 1): the r8 official
record was taken during another suite's run (sentinel ratio 1.71) and
inverted the round-over-round sign vs the quiet-box record. Every timed
section now runs under a contention guard — pure-Python spin sentinels
sampled around (and, for the long headline section, inside) the section;
if the section's worst sample exceeds SENTINEL_RATIO_MAX × the quietest
sample seen this run, the WHOLE section re-runs (≤ SECTION_RETRIES) and
the quietest attempt is the one recorded. A section still contended
after retries is flagged (`contended_after_retries`), never silently
recorded as clean. The OS page cache is equalized before the main leg
(every parquet byte read once) so the main-vs-replay comparison can't be
biased by the replay running second on a cache the main leg warmed.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "shack_pruned_lookup",
    "scan_filter_project",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "q13_order_count_distribution",
    "q18_large_orders",
    "asof_join_events_orders",
    "window_top2_per_customer",
    "events_hourly_stats",
    "sessionize_users",
    "dedup_exact_docs",
    "minhash_dedup_verified",
    "ngram_jaccard_pairs",
    "top_terms",
    "cosine_topk_bruteforce",
    "ivf_topk_full_probe",
]


#: Pure-Python spin work sized to ~50 ms on a quiet box. Timed at fixed
#: points through the run (VERDICT_r7 item 4): the work is constant, so
#: any inflation of its wall time is EXTERNAL contention (another suite
#: on the shared box), making a contended record self-labeling —
#: bench_detail's `contention` block carries the samples and max/min
#: ratio. Runs between Spark jobs (the JVM is idle), so it measures the
#: box, not the bench.
SENTINEL_ITERS = 2_000_000

#: A section whose worst sentinel sample exceeds this multiple of the
#: run's quietest sample is considered contended and re-run
#: (VERDICT_r8 item 1). 1.3 splits the observed regimes: quiet-box runs
#: sit at 1.0–1.3 (scheduler noise), contended runs at 1.5–1.7+.
SENTINEL_RATIO_MAX = 1.3

#: Bounded re-runs per contended section. The quietest attempt (lowest
#: section ratio) is the one recorded either way.
SECTION_RETRIES = 2

#: Soft regression floor for the streaming CDC-merge throughput key
#: (VERDICT_r8 item 6; first measurements r8: 23.8k official / 28.9k
#: quiet rows/s at sf0.1). Applies at sf0.1 only; a miss on a section
#: still contended after retries reports "contended", not false, so the
#: flag never blames the code for the box.
STREAM_ROWS_PER_SEC_FLOOR = 15_000.0

#: Adjudication tolerance: best(official, requiet) within this multiple
#: of the same-run replay reads as box noise; beyond it, a flagged
#: regression. 1.3 = the repo's documented run-to-run band on these
#: overhead-dominated keys (SURVEY §6 / CLAUDE.md) — a 1.1× cut
#: measurably mislabeled an untouched operator (official 1.555 vs
#: replay 1.40, requiet hitting a late noisy patch, quiet-box record
#: 1.65).
ADJ_NOISE_BAND = 1.3

#: Relative epsilon on the band boundary (ADVICE r10): 1.3 × 1.40 is
#: 1.8199…97 in binary floating point, so an official sitting exactly on
#: the documented ±30% edge (1.82) would flag 'regression' on a rounding
#: artifact. The epsilon makes the boundary inclusive as documented.
ADJ_BAND_EPS = 1e-9


def adjudication_verdict(
    official: float,
    replay,
    requiet_runs: list[float] | None,
    higher_is_better: bool = False,
) -> str:
    """Noise-vs-regression verdict for one adjudicated bench key.

    ``ok`` — official didn't lose to the replay (or ``no_replay`` when
    there is nothing to compare). Otherwise the best evidence for the
    current code is the best of (official, re-measures): within the
    ±ADJ_NOISE_BAND band of the replay it is ``noise``; beyond that,
    ``regression``. ``higher_is_better`` inverts the comparison for
    throughput keys (stream rows/s — VERDICT_r10 item 1), where losing
    means official BELOW replay and the band divides instead of
    multiplying. Pure so tests/test_bench_guard.py can pin the band
    semantics without running Spark."""
    if not isinstance(replay, (int, float)):
        return "no_replay"
    band = ADJ_NOISE_BAND * (1 + ADJ_BAND_EPS)
    if higher_is_better:
        if official >= replay:
            return "ok"
        best = max([official] + list(requiet_runs or []))
        return "noise" if best * band >= replay else "regression"
    if official <= replay:
        return "ok"
    best = min([official] + list(requiet_runs or []))
    return "noise" if best <= replay * band else "regression"


def select_headline_adjudications(
    timings: dict,
    steady: dict,
    replay_queries: dict,
    cap: int = 4,
    replay_steady: dict | None = None,
) -> list[str]:
    """Headline keys whose official run loses to the same-run replay
    beyond the noise band (VERDICT_r10 item 3: ivf_topk_full_probe's
    median ran 1.6× its own first run with no on-record adjudication).

    A key is selected only when its best-of-3 official (min of first and
    steady) still loses beyond ADJ_NOISE_BAND against the replay's own
    best evidence: min of its first-run and steady numbers when the
    replay's full record is available (ADVICE r11 — best-vs-first was
    asymmetric, so regressions smaller than the per-query codegen margin
    could never be selected), falling back to first-run-only for old
    replays whose compact line is all we could parse. Worst ratio first,
    capped so a run-wide noisy box can't triple the bench; pure for
    tests."""
    losses = []
    for name, first in timings.items():
        reps = [
            v
            for v in (
                replay_queries.get(name),
                (replay_steady or {}).get(name),
            )
            if isinstance(v, (int, float)) and v > 0
        ]
        if not reps:
            continue
        rep = min(reps)
        best = min(first, steady.get(name, first))
        if best > rep * ADJ_NOISE_BAND * (1 + ADJ_BAND_EPS):
            losses.append((best / rep, name))
    return [n for _, n in sorted(losses, reverse=True)[:cap]]


def _spin_once() -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(SENTINEL_ITERS):
        x += i & 7
    assert x >= 0
    return (time.perf_counter() - t0) * 1000.0


def spin_sentinel() -> float:
    """Min of two consecutive spins: EXTERNAL contention (a concurrent
    suite) inflates both, while a one-off scheduler hiccup or GC pause
    inflates only one — single-spin samples ranged 1.0–1.6× on a quiet
    box, which at SENTINEL_RATIO_MAX=1.3 caused spurious section
    retries. Min-of-two keeps the sustained-contention signal and drops
    the single-sample noise."""
    return round(min(_spin_once(), _spin_once()), 2)


class ContentionGuard:
    """Per-section contention guard (VERDICT_r8 item 1), sentinel
    injectable so the retry/flag semantics are unit-testable without a
    90 ms spin per sample (tests/test_bench_guard.py).

    ``run(name, fn)`` samples the sentinel before/after ``fn`` (fn may
    add mid-section samples via ``self.sample``); if the MEDIAN of the
    section's samples exceeds SENTINEL_RATIO_MAX × the run's quietest
    sample, the section re-runs (≤ SECTION_RETRIES) and the QUIETEST
    attempt's result is recorded. Median, not max: a single sample
    riding a post-section GC pulse (the pipeline section reliably
    inflated its closing sample this way) must not flag the section,
    while a concurrent suite — the real hazard, sustained over minutes
    — inflates every sample in the window and still does. A section
    that never ran quiet is flagged in ``section_meta``/
    ``contended_after_retries()``, not laundered."""

    #: Run-wide cap on EXTRA attempts: a box contended for the whole run
    #: would otherwise triple every section's cost (8 sections × 2
    #: retries) and risk the driver's bench timeout — past the budget,
    #: sections run once and rely on the finalize() re-label.
    MAX_TOTAL_RETRIES = 5

    def __init__(self, sentinel_fn=spin_sentinel, settle_s: float = 0.2):
        self._sentinel_fn = sentinel_fn
        self._settle_s = settle_s
        self._retries_spent = 0
        self.sentinels: list[float] = []
        self.section_meta: dict[str, dict] = {}

    def sample(self) -> float:
        if self._settle_s:
            time.sleep(self._settle_s)  # let the JVM settle (post-GC)
        v = self._sentinel_fn()
        self.sentinels.append(v)
        return v

    def run(self, name: str, fn):
        from statistics import median

        attempts: list[float] = []
        best = None
        for attempt in range(1 + SECTION_RETRIES):
            i0 = len(self.sentinels)
            self.sample()
            res = fn()
            self.sample()
            mid = median(self.sentinels[i0:])
            ratio = round(mid / max(min(self.sentinels), 1e-9), 2)
            attempts.append(ratio)
            if best is None or ratio < best[1]:
                best = (res, ratio, mid)
            if ratio <= SENTINEL_RATIO_MAX:
                break
            if attempt == SECTION_RETRIES:
                break  # per-section attempts exhausted
            if self._retries_spent >= self.MAX_TOTAL_RETRIES:
                break  # run-wide budget exhausted: record best, flagged
            self._retries_spent += 1  # one unit per EXTRA attempt taken
        self.section_meta[name] = {
            "attempt_ratios": attempts,
            "used_ratio": best[1],
            "used_median_ms": round(best[2], 2),
            "contended": best[1] > SENTINEL_RATIO_MAX,
        }
        return best[0]

    def finalize(self) -> None:
        """Re-label every section against the FINAL run-wide quietest
        sample. The retry decision uses the quietest sample seen SO FAR
        — if the run STARTS contended, early sections compare against an
        inflated baseline, pass at ratio ≈ 1, and would be recorded as
        quiet even though a later (quiet) sample proves they were not.
        Retries can't be taken retroactively, but the honesty flag can:
        recompute each recorded attempt's median against the final
        minimum and re-flag. Idempotent."""
        floor = max(min(self.sentinels), 1e-9)
        for meta in self.section_meta.values():
            ratio = round(meta["used_median_ms"] / floor, 2)
            meta["used_ratio"] = ratio
            meta["contended"] = ratio > SENTINEL_RATIO_MAX

    def contended_after_retries(self) -> list[str]:
        return sorted(
            n for n, m in self.section_meta.items() if m["contended"]
        )

    def used_ratio(self) -> float:
        return round(
            max(m["used_ratio"] for m in self.section_meta.values()), 2
        )


def stream_floor_status(
    rows_per_sec: float, sf_val, contended: bool
) -> bool | str:
    """Soft floor verdict for the streaming key (VERDICT_r8 item 6):
    below the floor on a QUIET section is a real regression; on a
    still-contended section the number can't be trusted either way, so
    report "contended". The floor is calibrated at sf0.1 only."""
    if sf_val != 0.1:
        return True
    if rows_per_sec >= STREAM_ROWS_PER_SEC_FLOOR:
        return True
    return "contended" if contended else False


def warm_page_cache(sf_dir: str) -> float:
    """Read every parquet byte under sf_dir once so the OS page cache is
    equally warm for the main leg and the (second-running) replay leg —
    without this the replay's first-run numbers ride a cache the main
    leg paid to populate (VERDICT_r8 item 1). Returns MB touched."""
    total = 0
    for root, _dirs, files in os.walk(sf_dir):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            path = os.path.join(root, fn)
            try:
                with open(path, "rb") as fh:
                    while True:
                        chunk = fh.read(1 << 22)
                        if not chunk:
                            break
                        total += len(chunk)
            except OSError:
                continue
    return round(total / (1 << 20), 1)


def prewarm_python_workers(spark) -> None:
    """One no-op mapInPandas over defaultParallelism partitions before
    timing starts: spins up the reusable Python worker pool and imports
    pandas/numpy inside each worker, so the first Arrow-batched operator
    (minhash banding was paying ~2 s of this in its first run —
    VERDICT_r8 item 2) measures the operator, not interpreter spin-up.
    Legitimate: real clusters run warm executors."""

    def _warm(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        for b in batches:
            yield b

    par = spark.sparkContext.defaultParallelism
    (
        spark.range(par * 4, numPartitions=par)
        .mapInPandas(_warm, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from lakeshack_spark.session import get_spark
    from lakeshack_spark.queries import queries

    # ---- same-data code replay (runs FIRST, own subprocess/JVM) ----------
    # r4 lesson: the driver regenerates testdata between rounds, so raw
    # round-over-round deltas conflate code and data epoch — re-running
    # the PREVIOUS round's bench.py (the driver's last `round N:`
    # snapshot commit) on TODAY's files isolates the code delta. The
    # replay runs BEFORE the main leg since r10 so the main leg can
    # adjudicate its noise-band keys against the replay's numbers while
    # its session and corpora are still alive (VERDICT r9 #2); only one
    # JVM lives at a time either way, and page-cache equalization keeps
    # the order swap fair (each leg warms the cache itself before
    # timing). The CURRENT guard's sentinel is sampled at the EDGES of
    # the replay window (VERDICT r9 #7): the replayed old bench's own
    # guard lacks finalize(), so a window contended THROUGHOUT
    # self-reports quiet — edge samples compared against the whole
    # run's quietest machine-flag exactly that (the hazard is another
    # suite sustained over many minutes; it doesn't start and stop
    # precisely inside the replay). Sampling DURING the window would
    # measure the replayed bench's own 32 busy cores, not external
    # contention, so edges it is. SPARK_GRAFT_REPLAY=0 skips
    # (iterating locally); failures are recorded, not fatal.
    replay_block: dict | None = None
    replay_samples: list[float] = []
    if os.environ.get("SPARK_GRAFT_REPLAY", "1") != "0":
        _spin_once()  # throwaway warm spin (ADVICE r10): the first spins
        # of a cold process run slow (no JIT here, but allocator/cache
        # warm-up is real) and would inflate the pre-replay edge samples
        replay_samples += [spin_sentinel(), spin_sentinel()]
        try:
            from tools.bench_replay import replay

            # 1400s, not 900: the replayed bench (r9+) carries the
            # contention guard — on a contended box its sections retry
            # (bounded) and the replay leg slows exactly when the
            # comparison matters most; a timeout would drop it.
            replay_block = replay(timeout=1400)
        except Exception as exc:  # the replay must never sink the bench
            replay_block = {"error": str(exc)[:2000]}
        time.sleep(1.0)  # let the replayed JVM's teardown settle
        replay_samples += [spin_sentinel(), spin_sentinel()]

    spark = get_spark(app_name="lakeshack_bench")
    parallelism = parallelism_fields(spark.sparkContext)
    qs = queries()

    cache_mb = warm_page_cache(sf_dir)
    prewarm_python_workers(spark)

    def run(name: str) -> float:
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # Warm-up, uncounted: JIT/codegen across the main plan shapes (scan,
    # agg, join), so timed numbers reflect steady-state engine throughput
    # rather than first-query JVM warm-up.
    for wq in ("topk_orders", "q1_pricing_summary", "q3_shipping_priority"):
        run(wq)
    # Metastore ingest is write-path work, not query latency: build the
    # stats table outside the timed window (idempotent).
    from lakeshack_spark.queries import _orders_shack

    _orders_shack(spark, sf_dir)

    # ---- contention guard ------------------------------------------------
    guard = ContentionGuard()
    guard.sample()
    guard.sample()  # two baseline samples before any timed section
    sentinels = guard.sentinels
    section_meta = guard.section_meta
    sample = guard.sample
    run_guarded = guard.run

    # ---- headline section ------------------------------------------------
    # Three runs per query: the FIRST run stays the headline (comparable
    # to earlier rounds' single-shot methodology and honest about
    # per-query plan/codegen cost); the MEDIAN and MIN of all three are
    # reported so the shared box's ±30% run-to-run swings can't masquerade
    # as a regression (one outlier run no longer moves the robust number).

    def headline_section():
        timings: dict[str, float] = {}
        medians: dict[str, float] = {}
        steady: dict[str, float] = {}
        for idx, name in enumerate(HEADLINE):
            runs = [run(name) for _ in range(3)]
            ordered = sorted(runs)
            timings[name] = round(runs[0], 3)  # chronological first run
            medians[name] = round(ordered[1], 3)
            steady[name] = round(ordered[0], 3)
            if idx % 4 == 3:  # mid-section samples: catch contention
                sample()  # that starts and ends inside the section
        return timings, medians, steady

    timings, medians, steady = run_guarded("headline", headline_section)

    # ---- flagship pipeline -------------------------------------------------
    # Flagship composition, tracked separately so the headline total stays
    # comparable round-over-round: the full corpus-cleaning pipeline
    # (filters -> PII mask -> exact dedup -> MinHash near-dedup).
    from lakeshack_spark.operators.pipeline import clean_corpus
    from lakeshack_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")

    def run_pipeline() -> float:
        t0 = time.time()
        out = clean_corpus(docs)
        out.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        out.unpersist()  # release the result handle (cache contract)
        return dt

    # NOTE on round-over-round comparison: through r3 the steady number
    # measured a RE-RUN REUSING the caches clean_corpus leaked (3.3 s at
    # sf0.1) — the leak ADVICE_r3 flagged. clean_corpus now releases its
    # intermediates and the bench releases the result, so steady measures
    # an honest fresh run (~= first run). Expect a step change at r4.
    p_first, p_second = run_guarded(
        "pipeline", lambda: (run_pipeline(), run_pipeline())
    )
    pipeline_sec = round(p_first, 3)
    pipeline_steady = round(min(p_first, p_second), 3)

    # ---- drop-set (100 TB shape) -------------------------------------------
    # Drop-set near-dedup against a corpus with a PLANTED GIANT duplicate
    # cluster (one doc replicated 2000×). The pair-materializing form is
    # quadratic in cluster size (2000²/2 = 2M pairs from this cluster
    # alone); the drop set verifies O(docs×bands) candidates regardless —
    # this entry tracks that path's wall time so a regression in the
    # scale-critical operator is visible per round.
    from lakeshack_spark.operators.dedup import minhash_drop_set
    from pyspark.sql import functions as F

    giant = (
        docs.orderBy("doc_id")
        .limit(1)
        .crossJoin(spark.range(2000).select(F.col("id").alias("__rep")))
        .select(
            (F.lit(10_000_000) + F.col("__rep")).alias("doc_id"),
            *[c for c in docs.columns if c != "doc_id"],
        )
    )
    planted = docs.unionByName(giant.select(*docs.columns))

    def run_drop_set() -> float:
        t0 = time.time()
        drops = minhash_drop_set(planted.select("doc_id", "text"))
        drops.write.format("noop").mode("overwrite").save()
        drops.unpersist()
        return time.time() - t0

    d_first, d_second = run_guarded(
        "drop_set", lambda: (run_drop_set(), run_drop_set())
    )
    drop_set_sec = round(d_first, 3)
    drop_set_steady = round(min(d_first, d_second), 3)

    # ---- SRP near-dup ------------------------------------------------------
    # Embedding DISCOVERY-tier number: SRP-LSH near-dup over the sf
    # embeddings with planted duplicate vectors (scaled copies — cosine
    # is scale-invariant, so each plant is an exact near-dup with cosine
    # 1.0 and identical SRP sign bits). Tracks the banded-join path the
    # oracle-checked embedding_near_dup (O(block²) verify tier) does not
    # time; the recall assertion keeps the number honest.
    from lakeshack_spark.operators.similarity import srp_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    # ×2.0 is an exact float32 scaling (exponent bump, mantissa intact),
    # so plants keep bit-identical SRP sign bits and cosine exactly 1.0.
    # The id offset derives from the data: a fixed offset would collide
    # with real vec_ids at a larger SF and poison the recall assert.
    plant_offset = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    plants = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + F.lit(plant_offset)).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(2.0)).cast("float")).alias(
            "embedding"
        ),
        *[c for c in emb.columns if c not in ("vec_id", "embedding")],
    )
    n_planted = plants.count()
    planted_emb = emb.unionByName(plants)
    # Derive the dimension from the data — the driver regenerates the
    # testdata between rounds and a hardcoded dim would break silently
    # different generations (the r4 events lesson).
    emb_dim = len(emb.select("embedding").first()[0])

    def run_srp() -> float:
        t0 = time.time()
        srp_near_dup_pairs(planted_emb, threshold=0.95, dim=emb_dim).write.format(
            "noop"
        ).mode("overwrite").save()
        return time.time() - t0

    s_first, s_second = run_guarded("srp", lambda: (run_srp(), run_srp()))

    # ---- connected components ----------------------------------------------
    # Iterative-operator number: connected components (near-dup pairs →
    # cluster labels) over the SimHash near-pair graph of the full sf
    # documents table. Tracks the one operator whose cost is ROUNDS of
    # joins (hash-min + pointer jumping), not a single plan — regressions
    # in per-round materialization cost or convergence behavior surface
    # here. Edge semantics match the dedup_cluster_labels gate entry.
    from lakeshack_spark.operators.dedup import simhash_near_pairs
    from lakeshack_spark.operators.graph import connected_components

    # Per-attempt convergence-round walls (VERDICT r9 #5): the key swung
    # 4.7–7.6 s across same-code runs — recording rounds × per-round
    # wall separates round-count variance (data-epoch dependent) from
    # box noise. Retried attempts append too (honesty trail).
    cc_round_stats: list[list[dict]] = []

    def run_cc() -> float:
        stats: list[dict] = []
        t0 = time.time()
        cc_pairs = simhash_near_pairs(
            docs.select("doc_id", "text"), max_hamming=3
        )
        connected_components(
            cc_pairs, nodes=docs.select("doc_id"), node_col="doc_id",
            round_stats=stats,
        ).write.format("noop").mode("overwrite").save()
        cc_round_stats.append(stats)
        return time.time() - t0

    c_first, c_second = run_guarded("cc", lambda: (run_cc(), run_cc()))

    # ---- repeated passages ---------------------------------------------------
    # Exact-substring tier: cross-document repeated-passage coverage
    # over the full sf documents table with planted 30-token quotes —
    # the O(total tokens) explode + gram-key shuffle + interval-union
    # fold path. The planted-quote assertion keeps the number honest:
    # every quote doc must come back fully covered (its whole token
    # range is shared with its host by construction).
    from lakeshack_spark.operators.text import repeated_passage_stats

    quote_offset = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    quotes = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(quote_offset)).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(F.split(F.col("text"), " "), 5, 30)
        ).alias("text"),
    )
    n_quotes = quotes.filter(F.size(F.split("text", " ")) >= 8).count()
    quoted_docs = docs.select("doc_id", "text").unionByName(quotes)

    def rp_section():
        t0 = time.time()
        repeated_passage_stats(quoted_docs, k=8, min_docs=2).write.format(
            "noop"
        ).mode("overwrite").save()
        rp_first = time.time() - t0
        # second timed run persists its result so the coverage assert
        # reads it back instead of paying a third full pass (count() is a
        # full materialization like the noop write, so the timing is
        # comparable)
        t0 = time.time()
        rp_stats = repeated_passage_stats(
            quoted_docs, k=8, min_docs=2
        ).persist()
        rp_stats.count()
        rp_second = time.time() - t0
        rp_covered = rp_stats.filter(
            (F.col("doc_id") >= quote_offset)
            & (F.col("n_tokens") >= 8)
            & (F.col("dup_tokens") == F.col("n_tokens"))
        ).count()
        rp_stats.unpersist()
        assert rp_covered == n_quotes, (
            f"repeated-passage planted coverage {rp_covered}/{n_quotes}"
        )
        return rp_first, rp_second

    rp_first, rp_second = run_guarded("repeated_passages", rp_section)

    # Untimed honesty check for the SRP section (full recall on plants).
    found = (
        srp_near_dup_pairs(planted_emb, threshold=0.95, dim=emb_dim)
        .filter(F.col("id_b") == F.col("id_a") + F.lit(plant_offset))
        .count()
    )
    assert found == n_planted, f"SRP planted recall {found}/{n_planted}"

    # ---- salted skew join -----------------------------------------------------
    # Skewed-key salted-join point (VERDICT_r6 item 8): a worst-case key
    # distribution — 30% of all lineitem rows remapped onto ONE orderkey —
    # joined to orders through operators.skew.salted_join, which splits
    # the hot key across salt buckets instead of serializing it into one
    # straggler task. Deterministic remap (modulo arithmetic, no RNG);
    # the planted hot key is the table's own minimum orderkey so it always
    # exists on the right side, and the inner-join row count must equal
    # |lineitem| exactly (every remapped key still matches) — keeping the
    # timing honest about doing the full join.
    from lakeshack_spark.operators.skew import salted_join
    from lakeshack_spark.sources.catalog import load_table as _lt

    li = _lt(spark, sf_dir, "lineitem")
    orders_t = _lt(spark, sf_dir, "orders")
    hot_key = orders_t.agg(F.min("o_orderkey")).collect()[0][0]
    n_li = li.count()
    skew_left = li.select(
        F.when(F.col("l_orderkey") % 10 < 3, F.lit(hot_key))
        .otherwise(F.col("l_orderkey"))
        .alias("k"),
        "l_extendedprice",
    )
    skew_right = orders_t.select(
        F.col("o_orderkey").alias("k"), "o_totalprice"
    )

    def run_salted() -> float:
        t0 = time.time()
        salted_join(skew_left, skew_right, "k", salt_buckets=8).write.format(
            "noop"
        ).mode("overwrite").save()
        return time.time() - t0

    sj_first, sj_second = run_guarded(
        "salted_join", lambda: (run_salted(), run_salted())
    )

    # ---- streaming CDC merge ----------------------------------------------------
    # Streaming throughput point (VERDICT_r7 item 7): rows/s through the
    # versioned CDC merge sink — N micro-batches of disjoint-key updates
    # against a VersionedTable seeded from orders, availableNow, one
    # MERGE commit per batch. The exactly-once marker check stays ON
    # (every version's manifest must carry its batch_id, and version
    # count must equal 1 + N). Soft floor since r9 (VERDICT_r8 item 6).
    import shutil
    import tempfile

    from lakeshack_spark.streaming.ivm import stream_merge_versioned
    from lakeshack_spark.versioning import VersionedTable

    def stream_section():
        stream_root = tempfile.mkdtemp(prefix="bench_stream_")
        try:
            table_dir = f"{stream_root}/table"
            vt = VersionedTable(spark, table_dir)
            base = orders_t.select(
                "o_orderkey", "o_totalprice", "o_orderstatus"
            )
            vt.create(base.repartition(8))
            n_batches = 5
            changes = base.select(
                "o_orderkey",
                (F.col("o_totalprice") * F.lit(1.01)).alias("o_totalprice"),
                "o_orderstatus",
            )
            total_changes = 0
            for i in range(n_batches):
                sl = changes.filter(F.col("o_orderkey") % n_batches == i)
                total_changes += sl.count()
                sl.coalesce(1).write.mode("overwrite").parquet(
                    f"{stream_root}/landing/slice{i}"
                )
            stream = (
                spark.readStream.schema(changes.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(f"{stream_root}/landing/*")
            )
            t0 = time.time()
            stream_merge_versioned(
                stream,
                table_dir,
                ["o_orderkey"],
                update_cols=["o_totalprice"],
                checkpoint_dir=f"{stream_root}/ckpt",
            ).awaitTermination()
            stream_sec = time.time() - t0
            vers = vt.versions()
            assert len(vers) == 1 + n_batches, f"versions {vers}"
            batch_ids = sorted(
                vt.manifest(v)["meta"].get("batch_id") for v in vers[1:]
            )
            assert batch_ids == list(range(n_batches)), batch_ids
            return round(stream_sec, 3), round(total_changes / stream_sec, 1)
        finally:
            shutil.rmtree(stream_root, ignore_errors=True)

    stream_merge_sec, stream_rows_per_sec = run_guarded(
        "stream_merge", stream_section
    )

    # Untimed honesty check for the salted join (exact row preservation).
    n_joined = salted_join(skew_left, skew_right, "k", salt_buckets=8).count()
    assert n_joined == n_li, f"salted join lost rows: {n_joined}/{n_li}"

    # ---- noise-band key adjudication (VERDICT r9 #2) -----------------------
    # The two sub-3-second keys that inverted vs the same-run replay in
    # r8/r9 (srp, repeated_passages) get adjudicated ON the record: when
    # the official steady loses to the replay, dedicated guarded
    # re-measures run here — same session, same corpora, the "quiet
    # re-measure" that previously lived only in SURVEY prose — and the
    # emitted JSON carries both numbers plus a verdict (see
    # adjudication_verdict for the band rationale).
    adjudication: dict[str, dict] = {}

    def _run_rp_once() -> float:
        t0 = time.time()
        repeated_passage_stats(quoted_docs, k=8, min_docs=2).write.format(
            "noop"
        ).mode("overwrite").save()
        return time.time() - t0

    replay_parsed = (
        (replay_block or {}).get("parsed")
        if isinstance(replay_block, dict)
        else None
    ) or {}
    for adj_key, adj_official, adj_fn in (
        ("srp_near_dup_steady", round(min(s_first, s_second), 3), run_srp),
        (
            "repeated_passages_steady",
            round(min(rp_first, rp_second), 3),
            _run_rp_once,
        ),
        # r10 trials showed these two drifting the same direction vs
        # the replay three runs straight (+4–18%, inside the band each
        # time but directionally consistent) — adjudicate them too so
        # a real slow-creep can't hide in per-run noise forever.
        ("drop_set_giant_cluster_steady", drop_set_steady, run_drop_set),
        (
            "cluster_labels_steady",
            round(min(c_first, c_second), 3),
            run_cc,
        ),
        # r11: the remaining two compact-line steady keys join the list
        # so NO perf key on the record sits outside adjudication (the
        # r10 stream-floor lesson generalized — a trial-3 rehearsal
        # caught pipeline at 12.7 s vs its own 6.9–7.8 s quiet trials,
        # exactly the unadjudicated-outlier shape).
        ("pipeline_clean_corpus_steady", pipeline_steady, run_pipeline),
        (
            "salted_join_skew_steady",
            round(min(sj_first, sj_second), 3),
            run_salted,
        ),
    ):
        rep_val = replay_parsed.get(adj_key)
        entry: dict = {"official": adj_official, "replay": rep_val}
        runs = None
        if isinstance(rep_val, (int, float)) and adj_official > rep_val:
            runs = run_guarded(
                f"adjudicate_{adj_key}",
                lambda fn=adj_fn: [round(fn(), 3) for _ in range(3)],
            )
            entry["requiet_runs"] = runs
            entry["requiet_steady"] = min(runs)
        entry["verdict"] = adjudication_verdict(adj_official, rep_val, runs)
        adjudication[adj_key] = entry

    # ---- streaming key adjudication (VERDICT r10 #1) -----------------------
    # BENCH_r10 recorded stream rows/s below its own floor on a
    # sentinel-quiet section (13.6k vs floor 15k) while the same-run
    # replay of unchanged code read 24.3k — and the stream key sat
    # OUTSIDE the adjudication machinery, leaving an unadjudicated
    # "real regression" flag on code untouched since r6. Inverted
    # comparison (higher is better): a floor miss at sf0.1 OR a loss to
    # the replay triggers guarded re-measures, and the FLOOR verdict is
    # then computed on the best quiet evidence this run — a quiet
    # re-measure clearing the floor proves the official miss was a
    # noise window the sentinels missed (the CLAUDE.md-documented
    # failure mode), while re-measures that ALSO miss on a quiet
    # section are the genuine regression the floor exists to catch.
    # compact-line name first, full-record name second (bench_replay
    # prefers the full record since r12)
    rep_stream = replay_parsed.get(
        "stream_merge_rows_per_sec",
        replay_parsed.get("stream_merge_versioned_rows_per_sec"),
    )
    stream_entry: dict = {
        "official": stream_rows_per_sec,
        "replay": rep_stream,
        "higher_is_better": True,
    }
    stream_rate_runs = None
    stream_needs_requiet = (
        sf_dir.rstrip("/").endswith("sf0.1")
        and stream_rows_per_sec < STREAM_ROWS_PER_SEC_FLOOR
    ) or (
        isinstance(rep_stream, (int, float))
        and stream_rows_per_sec < rep_stream
    )
    if stream_needs_requiet:
        stream_rate_runs = run_guarded(
            "adjudicate_stream_merge_rows_per_sec",
            lambda: [stream_section()[1] for _ in range(3)],
        )
        stream_entry["requiet_runs"] = stream_rate_runs
        stream_entry["requiet_best"] = max(stream_rate_runs)
    stream_entry["verdict"] = adjudication_verdict(
        stream_rows_per_sec, rep_stream, stream_rate_runs,
        higher_is_better=True,
    )
    adjudication["stream_merge_rows_per_sec"] = stream_entry

    # ---- headline key auto-adjudication (VERDICT r10 #3) -------------------
    # Any headline key whose best-of-3 official loses to the same-run
    # replay beyond the band gets 3 guarded re-measures on the record
    # (bounded at the worst 4 so a contended box can't triple the run).
    replay_queries = replay_parsed.get("queries") or {}
    replay_steady = replay_parsed.get("queries_steady") or {}
    if replay_parsed and not replay_queries:
        # ADVICE r11: a replay record without per-query timings (e.g. a
        # compact line that popped 'queries' past the driver's tail)
        # silently disabled headline adjudication — say so on the record
        # instead.
        adjudication["headline_replay_queries"] = {
            "verdict": "no_replay",
            "note": (
                "replay record carried no per-query timings; headline "
                "auto-adjudication disabled this run"
            ),
        }
    for hl_name in select_headline_adjudications(
        timings, steady, replay_queries, replay_steady=replay_steady
    ):
        hl_runs = run_guarded(
            f"adjudicate_headline_{hl_name}",
            lambda n=hl_name: [round(run(n), 3) for _ in range(3)],
        )
        hl_reps = [
            v
            for v in (replay_queries.get(hl_name), replay_steady.get(hl_name))
            if isinstance(v, (int, float)) and v > 0
        ]
        adjudication[f"headline_{hl_name}"] = {
            "official": timings[hl_name],
            "official_steady": steady[hl_name],
            "replay": replay_queries.get(hl_name),
            "replay_steady": replay_steady.get(hl_name),
            "requiet_runs": hl_runs,
            "requiet_steady": min(hl_runs),
            "verdict": adjudication_verdict(
                min(timings[hl_name], steady[hl_name]),
                min(hl_reps),
                hl_runs,
            ),
        }

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    guard.finalize()  # re-label sections against the final quietest sample
    contention = {
        "sentinel_ms": sentinels,
        "min_ms": min(sentinels),
        "max_ms": max(sentinels),
        # raw ratio over EVERY sample, including attempts that were
        # discarded by the retry logic — the box's honesty trail
        "ratio": round(max(sentinels) / max(min(sentinels), 1e-9), 2),
        # ratio of the RECORDED attempts only (each section's quietest):
        # this is the number that labels the emitted record itself
        "used_ratio": guard.used_ratio(),
        "sections": section_meta,
    }
    contended_after_retries = guard.contended_after_retries()
    # Floor verdict on the best guarded evidence this run (VERDICT r10
    # #1): max of the official rate and any adjudication re-measures —
    # a quiet re-measure clearing the floor proves the code clears it;
    # a "contended" label needs EVERY contributing section contended.
    stream_floor_evidence = max(
        [stream_rows_per_sec] + list(stream_rate_runs or [])
    )
    stream_floor_contended = section_meta["stream_merge"]["contended"]
    if stream_rate_runs is not None:
        stream_floor_contended = (
            stream_floor_contended
            and section_meta["adjudicate_stream_merge_rows_per_sec"][
                "contended"
            ]
        )
    stream_floor_ok = stream_floor_status(
        stream_floor_evidence,
        sf_val,
        stream_floor_contended,
    )
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "value_median": round(sum(medians.values()), 3),
        "queries_median": medians,
        "value_steady": round(sum(steady.values()), 3),
        "queries_steady": steady,
        "pipeline_clean_corpus": pipeline_sec,
        "pipeline_clean_corpus_steady": pipeline_steady,
        "drop_set_giant_cluster": drop_set_sec,
        "drop_set_giant_cluster_steady": drop_set_steady,
        "srp_near_dup": round(s_first, 3),
        "srp_near_dup_steady": round(min(s_first, s_second), 3),
        "cluster_labels": round(c_first, 3),
        "cluster_labels_steady": round(min(c_first, c_second), 3),
        "cluster_labels_rounds": [len(s) for s in cc_round_stats],
        "cluster_labels_round_secs": cc_round_stats,
        "adjudication": adjudication,
        "repeated_passages": round(rp_first, 3),
        "repeated_passages_steady": round(min(rp_first, rp_second), 3),
        "salted_join_skew": round(sj_first, 3),
        "salted_join_skew_steady": round(min(sj_first, sj_second), 3),
        "stream_merge_versioned_sec": stream_merge_sec,
        "stream_merge_versioned_rows_per_sec": stream_rows_per_sec,
        "stream_floor_ok": stream_floor_ok,
        "stream_floor_rows_per_sec": STREAM_ROWS_PER_SEC_FLOOR,
        "stream_floor_evidence_rows_per_sec": stream_floor_evidence,
        "contention": contention,
        "contended_after_retries": contended_after_retries,
        "page_cache_warm_mb": cache_mb,
        "sf": sf_val,
        **parallelism,
    }
    if replay_block is not None:
        out["replay"] = replay_block
    if replay_samples:
        # VERDICT r9 #7: the replay window judged by THIS run's guard —
        # edge samples (2 before, 2 after) vs the run-wide quietest
        # sample (main-leg sentinels ∪ edge samples). A box contended
        # by another sustained suite inflates the edges even though the
        # replay's own (finalize-less, r8-era) guard self-reports
        # quiet; the median-of-4 drops one-off scheduler blips.
        all_min = min(min(sentinels), min(replay_samples))
        main_min = min(sentinels)  # main-leg-only baseline (ADVICE r10):
        # a run-wide-contended box inflates the edge samples AND the
        # combined min together, hiding itself from ratio_vs_run_min;
        # the main leg's quietest sample (taken over a much longer
        # window, post-retries) is the harder-to-fool denominator.
        rs_sorted = sorted(replay_samples)
        rs_median = rs_sorted[len(rs_sorted) // 2]
        out["replay_contention"] = {
            "edge_samples_ms": replay_samples,
            "median_ms": rs_median,
            "ratio_vs_run_min": round(rs_median / max(all_min, 1e-9), 2),
            "ratio_vs_main_min": round(rs_median / max(main_min, 1e-9), 2),
            "contended": rs_median > SENTINEL_RATIO_MAX * all_min,
        }
    spark.stop()

    # The driver keeps only the LAST 2000 chars of stdout (BENCH_r05 lesson:
    # the full record grew past that and the round recorded parsed:null), so
    # the FINAL line must be a compact headline JSON. The full detail —
    # per-query median/steady maps and the same-data replay block — goes to
    # an earlier stdout line AND a side file the judge can read directly.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump(out, fh, indent=1)
    except OSError:
        pass  # side file is best-effort; stdout still carries everything
    print(json.dumps(out))  # full record, earlier line (may exceed the tail)

    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": timings,
        "value_median": out["value_median"],
        "value_steady": out["value_steady"],
        "pipeline_clean_corpus_steady": pipeline_steady,
        "drop_set_giant_cluster_steady": out["drop_set_giant_cluster_steady"],
        "srp_near_dup_steady": out["srp_near_dup_steady"],
        "cluster_labels_steady": out["cluster_labels_steady"],
        "repeated_passages_steady": out["repeated_passages_steady"],
        "salted_join_skew_steady": out["salted_join_skew_steady"],
        "stream_merge_rows_per_sec": stream_rows_per_sec,
        "stream_floor_ok": stream_floor_ok,
        "contention_ratio": contention["used_ratio"],
        "contention_ratio_raw": contention["ratio"],
        "contended_after_retries": contended_after_retries,
        "sf": sf_val,
        **parallelism,
    }
    # Adjudication verdicts ride the compact line only when a key
    # actually lost to the replay (the full block is in bench_detail);
    # same for a contended replay window.
    adj_flags = {
        k: {
            "replay": v.get("replay"),
            "requiet": v.get("requiet_steady", v.get("requiet_best")),
            "verdict": v["verdict"],
        }
        for k, v in adjudication.items()
        if v.get("verdict") not in ("ok", "no_replay")
    }
    if adj_flags:
        compact["adjudication"] = adj_flags
    if "replay_contention" in out:
        compact["replay_contended"] = out["replay_contention"]["contended"]
    print(compact_line(compact))


def parallelism_fields(sc) -> dict:
    """The parallelism a record was taken at, read from the live
    SparkContext: its master, the cores a local master runs tasks on
    (``local[*]`` resolves as Spark resolves it, to the JVM's available
    processors; None for a cluster master) and defaultParallelism."""
    m = re.fullmatch(r"local(?:\[(\d+|\*)(?:,\s*\d+)?\])?", sc.master)
    cpus = None
    if m:
        n = m.group(1) or "1"
        cpus = (
            sc._jvm.java.lang.Runtime.getRuntime().availableProcessors()
            if n == "*"
            else int(n)
        )
    return {
        "master": sc.master,
        "cpus": cpus,
        "default_parallelism": sc.defaultParallelism,
    }


COMPACT_LINE_MAX = 1500


def compact_line(compact: dict) -> str:
    """Serialize the FINAL stdout line, shedding optional keys before
    contract-required ones when the driver's tail budget is exceeded.

    The driver contract is ONE JSON line carrying metric/value/unit/
    queries/sf; everything else riding the compact line is convenience
    that also lives, in full, on the earlier full-record stdout line and
    in bench_detail.json. Shedding order: the adjudication flags first
    (the bulkiest optional block — six noise flags measured 517 chars on
    a contended window, exactly what pushed one line to 1776 chars and,
    under the old pop-queries-only rule, dropped the contract-required
    `queries` map from the final line), then the contended-section list,
    then — only if somehow still over budget — `queries` is TRUNCATED to
    the largest-timing subset that fits, marked `queries_truncated`
    (ADVICE r13: the key must never disappear from the final line while
    any subset of it fits; an empty map that still busts the budget
    falls back to the old wholesale pop). Mutates ``compact``.
    """
    line = json.dumps(compact)
    for victim in ("adjudication", "contended_after_retries"):
        if len(line) <= COMPACT_LINE_MAX:
            break
        if victim in compact:
            compact.pop(victim)
            line = json.dumps(compact)
    if len(line) > COMPACT_LINE_MAX and "queries" in compact:
        q = dict(compact["queries"])
        compact["queries"] = q
        compact["queries_truncated"] = True
        smallest_first = sorted(q, key=lambda k: (q[k], k))
        while smallest_first and len(json.dumps(compact)) > COMPACT_LINE_MAX:
            q.pop(smallest_first.pop(0))
        line = json.dumps(compact)
        if len(line) > COMPACT_LINE_MAX:
            # degenerate budget: even an empty map busts it — old rule
            compact.pop("queries")
            compact.pop("queries_truncated")
            line = json.dumps(compact)
    return line


if __name__ == "__main__":
    main()
