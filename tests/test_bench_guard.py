"""Pins for bench.py's contention-guard scoreboard logic (VERDICT_r8
item 1): the official BENCH record is the round's scoreboard, so the
retry / quietest-attempt / flag semantics are load-bearing and must not
drift. Pure Python — the sentinel is injected, no Spark, no spinning."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench


def make_guard(samples):
    """Guard fed a scripted sentinel sequence (consumed in order)."""
    it = iter(samples)
    return bench.ContentionGuard(sentinel_fn=lambda: next(it), settle_s=0)


def test_quiet_section_runs_once():
    g = make_guard([100.0, 101.0, 102.0, 103.0])
    calls = []
    out = g.run("s", lambda: calls.append(1) or "res")
    assert out == "res" and len(calls) == 1
    meta = g.section_meta["s"]
    assert meta["contended"] is False
    assert len(meta["attempt_ratios"]) == 1
    assert g.contended_after_retries() == []


def test_contended_section_retries_and_keeps_quietest():
    # baseline 100; attempt 1 samples (150, 160) → median 155, ratio
    # 1.55 → retry; attempt 2 samples (105, 107) → quiet → stop.
    g = make_guard([100.0, 150.0, 160.0, 105.0, 107.0])
    g.sample()  # baseline, as main() takes before any section
    results = iter(["contended_result", "quiet_result"])
    out = g.run("s", lambda: next(results))
    assert out == "quiet_result"
    meta = g.section_meta["s"]
    assert meta["attempt_ratios"] == [1.55, 1.06]
    assert meta["used_ratio"] == 1.06
    assert meta["contended"] is False


def test_never_quiet_section_is_flagged_not_laundered():
    # All three attempts contended; the LEAST contended one is recorded
    # and the section lands in contended_after_retries.
    g = make_guard([100.0, 150.0, 150.0, 140.0, 140.0, 160.0, 160.0])
    g.sample()  # quiet baseline
    results = iter(["a", "b", "c"])
    out = g.run("s", lambda: next(results))
    assert out == "b"  # attempt 2, ratio 1.4, was the quietest
    meta = g.section_meta["s"]
    assert len(meta["attempt_ratios"]) == 1 + bench.SECTION_RETRIES
    assert meta["used_ratio"] == 1.4
    assert meta["contended"] is True
    assert g.contended_after_retries() == ["s"]


def test_single_gc_pulse_does_not_flag_section():
    # Median semantics: one inflated closing sample (post-section GC —
    # the pipeline section reliably did this) must not trigger a retry
    # when the rest of the section's window is quiet.
    g = make_guard([100.0, 101.0, 102.0, 180.0])
    g.sample()  # baseline
    calls = []

    def fn():
        calls.append(1)
        g.sample()  # quiet mid-section sample; closing sample rides GC
        return None

    g.run("s", fn)
    assert len(calls) == 1
    assert g.section_meta["s"]["contended"] is False


def test_mid_section_samples_participate():
    # fn adds a mid-section sample (the headline section does); a
    # sustained-contention window (all three samples high) must retry.
    seq = [100.0, 150.0, 155.0, 150.0, 101.0, 100.0, 102.0]
    g = make_guard(seq)
    n = {"i": 0}

    def fn():
        n["i"] += 1
        g.sample()  # mid-section
        return n["i"]

    out = g.run("s", fn)
    assert out == 2  # second (quiet) attempt recorded
    assert g.section_meta["s"]["attempt_ratios"][0] >= 1.5


def test_used_ratio_is_max_over_sections():
    g = make_guard([100.0, 100.0, 110.0, 100.0, 125.0, 120.0])
    g.run("a", lambda: None)
    g.run("b", lambda: None)
    assert g.used_ratio() == max(
        m["used_ratio"] for m in g.section_meta.values()
    )


def test_retry_budget_caps_runaway_retries():
    # A box contended for the whole run must not triple every section:
    # past MAX_TOTAL_RETRIES extra attempts, sections run once (flagged).
    n_sections = 8
    # every sample contended (150 vs baseline 100)
    g = make_guard([100.0] + [150.0] * 200)
    g.sample()  # quiet baseline
    calls = {"n": 0}

    def fn():
        calls["n"] += 1

    for i in range(n_sections):
        g.run(f"s{i}", fn)
    # attempts = sections + capped extra retries, not sections × 3
    assert calls["n"] == n_sections + bench.ContentionGuard.MAX_TOTAL_RETRIES
    assert len(g.contended_after_retries()) == n_sections


def test_finalize_relabels_early_contended_sections():
    # The run STARTS contended: section 'a' compares against an inflated
    # baseline (ratio ≈ 1, passes). A later quiet sample proves the box
    # was contended during 'a' — finalize() must re-flag it.
    g = make_guard([150.0, 151.0, 152.0, 100.0, 101.0, 102.0])
    g.sample()  # contended baseline
    g.run("a", lambda: None)  # samples 151, 152 → ratio ~1.0, passes
    g.run("b", lambda: None)  # quiet 100, 101 → 'a' was contended
    assert g.section_meta["a"]["contended"] is False  # pre-finalize
    g.finalize()
    assert g.section_meta["a"]["contended"] is True
    assert g.section_meta["b"]["contended"] is False
    assert g.contended_after_retries() == ["a"]
    g.finalize()  # idempotent
    assert g.contended_after_retries() == ["a"]


def test_stream_floor_status():
    floor = bench.STREAM_ROWS_PER_SEC_FLOOR
    assert bench.stream_floor_status(floor + 1, 0.1, False) is True
    assert bench.stream_floor_status(floor - 1, 0.1, False) is False
    assert bench.stream_floor_status(floor - 1, 0.1, True) == "contended"
    # floor only calibrated at sf0.1
    assert bench.stream_floor_status(1.0, 0.01, False) is True


def test_adjudication_verdict_band():
    v = bench.adjudication_verdict
    # no replay value to compare against
    assert v(2.0, None, None) == "no_replay"
    assert v(2.0, "error", None) == "no_replay"
    # official wins or ties: ok, regardless of re-measures
    assert v(1.9, 2.0, None) == "ok"
    assert v(2.0, 2.0, None) == "ok"
    # official loses but best evidence is inside the documented band
    assert v(1.555, 1.40, [2.332, 1.895, 1.724]) == "noise"  # the
    # measured trial that mislabeled at a 1.1x band (srp, untouched code)
    assert v(1.81, 1.40, None) == "noise"  # 1.81 <= 1.3 * 1.40 + eps
    # best evidence beyond the band: a real regression flag
    assert v(2.5, 1.40, [2.4, 2.6]) == "regression"
    assert v(2.0, 1.0, None) == "regression"


def test_adjudication_band_boundary_is_inclusive():
    # ADVICE r10: 1.3 * 1.40 = 1.8199...97 in binary — an official at
    # exactly the documented 1.82 edge must read noise, not regression.
    assert bench.adjudication_verdict(1.82, 1.40, None) == "noise"
    assert bench.adjudication_verdict(1.83, 1.40, None) == "regression"


def test_adjudication_verdict_inverted_throughput():
    # VERDICT r10 #1: stream rows/s adjudication — higher is better.
    v = bench.adjudication_verdict
    assert v(25_000, None, None, higher_is_better=True) == "no_replay"
    # official at or above replay: ok
    assert v(25_000, 24_000, None, higher_is_better=True) == "ok"
    assert v(24_000, 24_000, None, higher_is_better=True) == "ok"
    # the r10 record itself: official 13,646 vs replay 24,268 — but a
    # quiet re-measure at rehearsal level (23.9k) is inside the band
    assert (
        v(13_646, 24_268, [23_900, 24_100, 26_000], higher_is_better=True)
        == "noise"
    )
    # no re-measure clearing the band: genuine regression
    assert v(13_646, 24_268, None, higher_is_better=True) == "regression"
    assert (
        v(13_646, 24_268, [14_000, 13_900, 14_200], higher_is_better=True)
        == "regression"
    )
    # inverted boundary is inclusive too: best * 1.3 == replay exactly
    assert v(10_000, 13_000, None, higher_is_better=True) == "noise"
    assert v(9_999, 13_000, None, higher_is_better=True) == "regression"


def test_select_headline_adjudications():
    sel = bench.select_headline_adjudications
    timings = {"a": 2.0, "b": 1.0, "c": 5.0, "d": 3.0}
    steady = {"a": 1.9, "b": 0.9, "c": 1.1, "d": 2.8}
    # a loses beyond band (1.9 > 1.3*1.0); b inside band; c's STEADY
    # saves it (1.1 <= 1.3*1.0) even though first lost 5x; d has no
    # replay value to compare against.
    replay_q = {"a": 1.0, "b": 0.8, "c": 1.0}
    assert sel(timings, steady, replay_q) == ["a"]
    # worst ratio first, capped
    timings = {f"k{i}": float(i) for i in range(1, 8)}
    steady = dict(timings)
    replay_q = {k: 1.0 for k in timings}
    assert sel(timings, steady, replay_q, cap=3) == ["k7", "k6", "k5"]
    # non-numeric / zero replay values are skipped, empty replay → []
    assert sel({"a": 9.0}, {"a": 9.0}, {"a": "err"}) == []
    assert sel({"a": 9.0}, {"a": 9.0}, {}) == []
    # band boundary inclusive: best == 1.3 * replay is NOT a loss
    assert sel({"a": 1.3}, {"a": 1.3}, {"a": 1.0}) == []
    # ADVICE r11: replay best = min(first, steady) — a loss invisible
    # against the replay's codegen-inclusive first run is selected once
    # its steady number is available
    assert sel({"a": 2.0}, {"a": 2.0}, {"a": 1.8}) == []
    assert sel(
        {"a": 2.0}, {"a": 2.0}, {"a": 1.8}, replay_steady={"a": 1.0}
    ) == ["a"]
    # steady-only replay evidence works when first-run is absent
    assert sel({"a": 2.0}, {"a": 2.0}, {}, replay_steady={"a": 1.0}) == ["a"]
    # non-numeric steady values are skipped, not fatal
    assert sel(
        {"a": 2.0}, {"a": 2.0}, {"a": 1.8}, replay_steady={"a": "err"}
    ) == []


def test_bench_replay_pick_parsed_prefers_full_record():
    """ADVICE r11: the replay must prefer the full-record line (which
    carries 'queries'/'queries_steady') over the compact last line,
    which pops 'queries' past the driver's 1500-char tail."""
    import json as _json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from tools.bench_replay import pick_parsed

    full = {"metric": "m", "queries": {"a": 1.0}, "queries_steady": {"a": 0.9}}
    compact = {"metric": "m", "value": 1.0}
    out = "\n".join(["noise", _json.dumps(full), _json.dumps(compact)])
    parsed, which = pick_parsed(out)
    assert which == "full" and parsed["queries"] == {"a": 1.0}
    # a small compact line carries 'queries' too — the full record
    # (with queries_steady) must still win
    compact_q = {"metric": "m", "value": 1.0, "queries": {"a": 1.1}}
    parsed, which = pick_parsed(
        "\n".join([_json.dumps(full), _json.dumps(compact_q)])
    )
    assert which == "full" and parsed["queries_steady"] == {"a": 0.9}
    # queries-but-no-steady output (old replays): marked as such
    parsed, which = pick_parsed(_json.dumps(compact_q))
    assert which == "queries_no_steady" and parsed == compact_q
    # compact-only output (old replays): last JSON line, marked
    parsed, which = pick_parsed(_json.dumps(compact))
    assert which == "compact_no_queries" and parsed == compact
    # unparseable / merged progress chunks are skipped, not fatal
    parsed, which = pick_parsed("{broken\n" + _json.dumps(compact))
    assert parsed == compact
    assert pick_parsed("no json at all") == (None, "none")


def test_compact_line_sheds_optional_keys_before_queries():
    """The FINAL stdout line must keep the contract-required `queries`
    map: over the tail budget, bench sheds its own optional blocks
    (adjudication flags, contended-section list — both duplicated on
    the full-record line and in bench_detail.json) before ever touching
    `queries` (r13 epoch-2: six noise flags pushed the line to 1776
    chars and the old rule popped `queries` first)."""
    import json as _json

    base = {
        "metric": "headline_queries_total",
        "value": 17.445,
        "unit": "sec",
        "queries": {f"query_name_number_{i}": 1.234 for i in range(17)},
        "value_steady": 12.253,
        "sf": 0.1,
    }
    # small line passes through untouched
    small = dict(base)
    assert _json.loads(bench.compact_line(small)) == base

    # oversized optional blocks shed in order; queries survives
    big = dict(base)
    big["adjudication"] = {
        f"adjudicate_headline_key_{i}": {
            "replay": 1.722, "requiet": 0.843, "verdict": "noise"
        }
        for i in range(12)
    }
    big["contended_after_retries"] = [f"contended_section_{i}" for i in range(30)]
    parsed = _json.loads(bench.compact_line(big))
    assert len(_json.dumps(parsed)) <= bench.COMPACT_LINE_MAX
    assert parsed["queries"] == base["queries"]
    assert "adjudication" not in parsed

    # when queries alone busts the budget it is TRUNCATED to the
    # largest-timing subset that fits, never dropped wholesale while any
    # subset fits (ADVICE r13)
    huge = dict(base)
    huge["queries"] = {
        f"impossibly_long_query_name_padding_{i:04d}": float(i) for i in range(60)
    }
    parsed = _json.loads(bench.compact_line(huge))
    assert len(_json.dumps(parsed)) <= bench.COMPACT_LINE_MAX
    assert parsed["queries_truncated"] is True
    kept = parsed["queries"]
    assert 0 < len(kept) < 60
    # the kept subset is the LARGEST timings
    assert set(kept) == {
        f"impossibly_long_query_name_padding_{i:04d}"
        for i in range(60 - len(kept), 60)
    }
    assert parsed["metric"] == base["metric"] and parsed["sf"] == 0.1

    # degenerate budget (even an empty map busts it): old wholesale pop
    import unittest.mock as _mock

    tiny = dict(base)
    tiny["queries"] = {f"q{i}": 1.0 for i in range(40)}
    with _mock.patch.object(bench, "COMPACT_LINE_MAX", 80):
        parsed = _json.loads(bench.compact_line(tiny))
    assert "queries" not in parsed and "queries_truncated" not in parsed


def test_final_line_carries_parallelism_and_keeps_queries():
    """The final line records the effective master, cpus and
    defaultParallelism, and adding them never costs the `queries` map
    its place when the line is over budget."""
    import json as _json
    from types import SimpleNamespace

    def fields(master):
        return bench.parallelism_fields(
            SimpleNamespace(master=master, defaultParallelism=8)
        )

    assert fields("local[4]") == {
        "master": "local[4]", "cpus": 4, "default_parallelism": 8,
    }
    assert fields("local")["cpus"] == 1
    assert fields("local[32, 2]")["cpus"] == 32
    assert fields("spark://host:7077")["cpus"] is None

    compact = {
        "metric": "headline_queries_total",
        "value": 17.445,
        "unit": "sec",
        "queries": {f"query_name_number_{i}": 1.234 for i in range(17)},
        "adjudication": {
            f"adjudicate_headline_key_{i}": {"verdict": "noise"} for i in range(40)
        },
        "contended_after_retries": [f"section_{i}" for i in range(30)],
        "sf": 0.1,
        **fields("local[32]"),
    }
    parsed = _json.loads(bench.compact_line(dict(compact)))
    assert len(_json.dumps(parsed)) <= bench.COMPACT_LINE_MAX
    assert parsed["queries"] == compact["queries"]
    assert "queries_truncated" not in parsed
    assert (parsed["master"], parsed["cpus"], parsed["default_parallelism"]) == (
        "local[32]", 32, 8,
    )
