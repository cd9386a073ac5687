"""Unit tests for the benchmark's pure parts (no Spark):

    python3 -m pytest perfbench/tests -q
"""

import time

import pytest

from lsbench import data, metrics, workloads
from lsbench.bench import rounds
from lsbench.oracle import OrdersOracle, checksum_table
from lsbench.sparkmetrics import read_group
from lsbench.stats import quantile, tail, tail_q
from lsbench.trace import Span, self_times


# ------------------------------------------------------------- tail rule


@pytest.mark.parametrize(
    "n, q",
    [(1, 0.5), (19, 0.5), (20, 0.5), (40, 0.75), (50, 0.8), (100, 0.9), (1000, 0.9)],
)
def test_tail_q_keeps_ten_samples_beyond(n, q):
    assert tail_q(n) == pytest.approx(q)
    if q > 0.5:
        assert n * (1 - tail_q(n)) >= 10 - 1e-9


def test_tail_value_and_q():
    xs = list(range(1, 101))
    v, q = tail(xs)
    assert q == pytest.approx(0.9)
    assert v == pytest.approx(quantile(xs, 0.9))
    assert sum(x > v for x in xs) >= 10


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        tail([])


# ----------------------------------------------------------- op generator


def _take(stream, blocks):
    return [r for _ in range(blocks) for r in stream.block()]


def test_lookup_stream_is_seeded():
    assert _take(data.LookupStream(7), 6) == _take(data.LookupStream(7), 6)
    assert _take(data.LookupStream(7), 6) != _take(data.LookupStream(8), 6)
    assert _take(data.LookupStream(7), 6) != _take(data.LookupStream(7, salt=1), 6)


def test_lookup_stream_blocks_have_a_fixed_mix():
    stream = data.LookupStream(3)
    dated = {"point": 0, "wide": 0}
    for _ in range(10):
        block = stream.block()
        for cls, n in (("point", 4), ("wide", 3)):
            reqs = [r for r in block if r.cls == cls]
            assert len(reqs) == n
            assert sum(r.date_range is not None for r in reqs) in (n // 2, n // 2 + 1)
            dated[cls] += sum(r.date_range is not None for r in reqs)
            for r in reqs:
                k = len(r.keys)
                assert (1 <= k <= 4) if cls == "point" else (k <= 256)
    assert dated == {"point": 20, "wide": 15}  # half, over pairs of blocks


def test_inputs_are_seeded():
    assert data.orders(5, rows=1000).equals(data.orders(5, rows=1000))
    assert not data.orders(5, rows=1000).equals(data.orders(6, rows=1000))
    assert data.documents(5, n=200).equals(data.documents(5, n=200))
    assert not data.documents(5, n=200).equals(data.documents(6, n=200))


# ---------------------------------------------------------------- oracle


def test_oracle_matches_brute_force_in_any_row_order():
    t = data.orders(2, rows=3000)
    oracle = OrdersOracle(t)
    rows = t.to_pylist()
    keys, rng = tuple(r["o_custkey"] for r in rows[:40]) + (20_000,), (100, 1500)
    day = lambda r: (r["o_orderdate"] - data.day_to_datetime(0)).days  # noqa: E731
    idx = [i for i, r in enumerate(rows) if r["o_custkey"] in keys and rng[0] <= day(r) < rng[1]]
    assert len(idx) > 5
    want = t.select(data.PROJECTION).take(idx)
    assert oracle.answer(keys, rng) == checksum_table(want)
    assert checksum_table(want) == checksum_table(want.take(list(reversed(range(len(idx))))))


def test_oracle_answers_absent_keys_with_nothing():
    oracle = OrdersOracle(data.orders(2, rows=300))
    assert oracle.answer([data.N_CUSTKEYS + 5], None) == (0, 0)
    assert oracle.answer([], (0, 10)) == (0, 0)


# ------------------------------------------------------------ timed phase


def test_rounds_run_the_least_count_then_until_time_is_up():
    assert list(rounds(0.0, 3)) == [0, 1, 2]
    assert list(rounds(-1.0, 0)) == []
    t0 = time.perf_counter()
    n = 0
    for _ in rounds(0.05, 1):
        time.sleep(0.01)
        n += 1
    assert time.perf_counter() - t0 >= 0.05 and n >= 5


class _FakeBench:
    session_s = 5.0
    restarts = 0

    def restart_session(self):
        self.restarts += 1
        return 1.0


def test_setup_repetitions_count_the_launch_once():
    b = _FakeBench()
    times, state = workloads._setup(b, lambda prev: (prev or 0) + 1, restart=True)
    assert state == workloads.SETUP_REPS and b.restarts == workloads.SETUP_REPS - 1
    assert times[0] >= 5.0 and all(1.0 <= t < 2.0 for t in times[1:])
    times, _ = workloads._setup(_FakeBench(), lambda prev: None, restart=False)
    assert all(t < 1.0 for t in times)


def test_ratio_to_reference_pairs_each_op_with_its_own():
    res = workloads.Result([1.0])
    res.samples["heavy"] = [2.0, 4.0, 30.0]
    res.ref["heavy"] = [1.0, 2.0, 10.0]  # the host slowed fivefold
    assert metrics.vs_reference(res, "heavy") == pytest.approx(2.0)
    res.ref["heavy"] = [1.0, 1.0, 1.0]
    assert metrics.vs_reference(res, "heavy") == pytest.approx(4.0)


# ------------------------------------------------------------- self time


def test_self_time_subtracts_covered_child_time_once():
    spans = [
        Span("op", 1, None, 0.0, 10.0),
        Span("a", 1, 0, 1.0, 4.0),
        Span("b", 1, 0, 3.0, 6.0),  # overlaps a
        Span("c", 1, 0, 9.0, 12.0),  # runs past the parent's end
        Span("a.x", 1, 1, 2.0, 3.0),
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 1, 3 - 1, 3, 3, 1])


# ---------------------------------------------- status-store reader


class FakeStore:
    def __init__(self, jobs, stages, raising):
        self.jobs, self.stages, self.raising = jobs, stages, raising

    def job_ids(self, group):
        return list(self.jobs) if group == "g" else []

    def stage_ids(self, job):
        return self.jobs[job]

    def job_interval(self, job):
        return {0: (0.0, 2.0), 1: (1.0, 3.0)}[job]

    def stage(self, sid):
        if sid in self.raising:
            raise LookupError(sid)
        return self.stages[sid]


def _stage(status, tasks=0, run_ms=0):
    return dict(status=status, tasks=tasks, run_ms=run_ms, cpu_ns=tasks * 10**6, gc_ms=0,
                input_bytes=tasks, shuffle_read_bytes=0,
                shuffle_write_bytes=0, spill_bytes=0)


def test_reader_counts_skipped_stages_without_summing_them():
    store = FakeStore(
        jobs={0: [0, 1], 1: [1, 2, 3]},
        stages={0: _stage("COMPLETE", 4, 400), 1: _stage("SKIPPED"),
                3: _stage("COMPLETE", 2, 100)},
        raising={2},
    )
    m = read_group(store, "g")
    assert (m.jobs, m.stages, m.skipped_stages, m.tasks) == (2, 2, 2, 6)
    assert m.executor_run_s == pytest.approx(0.5)
    assert m.job_s == pytest.approx(3.0)  # union of [0,2] and [1,3]


def test_reader_on_unknown_group_is_empty():
    m = read_group(FakeStore({}, {}, set()), "other")
    assert (m.jobs, m.stages, m.tasks, m.job_s) == (0, 0, 0, 0.0)
