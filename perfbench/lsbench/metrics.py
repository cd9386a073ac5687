"""Turns a run's samples and layer records into the reported metrics."""

from __future__ import annotations

from typing import Any

from .bench import Bench
from .stats import median, tail
from .workloads import Result

#: name → (unit, what it is); the order is the report's order.
END_TO_END = {
    "setup_s": ("s", "median of the workload's three set-up repetitions"),
    "heavy_vs_spark": ("ratio", "median over heavy ops of latency / paired reference latency"),
    "light_vs_spark": ("ratio", "median over light ops of latency / paired reference latency"),
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "setup.writer.write_s": "s",
    "setup.writer.jobs": "count",
    "setup.writer.files_written": "count",
    "setup.writer.bytes_written": "B",
    "setup.metastore.update_s": "s",
    "setup.metastore.update_jobs": "count",
    "setup.metastore.update_tasks": "count",
    "setup.metastore.update_driver_s": "s",
    "metastore.store_files": "count",
    "metastore.store_bytes": "B",
    "metastore.prune_ms": "ms",
    "metastore.files_candidate": "count",
    "metastore.files_total": "count",
    "metastore.prune_precision": "ratio",
    "engine.build_ms": "ms",
    "engine.driver_ms": "ms",
    "engine.jobs_per_query": "count",
    "engine.exec_ms": "ms",
    "engine.tasks_per_query": "count",
    "engine.input_bytes_per_query": "B",
    "engine.executor_cpu_ms_per_query": "ms",
    "engine.row_yield": "ratio",
    "engine.point.build_ms": "ms",
    "engine.point.exec_ms": "ms",
    "engine.wide.build_ms": "ms",
    "engine.wide.exec_ms": "ms",
    "operators.stage.survivors_materialize_s": "s",
    "operators.stage.drop_set_s": "s",
    "operators.stage.anti_join_materialize_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.executor_cpu_s": "s",
    "operators.executor_run_s": "s",
    "operators.gc_s": "s",
    "operators.driver_s": "s",
    "operators.shuffle_read_bytes": "B",
    "operators.shuffle_write_bytes": "B",
    "operators.spill_bytes": "B",
    "operators.lite.jobs": "count",
    "operators.lite.stages": "count",
    "operators.lite.tasks": "count",
    "operators.lite.executor_cpu_s": "s",
    "operators.lite.driver_s": "s",
    "operators.lite.shuffle_write_bytes": "B",
    "reference.heavy_p50_ms": "ms",
    "reference.light_p50_ms": "ms",
    "trace.heavy_p50_ms": "ms",
    "trace.light_p50_ms": "ms",
    "trace.op_self_ms": "ms",
    "trace.overhead_ms_per_op": "ms",
    "trace.overhead_frac": "ratio",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def vs_reference(res: Result, cls: str) -> float:
    """Median over the class's ops of each op's latency over that of the
    reference op run next to it."""
    return median([lat / ref for lat, ref in zip(res.samples[cls], res.ref[cls])])


def end_to_end(res: Result, setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "heavy_vs_spark": vs_reference(res, "heavy"),
        "light_vs_spark": vs_reference(res, "light"),
    }


def _lat(samples: list[float], scale: float) -> dict[str, Any]:
    """Median and tail (highest percentile ≤ p90 with ≥10 samples beyond)
    with the sample count and the percentile actually used."""
    if not samples:
        return {"n": 0}
    t, q = tail(samples)
    return {"p50": median(samples) * scale, "tail": t * scale, "tail_q": q, "n": len(samples)}


def named(
    workload: str, res: Result, e2e: dict[str, float], b: Bench, rss_mb: float
) -> dict[str, Any]:
    """The workload's metrics under their descriptive names, with units
    and, for latencies, sample counts and the tail percentile used."""
    heavy, light = res.samples["heavy"], res.samples["light"]
    items_per_s = res.items / res.items_s
    out: dict[str, Any] = {
        "setup_s": {"value": e2e["setup_s"], "unit": "s"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
        "failed_frac": {"value": b.failed / b.attempted, "unit": "ratio"},
    }
    for cls in ("heavy", "light"):
        out[f"{cls}_vs_spark"] = {"value": e2e[f"{cls}_vs_spark"], "unit": "ratio",
                                  "n": len(res.samples[cls])}
        out[f"{cls}_reference_p50_ms"] = {"value": median(res.ref[cls]) * 1e3, "unit": "ms"}
    if workload == "lookup":
        lat = _lat(light, 1e3)
        out["point_p50_ms"] = {"value": lat.get("p50"), "unit": "ms", "n": lat["n"]}
        out["point_p90_ms"] = {"value": lat.get("tail"), "unit": "ms", "n": lat["n"],
                               "q": lat.get("tail_q")}
        lat = _lat(heavy, 1e3)
        out["wide_p50_ms"] = {"value": lat.get("p50"), "unit": "ms", "n": lat["n"]}
        out["wide_p90_ms"] = {"value": lat.get("tail"), "unit": "ms", "n": lat["n"],
                              "q": lat.get("tail_q")}
        out["lookups_per_s"] = {"value": items_per_s, "unit": "1/s"}
    if workload == "clean_corpus":
        out["clean_corpus_s"] = {"value": median(heavy) if heavy else None, "unit": "s",
                                 "n": len(heavy)}
        out["docs_per_s"] = {"value": items_per_s, "unit": "1/s"}
    return out


def per_layer(b: Bench, res: Result, session_s: float, rss_mb: float) -> dict[str, float]:
    from .runtime import dir_stats
    from pathlib import Path

    calls = b.calls
    m: dict[str, float] = {k: 0.0 for k in PER_LAYER_UNITS}
    m["session.start_s"] = session_s
    m["session.peak_rss_mb"] = rss_mb
    for w in res.setup_calls.get("setup.writer", []):
        m["setup.writer.write_s"] = w["wall"]
        m["setup.writer.jobs"] = w["m"].jobs
        m["setup.writer.files_written"] = w["files"]
        m["setup.writer.bytes_written"] = w["bytes"]
    updates = res.setup_calls.get("setup.metastore.update", [])
    if updates:  # the first repetition is cold; medians leave it out
        m["setup.metastore.update_s"] = median([c["wall"] for c in updates])
        m["setup.metastore.update_jobs"] = median([c["m"].jobs for c in updates])
        m["setup.metastore.update_tasks"] = median([c["m"].tasks for c in updates])
        m["setup.metastore.update_driver_s"] = median(
            [c["wall"] - c["m"].job_s for c in updates]
        )
    if res.store_path:
        n, size = dir_stats(Path(res.store_path))
        m["metastore.store_files"], m["metastore.store_bytes"] = n, size

    queries = calls.get("engine.query", [])
    fetches = calls.get("engine.to_arrow", [])
    if queries:
        per_q = []
        for q, f in zip(queries, fetches):
            plan = q["status"]["plan_sec"]
            job_s = q["m"].job_s + f["m"].job_s
            per_q.append({
                "cls": q["cls"],
                "prune_ms": plan * 1e3,
                "build_ms": (q["wall"] - plan) * 1e3,
                "exec_ms": job_s * 1e3,
                "driver_ms": (q["wall"] + f["wall"] - job_s) * 1e3,
                "jobs": q["m"].jobs + f["m"].jobs,
                "tasks": q["m"].tasks + f["m"].tasks,
                "input_bytes": q["m"].input_bytes + f["m"].input_bytes,
                "cpu_ms": (q["m"].executor_cpu_s + f["m"].executor_cpu_s) * 1e3,
            })
        m["metastore.prune_ms"] = _mean(p["prune_ms"] for p in per_q)
        m["engine.build_ms"] = _mean(p["build_ms"] for p in per_q)
        m["engine.exec_ms"] = _mean(p["exec_ms"] for p in per_q)
        m["engine.driver_ms"] = _mean(p["driver_ms"] for p in per_q)
        m["engine.jobs_per_query"] = _mean(p["jobs"] for p in per_q)
        m["engine.tasks_per_query"] = _mean(p["tasks"] for p in per_q)
        m["engine.input_bytes_per_query"] = _mean(p["input_bytes"] for p in per_q)
        m["engine.executor_cpu_ms_per_query"] = _mean(p["cpu_ms"] for p in per_q)
        for cls in ("point", "wide"):
            sub = [p for p in per_q if p["cls"] == cls]
            m[f"engine.{cls}.build_ms"] = _mean(p["build_ms"] for p in sub)
            m[f"engine.{cls}.exec_ms"] = _mean(p["exec_ms"] for p in sub)
    if res.lookups:
        m["metastore.files_candidate"] = _mean(r["status"]["n_files_candidate"] for r in res.lookups)
        m["metastore.files_total"] = _mean(r["status"]["n_files_total"] for r in res.lookups)
        cand = sum(r["candidates"] for r in res.lookups)
        m["metastore.prune_precision"] = (
            sum(r["useful"] for r in res.lookups) / cand if cand else 1.0
        )
        cand_rows = sum(r["status"]["n_rows_candidate"] for r in res.lookups)
        m["engine.row_yield"] = (
            sum(r["rows"] for r in res.lookups) / cand_rows if cand_rows else 0.0
        )

    group = {
        "jobs": lambda r: r["m"].jobs,
        "stages": lambda r: r["m"].stages,
        "tasks": lambda r: r["m"].tasks,
        "executor_cpu_s": lambda r: r["m"].executor_cpu_s,
        "executor_run_s": lambda r: r["m"].executor_run_s,
        "gc_s": lambda r: r["m"].gc_s,
        "driver_s": lambda r: r["wall"] - r["m"].job_s,
        "shuffle_read_bytes": lambda r: r["m"].shuffle_read_bytes,
        "shuffle_write_bytes": lambda r: r["m"].shuffle_write_bytes,
        "spill_bytes": lambda r: r["m"].spill_bytes,
    }
    cleans = calls.get("operators.clean_corpus", [])
    consumes = calls.get("operators.consume", [])
    if cleans:
        for stage in ("survivors_materialize", "drop_set", "anti_join_materialize"):
            m[f"operators.stage.{stage}_s"] = _mean(
                dict(c["stage_stats"] or ()).get(stage, 0.0) for c in cleans
            )
        both = list(zip(cleans, consumes))

        def per_pass(value) -> float:
            return _mean(value(a) + value(c) for a, c in both)

        for name, value in group.items():
            m[f"operators.{name}"] = per_pass(value)
    lites = calls.get("operators.clean_lite", [])
    for name in ("jobs", "stages", "tasks", "executor_cpu_s", "driver_s", "shuffle_write_bytes"):
        m[f"operators.lite.{name}"] = _mean(group[name](c) for c in lites)

    ops = [s for s in b.tracer.spans if s.name == "op"]  # all ops, warm-up too
    if ops:
        self_s = b.tracer.self_time_by_name().get("op", 0.0)
        m["trace.op_self_ms"] = self_s / len(ops) * 1e3
        m["trace.overhead_ms_per_op"] = b.overhead_s / max(b.recorded_ops, 1) * 1e3
        m["trace.overhead_frac"] = b.overhead_s / max(b.op_s, 1e-9)
    # the traced run's own latencies: set against the untraced run's
    # (its detail line) they give the whole tracing overhead
    for cls in ("heavy", "light"):
        if res.samples[cls]:
            m[f"trace.{cls}_p50_ms"] = median(res.samples[cls]) * 1e3
            m[f"reference.{cls}_p50_ms"] = median(res.ref[cls]) * 1e3
    return m
