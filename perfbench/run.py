"""lakeshack_spark benchmark: one workload per run, one client, closed loop.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

Run from the repository root. Spark runs in-process at
``local[$SPARK_GRAFT_CPUS]`` (default: the number of usable cores).
Inputs are generated from ``--seed``; every op's result is checked
against an answer computed without the engine. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it (``detail: {...}``) holds
the environment, the workload's metrics under their descriptive names
with sample counts, and any failures. Spans of a traced run are written
to ``.bench_build/perfbench/``.

Workloads (see ``lsbench/workloads.py``); each has a heavy and a light
op class and a set-up repeated several times, reported as ``setup_s``
(the median). Every timed op runs next to a reference op that does the
same job in plain Spark, without the program; ``heavy_vs_spark`` and
``light_vs_spark`` are the medians over the class's ops of latency over
the paired reference's. The raw latencies are in the detail line.

- ``lookup``: a static 128-file lake of ``orders`` clustered on
  ``o_custkey``; *wide* requests (64-96 keys, heavy) and *point*
  requests (1-4 keys, light), all ending in ``query_arrow``, each
  followed by its reference: ``spark.read.parquet`` of the whole lake
  with the same filter. Set-up (3 times): ``Lakeshack`` +
  ``update_metastore`` over the lake, which is written once. One request
  block runs untimed before three timed ones (3 wide and 4 point requests
  each).
- ``clean_corpus``: passes of ``operators.pipeline.clean_corpus`` over
  2,500 documents, each materialized through the noop sink (heavy), and
  passes without near-dedup (``CleanConfig(near_dedup=False)``: the
  per-row signals, PII masking and exact dedup) collected with
  ``toArrow`` (light); the reference, run before each round, is a
  word-repetition filter (explode, aggregate, join) and an exact dedup
  in plain Spark. Set-up
  (5 times): ``get_spark`` and a load of the documents. A reference and
  a lite pass run untimed before three timed rounds (a reference, a full
  pass, a lite pass); the median of the full passes leaves out the
  first, which still compiles the near-dedup stages.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from lsbench import runtime  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["lookup", "clean_corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not runtime.program_present():
        print(f"lakeshack_spark not found under {runtime.ROOT}", file=sys.stderr)
        return 2

    work = runtime.WORK_ROOT / f"{args.workload}-{args.seed}-{os.getpid()}"
    runtime.remove(work)
    runtime.prepare_env(work)

    from lsbench import metrics
    from lsbench.bench import Bench
    from lsbench.stats import median
    from lsbench.workloads import WORKLOADS

    spark, session_s = runtime.start_session()
    b = Bench(spark, traced=bool(args.trace), session_s=session_s)
    try:
        pid = runtime.jvm_pid(spark)
        res = WORKLOADS[args.workload](b, args.seed, args.seconds, work)
        rss_py, rss_jvm = runtime.peak_rss_mb(pid)
        setup_s = median(res.setup_reps_s)
        env = runtime.environment(b.spark, args.seed, res.inputs)
        missing = [k for k, v in res.samples.items() if not v]
        if missing:
            b.errors.append(f"no successful {' or '.join(missing)} ops in the timed phase")
        e2e = None if missing else metrics.end_to_end(res, setup_s)
        layers = metrics.per_layer(b, res, session_s, rss_py + rss_jvm) if args.trace else None
        detail = {
            "workload": args.workload,
            "env": env,
            "setup": {"session_s": session_s, "reps_s": res.setup_reps_s},
            "named": metrics.named(args.workload, res, e2e, b, rss_py + rss_jvm) if e2e else None,
            "peak_rss_mb": {"python": rss_py, "jvm": rss_jvm},
            "extra": res.extra,
            "samples_ms": {k: [round(x * 1e3, 3) for x in v] for k, v in res.samples.items()},
            "reference_ms": {k: [round(x * 1e3, 3) for x in v] for k, v in res.ref.items()},
            "errors": b.errors[:20],
        }
        if args.trace:
            runtime.WORK_ROOT.mkdir(parents=True, exist_ok=True)
            b.tracer.dump(str(runtime.WORK_ROOT / f"spans-{args.workload}-{args.seed}.json"))
    finally:
        t = time.perf_counter()
        runtime.stop_session(b.spark)
        runtime.remove(work)
        teardown_s = time.perf_counter() - t
    detail["setup"]["teardown_s"] = teardown_s

    print("detail: " + json.dumps(detail, default=str), flush=True)
    if args.trace:
        units = metrics.PER_LAYER_UNITS
        values = layers
    else:
        units = {k: u for k, (u, _) in metrics.END_TO_END.items()}
        values = e2e
    if values is None:
        print("no result: " + "; ".join(b.errors[:3]), file=sys.stderr)
        return 1
    out = {
        "correct": b.failed == 0 and not missing,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    t0 = time.perf_counter()
    rc = main()
    print(f"wall {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    sys.exit(rc)
