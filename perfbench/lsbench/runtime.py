"""Process-level plumbing: the checkout's work directory, the Spark
session and its teardown, the environment record and peak memory."""

from __future__ import annotations

import os
import resource
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
WORK_ROOT = ROOT / ".bench_build" / "perfbench"


def program_present() -> bool:
    return (ROOT / "lakeshack_spark" / "__init__.py").is_file()


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path) -> None:
    """Everything the session and its Python workers need, set before the
    JVM starts: the program importable in executor-side Python (workers
    unpickle functions by module path), scratch and temp files inside the
    checkout, no console progress bars."""
    conf = work / "conf"
    conf.mkdir(parents=True, exist_ok=True)
    tmp = work / "tmp"
    tmp.mkdir(exist_ok=True)
    (conf / "spark-defaults.conf").write_text(
        "spark.ui.showConsoleProgress false\n"
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData\n"
        f"spark.sql.warehouse.dir {work / 'warehouse'}\n"
    )
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    os.environ["SPARK_CONF_DIR"] = str(conf)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # the JVMs' perf-counter files would land in /tmp whatever tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))


def start_session():
    """``get_spark`` as a user would call it; returns (spark, seconds)."""
    t0 = time.perf_counter()
    from lakeshack_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    return spark, time.perf_counter() - t0


def restart_session(spark):
    """Stop the context and call ``get_spark`` again in the running JVM;
    returns (spark, seconds of the ``get_spark`` call). The stop is the
    old session's teardown, not set-up, and is left out: with it a
    repetition read about 0.55 s or 1.0 s by turns, and the set-up
    median 30% apart between sets of runs."""
    spark.stop()
    return start_session()


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> tuple[float, float]:
    """Peak resident set of this Python process and of the JVM, in MB."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                jvm = int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return py, jvm


def environment(spark, seed: int, inputs: dict) -> dict:
    import pyarrow
    import pyspark

    sc = spark.sparkContext
    return {
        "master": sc.master,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "defaultParallelism": sc.defaultParallelism,
        "spark.driver.memory": sc.getConf().get("spark.driver.memory"),
        "nproc": nproc(),
        "seed": seed,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "inputs": inputs,
    }


def dir_stats(path: Path) -> tuple[int, int]:
    """(file count, bytes) of the parquet files under ``path``."""
    n = size = 0
    for p in path.rglob("*.parquet"):
        n += 1
        size += p.stat().st_size
    return n, size


def remove(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)
