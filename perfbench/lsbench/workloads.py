"""The two workloads. Each returns a :class:`Result`: latency samples
by op class, each paired with a plain-Spark reference op run right
after it, counters for the end-to-end metrics, and the raw layer
records that :mod:`lsbench.metrics` turns into per-layer numbers.

The reference ops use Spark alone, no code of the program, on the same
inputs: a ``lookup`` request is paired with a read of the whole lake
through ``spark.read.parquet`` and the same filter (what a user without
the stats store runs), a ``clean_corpus`` pass with a word-repetition
filter and an exact dedup in plain Spark. An op's latency over its reference's is what the gated
metrics report: the host's speed, which on a shared machine drifts by
a third within minutes, scales both and cancels out.

Each timed phase runs whole rounds for at least ``--seconds`` and at
least a fixed number of rounds, so that no class median rests on fewer
than three samples however slow the machine is.
"""

from __future__ import annotations

import hashlib
import json
import time
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import data
from .bench import Bench, rounds
from .oracle import FileKeys, OrdersOracle, checksum_table
from .runtime import ROOT, dir_stats, remove

LOOKUP_FILES = 128
OPTIONAL_COLUMNS = ["o_orderdate", "o_totalprice"]
SETUP_REPS = 3
#: clean_corpus's set-up (a new session) is short, so it repeats more.
CLEAN_SETUP_REPS = 5
#: Least request blocks (3 wide + 4 point requests each) a lookup run
#: times, and the blocks it runs untimed before.
LOOKUP_BLOCKS = 3
LOOKUP_WARM_BLOCKS = 1
#: Least clean_corpus rounds (a reference, a full pass, a lite pass) a
#: run times.
CLEAN_ROUNDS = 3
#: The clean_corpus reference's filter: least words, and most share of
#: them one word may take.
REF_MIN_WORDS = 3
REF_MAX_WORD_FRAC = 0.2
DIGESTS = ROOT / "perfbench" / "digests.json"


@dataclass
class Result:
    #: Seconds of each repetition of the workload's set-up.
    setup_reps_s: list[float]
    #: Latency samples in seconds, by class: ``heavy`` and ``light``.
    samples: dict[str, list[float]] = field(default_factory=lambda: {"heavy": [], "light": []})
    #: The latency of the reference op paired with each sample.
    ref: dict[str, list[float]] = field(default_factory=lambda: {"heavy": [], "light": []})
    #: Work items (requests or documents) the timed ops completed and the
    #: busy seconds they took: the workload's throughput.
    items: int = 0
    items_s: float = 0.0
    inputs: dict[str, Any] = field(default_factory=dict)
    extra: dict[str, Any] = field(default_factory=dict)
    #: Lookup records for the metastore/engine per-layer metrics.
    lookups: list[dict[str, Any]] = field(default_factory=list)
    store_path: str | None = None
    #: Layer records of the set-up's calls, by layer name.
    setup_calls: dict[str, list[dict[str, Any]]] = field(default_factory=dict)


def _setup(
    b: Bench, build: Callable[[Any], Any], restart: bool, reps: int = SETUP_REPS
) -> tuple[list[float], Any]:
    """Run ``build(previous_state)`` ``reps`` times, timing each;
    keep the last state. With ``restart``, each repetition first gets a
    new session from ``get_spark``, whose seconds count in it (the first
    one's is the launch ``b.session_s`` timed)."""
    times, state = [], None
    for i in range(reps):
        start_s = 0.0
        if restart:
            start_s = b.restart_session() if i else b.session_s
        t0 = time.perf_counter()
        state = build(state)
        times.append(start_s + time.perf_counter() - t0)
    return times, state


# ------------------------------------------------------------------ lookups


def _lookup(b: Bench, shack, req: data.Lookup, op: int, files_out: list) -> pa.Table:
    """One request through ``Lakeshack``. Untraced it is the public
    ``query_arrow``; traced, its two halves (``query`` then ``toArrow``)
    are timed as separate layer calls."""
    keys, clauses = list(req.keys), req.clauses()
    if not b.traced:
        table = shack.query_arrow(keys, clauses, columns=data.PROJECTION)
        files_out.append(shack.status())
        return table
    with b.layer("engine.query", op, cls=req.cls) as q:
        df = shack.query(keys, clauses, columns=data.PROJECTION)
    status = shack.status()
    q["status"] = status
    with b.layer("engine.to_arrow", op, cls=req.cls):
        table = df.toArrow()
    files_out.append(status)
    return table


def _lookup_op(
    b: Bench,
    shack,
    oracle: OrdersOracle,
    req: data.Lookup,
    res: Result,
    file_keys: FileKeys | None,
) -> float | None:
    statuses: list = []

    def check(table: pa.Table) -> str | None:
        if table.column_names != data.PROJECTION:
            return f"columns {table.column_names}"
        got = checksum_table(table)
        want = oracle.answer(req.keys, req.date_range)
        if got != want:
            return f"{req.cls} lookup {req.keys[:8]}: (rows, checksum) {got} != {want}"
        if b.traced and b.recording:
            t = time.perf_counter()
            files = shack.candidate_files(list(req.keys), req.clauses())
            useful = file_keys.useful(files, req.keys, req.date_range)
            b.overhead_s += time.perf_counter() - t
            res.lookups.append(
                dict(cls=req.cls, status=statuses[-1], rows=table.num_rows,
                     candidates=len(files), useful=useful)
            )
        return None

    return b.op(lambda op: _lookup(b, shack, req, op, statuses), check)


def _scan_op(b: Bench, lake: Path, oracle: OrdersOracle, req: data.Lookup) -> float | None:
    """The reference for a request: the same filter and projection
    through plain Spark over the whole lake, which prunes by Parquet's
    own footer statistics."""
    from pyspark.sql import functions as F

    def scan(op: int) -> pa.Table:
        cond = F.col("o_custkey").isin(list(req.keys))
        for col, cmp, value in req.clauses():
            cond &= F.col(col) >= value if cmp == ">=" else F.col(col) < value
        with b.layer("reference.scan", op, cls=req.cls):
            df = b.spark.read.parquet(str(lake)).filter(cond)
            return df.select(*data.PROJECTION).toArrow()

    def check(table: pa.Table) -> str | None:
        got = checksum_table(table)
        want = oracle.answer(req.keys, req.date_range)
        if got != want:
            return f"{req.cls} scan {req.keys[:8]}: (rows, checksum) {got} != {want}"
        return None

    return b.op(scan, check)


def run_lookup(b: Bench, seed: int, seconds: float, work: Path) -> Result:
    """Set-up: the lake is written once (``cluster_write``, timed apart);
    each set-up repetition builds a fresh stats store (``Lakeshack`` +
    ``update_metastore``) and the oracle's index."""
    from lakeshack_spark.engine import Lakeshack
    from lakeshack_spark.writer import cluster_write

    t0 = time.perf_counter()
    table = data.orders(seed)
    src = work / "orders.parquet"
    pq.write_table(table, src)
    lake = work / "lake"
    with b.layer("setup.writer", 0) as write:
        cluster_write(b.spark.read.parquet(str(src)), str(lake), "o_custkey",
                      n_files=LOOKUP_FILES)
    write["files"], write["bytes"] = dir_stats(lake)
    updates: list[dict[str, Any]] = []

    def build(prev):
        if prev is not None:
            remove(Path(prev[0].store_path))
        shack = Lakeshack(b.spark, str(lake), "o_custkey", OPTIONAL_COLUMNS)
        with b.layer("setup.metastore.update", 0) as update:
            shack.update_metastore()
        updates.append(update)
        return shack, OrdersOracle(table)

    t1 = time.perf_counter()
    reps, (shack, oracle) = _setup(b, build, restart=False)
    b.settle()
    res = Result(
        reps,
        inputs={"orders_rows": table.num_rows, "orders_arrow_bytes": table.nbytes,
                "lake_files": write["files"], "lake_bytes": write["bytes"]},
        store_path=shack.store_path,
        setup_calls={"setup.writer": [write], "setup.metastore.update": updates},
    )
    file_keys = FileKeys() if b.traced else None

    # Untimed warm-up, from a stream of its own: the first wide requests
    # and scans of a run still compile, and read up to twice as slow.
    warm = data.LookupStream(seed, salt=1)
    for _ in range(LOOKUP_WARM_BLOCKS):
        for req in warm.block():
            _lookup_op(b, shack, oracle, req, res, file_keys)
            _scan_op(b, lake, oracle, req)
    t3 = time.perf_counter()

    stream = data.LookupStream(seed)
    classes = {"wide": "heavy", "point": "light"}
    b.record(True)
    for _ in rounds(seconds, LOOKUP_BLOCKS):  # whole blocks only: a fixed mix
        for req in stream.block():
            lat = _lookup_op(b, shack, oracle, req, res, file_keys)
            ref = _scan_op(b, lake, oracle, req)
            if lat is not None and ref is not None:
                res.samples[classes[req.cls]].append(lat)
                res.ref[classes[req.cls]].append(ref)
    b.record(False)
    res.extra["phases_s"] = {"inputs": t1 - t0, "setup": sum(reps), "warmup": t3 - t1 - sum(reps),
                             "timed": time.perf_counter() - t3}
    res.items = len(res.samples["heavy"]) + len(res.samples["light"])
    res.items_s = sum(res.samples["heavy"]) + sum(res.samples["light"])
    return res


# ------------------------------------------------------------- clean_corpus


def digest(doc_ids: np.ndarray) -> str:
    return hashlib.sha256(np.sort(doc_ids).astype("<i8").tobytes()).hexdigest()[:32]


def recorded_digest(seed: int) -> str | None:
    if not DIGESTS.is_file():
        return None
    return json.loads(DIGESTS.read_text()).get(str(seed))


def run_clean_corpus(b: Bench, seed: int, seconds: float, work: Path) -> Result:
    """Set-up: each repetition is a session from ``get_spark`` (the first
    is the JVM's launch, the others a new context in it) and a load of
    the documents."""
    from lakeshack_spark.operators.pipeline import CleanConfig, clean_corpus

    t0 = time.perf_counter()
    docs = data.documents(seed)
    src = work / "documents.parquet"
    pq.write_table(docs, src)
    reps, _ = _setup(b, lambda prev: b.spark.read.parquet(str(src)).count(), restart=True,
                     reps=CLEAN_SETUP_REPS)
    spark = b.spark
    res = Result(reps, inputs={"documents": docs.num_rows,
                               "documents_arrow_bytes": docs.nbytes,
                               "documents_file_bytes": src.stat().st_size})
    expected = recorded_digest(seed)
    full: list[str] = []
    lite: list[str] = []
    survivors: set[int] = set()

    def full_pass(op: int):
        stats = [] if b.traced else None
        with b.layer("operators.clean_corpus", op, stage_stats=stats):
            out = clean_corpus(spark.read.parquet(str(src)), stage_stats=stats)
        with b.layer("operators.consume", op):
            out.write.format("noop").mode("overwrite").save()
        return out

    def check_full(out) -> str | None:
        try:
            ids = out.select("doc_id").toArrow().column("doc_id").to_numpy()
        finally:
            out.unpersist()
        d = digest(ids)
        full.append(d)
        survivors.clear()
        survivors.update(ids.tolist())
        if d != full[0]:
            return f"surviving doc_id digest {d} differs from the first pass's {full[0]}"
        if expected is not None and d != expected:
            return f"surviving doc_id digest {d} != recorded {expected}"
        return None

    def lite_pass(op: int) -> pa.Table:
        with b.layer("operators.clean_lite", op):
            return clean_corpus(
                spark.read.parquet(str(src)), CleanConfig(near_dedup=False)
            ).toArrow()

    def check_lite(table: pa.Table) -> str | None:
        ids = table.column("doc_id").to_numpy()
        d = digest(ids)
        lite.append(d)
        if d != lite[0]:
            return f"lite-pass survivor digest {d} differs from the first's {lite[0]}"
        if survivors and not survivors <= set(ids.tolist()):
            return "near-dedup kept documents the lite pass dropped"
        if "text_masked" not in table.column_names:
            return f"no text_masked column in {table.column_names}"
        return None

    # The reference, in plain Spark and the JVM alone as the pipeline's
    # stages are: a repetition filter from per-document word counts
    # (explode, two aggregations, a join back) and an exact dedup.
    def repetition_ok(text: str) -> bool:
        words = text.split(" ")
        return len(words) >= REF_MIN_WORDS and (
            max(Counter(words).values()) <= REF_MAX_WORD_FRAC * len(words))

    ref_expected = len({t for t in docs.column("text").to_pylist() if repetition_ok(t)})

    def ref_pass(op: int) -> int:
        from pyspark.sql import functions as F

        with b.layer("reference.dedup", op):
            df = spark.read.parquet(str(src)).repartition(spark.sparkContext.defaultParallelism)
            words = df.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
            per_doc = (words.groupBy("doc_id", "w").count()
                       .groupBy("doc_id").agg(F.max("count").alias("top"),
                                              F.sum("count").alias("n")))
            kept = df.join(per_doc, "doc_id").filter(
                (F.col("n") >= REF_MIN_WORDS) & (F.col("top") <= REF_MAX_WORD_FRAC * F.col("n")))
            return kept.dropDuplicates(["text"]).count()

    def check_ref(n: int) -> str | None:
        return None if n == ref_expected else f"reference dedup kept {n} != {ref_expected}"

    # Untimed warm-up: a reference and a lite pass. The first full pass
    # still compiles the near-dedup stages and takes about 1.5 times as
    # long as the later ones; the median of the full passes leaves it
    # out. (A full pass in the warm-up costs 10-20 s a run, more than the
    # time budget of all runs allows.)
    t1 = time.perf_counter()
    b.op(ref_pass, check_ref)
    b.op(lite_pass, check_lite)
    t2 = time.perf_counter()
    passes: list[tuple[float, float]] = []
    lites: list[tuple[float, float]] = []
    b.record(True)
    for _ in rounds(seconds, CLEAN_ROUNDS):
        # each op of a round takes the same place in every round, so
        # each follows the same kind of op and inherits the same garbage
        ref = b.op(ref_pass, check_ref)
        heavy = b.op(full_pass, check_full)
        light = b.op(lite_pass, check_lite)
        if ref is None:
            continue
        passes += [(heavy, ref)] if heavy is not None else []
        lites += [(light, ref)] if light is not None else []
    b.record(False)
    res.extra["phases_s"] = {"inputs_setup": t1 - t0, "warmup": t2 - t1,
                             "timed": time.perf_counter() - t2}
    for cls, pairs in (("heavy", passes), ("light", lites)):
        res.samples[cls] = [lat for lat, _ in pairs]
        res.ref[cls] = [ref for _, ref in pairs]
    res.items = docs.num_rows * len(passes)
    res.items_s = sum(res.samples["heavy"])
    res.extra.update(digest=full[0] if full else None, digest_recorded=expected is not None,
                     survivors=len(survivors))
    return res


WORKLOADS = {
    "lookup": run_lookup,
    "clean_corpus": run_clean_corpus,
}
