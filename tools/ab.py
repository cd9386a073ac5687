"""Interleaved same-process A/B and stage profiles of shipped operator routes.

Usage: python tools/ab.py <entry> [--n N] [--rounds R]

Every entry builds a deterministic corpus of ``n`` rows (xxhash-derived,
or the benchmark's seeded documents), localCheckpoint'ed once so every
leg reads identical materialized rows (``pipeline`` re-reads one parquet
file instead), then runs one loop:

1. warm-up + parity: each leg runs once on the corpus rows whose first
   column is below ``PARITY_ROWS``; with two or more legs the collected
   results must be equal row for row (the loop stops otherwise);
2. ``rounds`` timed rounds: the legs run in turn (order reversed on odd
   rounds), each through the noop sink, with bench.py's spin-sentinel
   samples taken only at the edges between legs — never during one;
3. one JSON line per round (leg walls, sentinel edges, and each leg's
   ``stage_stats``/``round_stats`` when the operator has the hook), then
   a summary line with each leg's min and median.

A leg calls only shipped entry points with their existing parameters.
Entries:

- ``cc``: connected_components with its per-round propagate checkpoint
  under AQE (``aqe_on``) or scoped AQE-off (``aqe_off``), chosen by
  pinning ``graph.CC_AQEOFF_MIN_NODES`` for the leg; random graph of
  ``n`` edges over n/2 nodes plus a 10k-node path (default 10M edges).
- ``srp64`` / ``srp128`` / ``srp256``: srp_signature(n_bits=64)
  ``impl="expr"`` vs ``"arrow"`` over ``n`` vectors of that many dims
  (default 200k) — the widths that placed ``SRP_ARROW_MIN_DIM``.
- ``simhash60`` / ``simhash400``: simhash ``impl="expr"`` vs ``"arrow"``
  over ``n`` docs of that many distinct hash-derived words (default 30k).
- ``verified_fused``: minhash_verified_pairs ``fused=False`` vs
  ``fused=True`` over ``n`` 15-word hash-derived docs, every 50th an
  exact duplicate of its predecessor (default 1M).
- ``dropset``: minhash_drop_set's stage profile (one leg) at its
  default parameters over the benchmark's ``n`` documents (30-word
  vocabulary, k=1 mega-buckets) plus a planted cluster of 2n/5 copies
  of one doc (default 5000).
- ``dropset_pipeline``: the same profile on clean_corpus's near-dedup
  input — the survivors of its prefilter over the benchmark's ``n``
  documents, at ``CleanConfig().minhash_cfg`` (k=2; default 2500).
- ``pipeline``: clean_corpus's stage profile (one leg) over the
  benchmark's ``n`` documents, read from a single parquet file each leg
  as the ``clean_corpus`` workload reads them (default 2500).

The benchmark's documents are ``perfbench.lsbench.data.documents(0, n)``.

Decided forks are not kept here as private re-implementations; their
records are OPTIMIZATION_r13.md / OPTIMIZATION_r14.md and plans/r13,
plans/r14.
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import Column, DataFrame, SparkSession, functions as F  # noqa: E402

from bench import spin_sentinel  # noqa: E402
from lakeshack_spark.operators import graph  # noqa: E402
from lakeshack_spark.operators.dedup import (  # noqa: E402
    minhash_drop_set,
    minhash_verified_pairs,
    simhash,
)
from lakeshack_spark.operators.pipeline import CleanConfig, clean_corpus  # noqa: E402
from lakeshack_spark.operators.similarity import srp_signature  # noqa: E402
from lakeshack_spark.session import get_spark  # noqa: E402
from perfbench.lsbench import data  # noqa: E402

#: Parity runs every leg on the corpus rows whose first column is below
#: this — small enough to collect, and doubles as each leg's warm-up.
PARITY_ROWS = 2000

#: A leg maps (corpus, stats list) to its result frame; operators with a
#: stage_stats/round_stats hook append to the list.
Leg = Callable[[DataFrame, list], DataFrame]


@dataclass(frozen=True)
class Entry:
    build: Callable[[SparkSession, int], DataFrame]
    legs: dict[str, Leg]
    default_n: int


def _materialize(spark: SparkSession, df: DataFrame) -> DataFrame:
    return df.repartition(spark.sparkContext.defaultParallelism).localCheckpoint(
        eager=True
    )


def _word(key: Column, j: int) -> Column:
    return F.concat(F.lit("t"), F.conv(F.hex(F.xxhash64(key, F.lit(j))), 16, 36))


def _docs(spark: SparkSession, n: int, n_words: int) -> DataFrame:
    """``n`` docs of ``n_words`` hash-derived words (disjoint vocabulary
    up to hash collisions); every 50th doc copies its predecessor."""
    i = F.col("id")
    src = i - F.when(i % 50 == 1, 1).otherwise(0)
    return _materialize(
        spark,
        spark.range(n).select(
            i.alias("doc_id"),
            F.concat_ws(" ", *[_word(src, j) for j in range(n_words)]).alias("text"),
        ),
    )


def _bench_docs(spark: SparkSession, n: int) -> DataFrame:
    """The ``clean_corpus`` workload's documents, read back from one
    parquet file as the workload reads them (so ``spread_small_input``
    sees the same single-file scan)."""
    work = tempfile.mkdtemp(prefix="ab_docs_")
    atexit.register(shutil.rmtree, work, True)
    path = os.path.join(work, "documents.parquet")
    pq.write_table(data.documents(0, n), path)
    return spark.read.parquet(path)


def _graph(spark: SparkSession, n: int) -> DataFrame:
    """Giant sparse component (average degree ~4 once symmetrized) plus
    a 10k-node path, so pointer jumping needs several rounds."""
    nodes = F.lit(max(n // 2, 2))
    rnd = spark.range(n).select(
        F.pmod(F.xxhash64("id"), nodes).alias("id_a"),
        F.pmod(F.xxhash64("id", F.lit(1)), nodes).alias("id_b"),
    )
    path = spark.range(9_999).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    return _materialize(spark, rnd.union(path))


def _vectors(spark: SparkSession, n: int, dim: int) -> DataFrame:
    """Exact float32 coordinates in [-1, 1) (dyadic values)."""
    coords = [
        ((F.pmod(F.xxhash64("id", F.lit(j)), F.lit(65536)) - 32768) / 32768.0).cast(
            "float"
        )
        for j in range(dim)
    ]
    return _materialize(
        spark,
        spark.range(n).select(F.col("id").alias("vec_id"), F.array(*coords).alias("embedding")),
    )


def _planted_cluster(spark: SparkSession, n: int) -> DataFrame:
    """The benchmark's documents plus 2n/5 copies of doc 0 (the shape
    of 2000 copies on a 5k-doc corpus). Negative ids for the copies: the
    warm-up subset holds the whole cluster, and keep-earliest keeps a
    copy, not doc 0."""
    docs = _bench_docs(spark, n).select("doc_id", "text")
    copies = spark.range(max(2 * n // 5, 2)).select(
        (F.lit(-1) - F.col("id")).alias("doc_id"),
        F.lit(docs.filter(F.col("doc_id") == 0).first().text).alias("text"),
    )
    return _materialize(spark, docs.unionByName(copies))


def _survivors(spark: SparkSession, n: int) -> DataFrame:
    """clean_corpus's near-dedup input: its survivors without near-dedup."""
    survivors = clean_corpus(_bench_docs(spark, n), CleanConfig(near_dedup=False))
    out = _materialize(spark, survivors.select("doc_id", "text"))
    survivors.unpersist()
    return out


def _cc_leg(min_nodes: int) -> Leg:
    def leg(pairs: DataFrame, stats: list) -> DataFrame:
        prev = graph.CC_AQEOFF_MIN_NODES
        graph.CC_AQEOFF_MIN_NODES = min_nodes
        try:
            return graph.connected_components(pairs, round_stats=stats)
        finally:
            graph.CC_AQEOFF_MIN_NODES = prev

    return leg


def _srp_leg(impl: str, dim: int) -> Leg:
    return lambda df, _: srp_signature(df, n_bits=64, dim=dim, impl=impl).select(
        "vec_id", "srp_bits"
    )


def _simhash_leg(impl: str) -> Leg:
    return lambda df, _: simhash(df, impl=impl).select("doc_id", "simhash")


def _verified_leg(fused: bool) -> Leg:
    return lambda df, _: minhash_verified_pairs(df, fused=fused)


def _dropset_leg(**params) -> Leg:
    return lambda df, stats: minhash_drop_set(df, stage_stats=stats, **params)


def _pipeline_leg(df: DataFrame, stats: list) -> DataFrame:
    return clean_corpus(df, stage_stats=stats)


def _vectors_of(dim: int) -> Callable[[SparkSession, int], DataFrame]:
    return lambda spark, n: _vectors(spark, n, dim)


def _docs_of(n_words: int) -> Callable[[SparkSession, int], DataFrame]:
    return lambda spark, n: _docs(spark, n, n_words)


ENTRIES: dict[str, Entry] = {
    "cc": Entry(
        _graph,
        {"aqe_on": _cc_leg(sys.maxsize), "aqe_off": _cc_leg(0)},
        10_000_000,
    ),
    **{
        f"srp{dim}": Entry(
            _vectors_of(dim), {i: _srp_leg(i, dim) for i in ("expr", "arrow")}, 200_000
        )
        for dim in (64, 128, 256)
    },
    **{
        f"simhash{w}": Entry(
            _docs_of(w), {i: _simhash_leg(i) for i in ("expr", "arrow")}, 30_000
        )
        for w in (60, 400)
    },
    "verified_fused": Entry(
        _docs_of(15),
        {"lazy": _verified_leg(False), "fused": _verified_leg(True)},
        1_000_000,
    ),
    "dropset": Entry(_planted_cluster, {"drop_set": _dropset_leg()}, 5_000),
    "dropset_pipeline": Entry(
        _survivors,
        {"drop_set": _dropset_leg(**CleanConfig().minhash_cfg)},
        data.DOCS,
    ),
    "pipeline": Entry(_bench_docs, {"clean_corpus": _pipeline_leg}, data.DOCS),
}


def _run(leg: Leg, corpus: DataFrame, stats: list) -> float:
    t0 = time.time()
    out = leg(corpus, stats)
    out.write.format("noop").mode("overwrite").save()
    wall = round(time.time() - t0, 3)
    out.unpersist()
    return wall


def _rows(leg: Leg, corpus: DataFrame) -> list[tuple]:
    out = leg(corpus, [])
    rows = sorted(tuple(r) for r in out.collect())
    out.unpersist()
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("entry", choices=sorted(ENTRIES))
    ap.add_argument("--n", type=int, default=None)
    ap.add_argument("--rounds", type=int, default=3)
    args = ap.parse_args()
    entry = ENTRIES[args.entry]
    n = entry.default_n if args.n is None else args.n

    spark = get_spark(app_name=f"ab_{args.entry}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        corpus = entry.build(spark, n)
        print(json.dumps({"entry": args.entry, "n": n, "rows": corpus.count()}), flush=True)

        small = corpus.filter(F.col(corpus.columns[0]) < PARITY_ROWS)
        results = {name: _rows(leg, small) for name, leg in entry.legs.items()}
        if len(results) > 1:
            (first, ref), *rest = results.items()
            mismatched = [name for name, rows in rest if rows != ref]
            print(
                json.dumps(
                    {
                        "parity_rows": len(ref),
                        "parity": "mismatch" if mismatched else "OK",
                        "mismatched_vs_" + first: mismatched,
                    }
                ),
                flush=True,
            )
            if mismatched:
                sys.exit(1)

        names = list(entry.legs)
        walls: dict[str, list[float]] = {name: [] for name in names}
        for rnd in range(args.rounds):
            rec: dict = {"round": rnd, "sentinel_ms": [round(spin_sentinel(), 1)]}
            for name in names if rnd % 2 == 0 else names[::-1]:
                stats: list = []
                walls[name].append(_run(entry.legs[name], corpus, stats))
                rec[f"{name}_sec"] = walls[name][-1]
                if stats:
                    rec[f"{name}_stats"] = stats
                rec["sentinel_ms"].append(round(spin_sentinel(), 1))
            print(json.dumps(rec), flush=True)
        print(
            json.dumps(
                {
                    name: {"min": min(w), "median": statistics.median(w)}
                    for name, w in walls.items()
                    if w
                }
            ),
            flush=True,
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
