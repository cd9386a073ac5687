"""Capture .explain('formatted') for the dedup-family internal lineages
(plan-only, nothing executed) — the registered entries wrapping them
either collect() internally (minhash_drop_set_docs) or hide the
interesting subtree behind the result projection, so dump_plans.py
can't show the shapes that matter.

Writes, under --out (default plans/r14) with --suffix:
  minhash_drop_set_walk<sfx>.txt    the drop set's bucket walk
  minhash_dedup_verified<sfx>.txt   the lazy verified-pairs plan (300 docs)
  minhash_verified_fused<sfx>.txt   the fused verified-pairs plan

Usage: python tools/dump_dedup_plans.py [--sf DIR] [--out plans/r14]
                                        [--suffix _before]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.dump_plans import formatted_plan  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="plans/r14")
    ap.add_argument("--suffix", default="_before")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from lakeshack_spark.operators import dedup
    from lakeshack_spark.session import get_spark
    from lakeshack_spark.sources.catalog import load_table

    spark = get_spark(app_name="dump_dedup_plans")
    os.makedirs(args.out, exist_ok=True)
    docs = load_table(spark, args.sf, "documents").select("doc_id", "text")

    def write(name: str, text: str) -> None:
        path = os.path.join(args.out, f"{name}{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path} ({len(text)} chars)")

    # ---- the drop set's bucket walk over its one persisted per-doc
    # frame (captured unpersisted — at runtime the subtrees below the
    # posexplode/projection read the cache) --------------------------
    perdoc = dedup._perdoc_bands(
        docs, "text", "doc_id", 32, 8, 1, with_shingles=True
    )
    walk = dedup._drop_set_walk(
        dedup._band_rows(perdoc), perdoc.select("doc_id", "__sh"), "doc_id", 0.9
    )
    write(
        "minhash_drop_set_walk",
        "== drop_set bucket walk (bucket-size window, shingle attach,\n"
        "   (band, bucket) repartition + sort, one mapInPandas) ==\n\n"
        + formatted_plan(walk),
    )

    # ---- verified pairs: the headline 300-doc lazy plan ----------------
    docs300 = (
        load_table(spark, args.sf, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "text")
    )
    write(
        "minhash_dedup_verified",
        "== minhash_verified_pairs, lazy route (300-doc headline shape) ==\n\n"
        + formatted_plan(
            dedup.minhash_verified_pairs(
                docs300, num_hashes=64, bands=16, k=1, threshold=0.9
            )
        ),
    )

    # ---- verified pairs, fused route -----------------------------------
    write(
        "minhash_verified_fused",
        "== minhash_verified_pairs, fused route (forced; the per-doc\n"
        "   frame is localCheckpoint'ed at construction) ==\n\n"
        + formatted_plan(
            dedup.minhash_verified_pairs(
                docs300, num_hashes=64, bands=16, k=1, threshold=0.9, fused=True
            )
        ),
    )
    spark.stop()


if __name__ == "__main__":
    main()
