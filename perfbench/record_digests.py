"""Record the expected ``clean_corpus`` survivor digest per seed.

    python3 perfbench/record_digests.py 0 63

Runs ``clean_corpus`` once per seed in ``[first, last]`` on the seeded
documents and writes ``perfbench/digests.json`` (seed → digest of the
sorted surviving ``doc_id``s). The benchmark fails a pass whose digest
differs from the recorded one; re-record only when a change to the
program is meant to change which documents survive.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from lsbench import runtime  # noqa: E402


def main() -> int:
    first, last = int(sys.argv[1]), int(sys.argv[2])
    work = runtime.WORK_ROOT / "record-digests"
    runtime.remove(work)
    runtime.prepare_env(work)

    import pyarrow.parquet as pq

    from lsbench import data
    from lsbench.workloads import DIGESTS, digest

    spark, _ = runtime.start_session()
    from lakeshack_spark.operators.pipeline import clean_corpus

    digests = json.loads(DIGESTS.read_text()) if DIGESTS.is_file() else {}
    try:
        for seed in range(first, last + 1):
            src = work / f"documents-{seed}.parquet"
            pq.write_table(data.documents(seed), src)
            out = clean_corpus(spark.read.parquet(str(src)))
            ids = out.select("doc_id").toArrow().column("doc_id").to_numpy()
            out.unpersist()
            digests[str(seed)] = digest(ids)
            print(seed, digests[str(seed)], len(ids), flush=True)
    finally:
        runtime.stop_session(spark)
        runtime.remove(work)
    DIGESTS.write_text(
        json.dumps(dict(sorted(digests.items(), key=lambda kv: int(kv[0]))), indent=1) + "\n"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
