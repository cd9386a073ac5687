"""Dataset maintenance: small-file compaction and re-clustering.

Append-style ingest (batch drops or the streaming pipeline) clusters each
batch *internally*, but cluster-key ranges overlap across batches — so a
point lookup touches one file per batch instead of one file overall, and
accumulated small files bloat task counts. ``compact`` rewrites the dataset
as one globally range-clustered file set and rebuilds the zone map,
restoring the "1 + ε row groups per value" property the reference's docs
promise of fresh clustering (docs/source/lakeshack.rst:184-270).

Local-FS swap is staged-write + rename (not atomic under concurrent
readers); at production scale the same rewrite runs under a table format's
commit protocol (Delta/Iceberg snapshot swap) — the data movement, which is
all the cost, is identical.
"""

from __future__ import annotations

import os
import shutil
import uuid

from lakeshack_spark.engine import Lakeshack
from lakeshack_spark.metastore import list_parquet_files
from lakeshack_spark.operators.zorder import zorder_write
from lakeshack_spark.writer import cluster_write


def compact(
    shack: Lakeshack,
    n_files: int,
    sort_columns: tuple[str, ...] = (),
) -> int:
    """Rewrite ``shack``'s dataset as ``n_files`` globally range-clustered
    files and rebuild the metastore. Returns the number of files removed.
    """
    return _rewrite(
        shack,
        lambda df, staging: cluster_write(
            df, staging, shack.cluster_column, n_files,
            sort_columns=sort_columns, mode="overwrite",
        ),
    )


def zorder_compact(
    shack: Lakeshack,
    n_files: int,
    zorder_columns: tuple[str, ...],
) -> int:
    """Like :func:`compact`, but lays files out on the Morton curve over
    ``zorder_columns`` (multi-column zone-map pruning — see
    ``operators.zorder``). Columns beyond the cluster column must be in
    the shack's ``optional_columns`` for their stats to be pruned on;
    enforced here so a silent no-prune layout can't ship."""
    untracked = [
        c for c in zorder_columns if c not in shack.metastore.tracked_columns
    ]
    if untracked:
        raise ValueError(
            f"z-order columns {untracked} are not stats-tracked; list them "
            "in optional_columns so the metastore can prune on them"
        )
    return _rewrite(
        shack,
        lambda df, staging: zorder_write(
            df, staging, zorder_columns, n_files, mode="overwrite"
        ),
    )


def _rewrite(shack: Lakeshack, write_staged) -> int:
    """Shared rewrite-and-swap: stage a new layout, rename it in, rebuild
    stats. Returns the number of files removed."""
    if "://" in shack.data_path and not shack.data_path.startswith("file://"):
        raise NotImplementedError(
            "compact() swaps files with local renames; on object storage "
            "run the rewrite under a table-format commit (Delta/Iceberg)"
        )
    old_files = list_parquet_files(shack.data_path, shack.spark)
    if not old_files:
        return 0
    df = shack.spark.read.schema(shack.schema).parquet(*old_files)
    staging = os.path.join(shack.data_path, "_compaction_staging")
    write_staged(df, staging)
    staged = list_parquet_files(staging)
    tag = uuid.uuid4().hex[:8]
    for i, path in enumerate(staged):
        os.replace(
            path,
            os.path.join(shack.data_path, f"compact-{tag}-{i:05d}.parquet"),
        )
    shutil.rmtree(staging, ignore_errors=True)
    for path in old_files:
        os.remove(path)
    # Rebuild stats from scratch: the old rows describe deleted files.
    shack.metastore.backend.drop()
    shack.update_metastore()
    return len(old_files)


def delete_rows(
    shack: Lakeshack,
    cluster_column_values,
    optional_where_clauses: tuple = (),
) -> dict:
    """Targeted row deletion — the compliance/GDPR primitive: remove every
    row matching the key set (and optional clauses) by rewriting ONLY the
    files the zone map says can contain them. Returns an accounting dict:
    ``files_total / files_candidate / files_rewritten / files_removed /
    rows_deleted``.

    This is where the metastore pays off on the WRITE path too: on a
    well-clustered 100 TB lake a key set touches a handful of files, so
    the delete costs a handful of file rewrites — not a full-table
    rewrite, not a tombstone layer. Files outside the candidate set are
    untouched (byte-identical, same paths — asserted in tests).

    Shape: ONE distributed pass over all candidate files computes the
    per-file match counts (input_file_name groupBy — not a count job
    per file); a file with zero matches (zone-map false positive) is
    never touched, a file whose matches equal its stats-row num_rows is
    removed outright with no survivors scan, and only genuinely mixed
    files get a rewrite: scan, drop matching rows, stage the
    replacement, atomic-rename in under a new name, remove the
    original. The metastore then reconciles in one ``update_metastore``
    pass — replacement files are new paths to index, vanished originals
    are dropped by the deleted-file reconciliation the ingest already
    performs. Local-rename swap, same caveat as :func:`compact`: under
    a table format, run the same rewrite as a Delta/Iceberg
    transaction.

    Exact-match semantics mirror ``Lakeshack.query``: a row is deleted
    iff ``cluster_column IN values`` AND every optional clause holds —
    pruning is best-effort, the per-file filter is exact.
    """
    from lakeshack_spark.engine import build_predicate

    if "://" in shack.data_path and not shack.data_path.startswith("file://"):
        raise NotImplementedError(
            "delete_rows() swaps files with local renames; on object "
            "storage run the rewrite under a table-format commit"
        )
    if not isinstance(cluster_column_values, (list, tuple)):
        cluster_column_values = [cluster_column_values]
    all_files = list_parquet_files(shack.data_path, shack.spark)
    candidates = shack.candidate_files(
        cluster_column_values, optional_where_clauses
    )
    pred = build_predicate(
        shack.cluster_column, cluster_column_values, optional_where_clauses
    )
    tag = uuid.uuid4().hex[:8]
    rewritten = removed = 0
    rows_deleted = 0
    # ONE planning pass over all candidates: per-file match counts via
    # input_file_name (instead of one count job per file), keyed by
    # basename (input_file_name returns scheme-qualified URIs). Files
    # with zero matches — zone-map false positives — never get touched;
    # files whose match count equals their stats-row num_rows are
    # removed outright without a survivors scan.
    matches: dict[str, int] = {}
    if candidates:
        from pyspark.sql import functions as F

        for r in (
            shack._open(candidates)
            .withColumn("__f", F.input_file_name())
            .filter(pred)
            .groupBy("__f")
            .count()
            .collect()
        ):
            matches[os.path.basename(r["__f"])] = r["count"]
    file_rows = {
        os.path.basename(r["filepath"]): r["num_rows"]
        for r in shack.metastore.stats_df()
        .select("filepath", "num_rows")
        .collect()
    }
    for i, path in enumerate(candidates):
        base = os.path.basename(path)
        n_match = matches.get(base, 0)
        if n_match == 0:
            continue  # zone-map false positive: leave the file alone
        rows_deleted += n_match
        if n_match == file_rows.get(base):
            os.remove(_local(path))
            removed += 1
            continue
        df = shack.spark.read.schema(shack.schema).parquet(path)
        survivors = df.filter(~pred)
        staging = os.path.join(
            shack.data_path, f"_delete_staging-{tag}-{i:05d}"
        )
        survivors.coalesce(1).write.mode("overwrite").parquet(staging)
        (staged,) = list_parquet_files(staging)
        os.replace(
            _local(staged),
            os.path.join(shack.data_path, f"delete-{tag}-{i:05d}.parquet"),
        )
        shutil.rmtree(staging, ignore_errors=True)
        os.remove(_local(path))
        rewritten += 1
    if rewritten or removed:
        shack.update_metastore()
    return {
        "files_total": len(all_files),
        "files_candidate": len(candidates),
        "files_rewritten": rewritten,
        "files_removed": removed,
        "rows_deleted": rows_deleted,
    }


def _local(path: str) -> str:
    return path[len("file://"):] if path.startswith("file://") else path
