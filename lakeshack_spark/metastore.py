"""File-level min/max statistics metastore ("zone map") for Parquet datasets.

Reference parity: lakeshack/metastore.py (560 lines) — one row per Parquet
file holding ``filepath`` plus ``{col}_min`` / ``{col}_max`` for the cluster
column and each optional column, built from Parquet *footer* statistics only
(reference ``Metastore._get_min_max``, lakeshack/metastore.py:278-339), with
idempotent ingest (anti-join on filepath, lakeshack/metastore.py:243-260) and
an interval-overlap pruning query (lakeshack/metastore.py:414-481).

Spark-first design:

- One zone-map classifier, written once as Arrow/numpy code over a stats
  batch (:func:`_classify`, :func:`_value_spans`), serves pruning, the
  I/O summary and metadata-only aggregation — no RDBMS round-trips (the
  reference issues one SQL query *per cluster value*,
  lakeshack/metastore.py:474-476).
- It runs at one of two sites: on the driver over the backend's Arrow
  read (zero Spark jobs) for a local store up to
  ``DRIVER_PRUNE_MAX_FILES`` rows, or per batch inside
  ``stats_df().mapInArrow`` for a remote or larger store. Each batch
  yields a partial and one merge folds them, so both sites answer
  identically by construction.
- Ingest fans footer reads out across executors with ``mapPartitions`` +
  pyarrow: metadata-only I/O, so a 100 TB dataset with millions of files
  costs millions of ~10 KB footer reads spread over the cluster, never a
  data read.
"""

from __future__ import annotations

import functools
import logging
import os
from datetime import date, datetime, timezone
from typing import Any, Iterable, Iterator, Sequence

import pandas as pd  # module-level: pandas_udf type hints must resolve
from pyspark.sql import DataFrame, Row, SparkSession, functions as F, types as T

from lakeshack_spark.stats_backends import StatsBackend, make_backend

logger = logging.getLogger(__name__)

#: Comparison operators accepted in optional where-clauses, and how each one
#: inverts onto file-level [min, max] intervals for pruning
#: (truth table from lakeshack/metastore.py:453-467).
PRUNE_OPS = (">=", ">", "=", "==", "<", "<=")

#: Nullness clauses prune on the per-column NULL-count stats instead of
#: the [min, max] interval: `IS NOT NULL` skips provably all-NULL files,
#: `IS NULL` skips provably NULL-free files (extension beyond the
#: reference's operator set — its metastore has no null counts). The
#: clause value slot is ignored (pass None).
NULLNESS_OPS = ("is_null", "is_not_null")

ALL_CLAUSE_OPS = PRUNE_OPS + NULLNESS_OPS


def _arrow_tz_map(schema: Any) -> dict[str, str]:
    """Column → IANA zone for tz-aware timestamp columns of a pyarrow
    schema (what a reference user's ``dataset.schema`` carries); empty for
    a Spark StructType, whose TimestampType has no embedded zone."""
    try:
        import pyarrow as pa
    except ImportError:  # pragma: no cover
        return {}
    if not isinstance(schema, pa.Schema):
        return {}
    return {
        f.name: f.type.tz
        for f in schema
        if isinstance(f.type, pa.TimestampType) and f.type.tz is not None
    }


def as_spark_schema(schema: Any) -> T.StructType:
    """Accept either a Spark StructType or a pyarrow.Schema (what a
    reference user holds — ``dataset.schema``, lakeshack/metastore.py's
    constructor input) and return a StructType."""
    if isinstance(schema, T.StructType):
        return schema
    import pyarrow as pa

    if isinstance(schema, pa.Schema):
        from pyspark.sql.pandas.types import from_arrow_schema

        return from_arrow_schema(schema)
    raise TypeError(
        f"schema must be a StructType or pyarrow.Schema, got {type(schema)}"
    )


def _spark_stat_type(dtype: T.DataType) -> T.DataType | None:
    """Spark type used to *store* min/max for a data column of ``dtype``.

    Mirrors ``Metastore._map_pa_type`` (lakeshack/metastore.py:483-511):
    string→string, any integer→long, any floating→double, date→date,
    timestamp→timestamp; anything else is not indexable (returns None and
    the caller skips the column with a warning,
    lakeshack/metastore.py:540-553).
    """
    if isinstance(dtype, (T.StringType, T.VarcharType, T.CharType)):
        return T.StringType()
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return T.LongType()
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return T.DoubleType()
    if isinstance(dtype, T.DateType):
        return T.DateType()
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return T.TimestampType()
    return None


def _to_py_stat(value: Any) -> Any:
    """Normalize a pyarrow footer statistic to a plain Python value.

    tz-aware timestamps are converted to naive UTC (the engine runs with
    ``spark.sql.session.timeZone=UTC``); the reference instead re-localizes
    with pytz (lakeshack/metastore.py:312-331) because it round-trips
    through SQLAlchemy.
    """
    if isinstance(value, datetime) and value.tzinfo is not None:
        return value.astimezone(timezone.utc).replace(tzinfo=None)
    return value


def _plain_py(value: Any) -> Any:
    """pyarrow ``.as_py()`` returns pandas Timestamps when pandas is
    importable; normalize to stdlib datetimes (Spark literal rows and
    plain comparisons both want those)."""
    return value.to_pydatetime() if hasattr(value, "to_pydatetime") else value


def _strip_arrow_tz(table):
    """Vectorized twin of :func:`_to_py_stat` for a whole Arrow table:
    tz-aware timestamp columns become naive (the stored instants are
    already UTC; Arrow's cast keeps the instant and renders the UTC
    wall)."""
    import pyarrow as pa

    fields = []
    changed = False
    for f in table.schema:
        if isinstance(f.type, pa.TimestampType) and f.type.tz is not None:
            fields.append(pa.field(f.name, pa.timestamp(f.type.unit)))
            changed = True
        else:
            fields.append(f)
    return table.cast(pa.schema(fields)) if changed else table


def _arrow_path(filepath: str) -> str:
    """Normalize a Hadoop-style URI into one pyarrow understands
    (s3a -> s3, file -> bare local path)."""
    p = _strip_file_scheme(filepath)
    if p.startswith("s3a://"):
        p = "s3://" + p[len("s3a://"):]
    return p


def _file_size(filepath: str) -> int | None:
    """Physical file size in bytes, via the local filesystem or the
    pyarrow filesystem the URI resolves to. None when undeterminable
    (byte telemetry must never fail ingest or a query)."""
    try:
        p = _arrow_path(filepath)
        if _is_remote(p):
            import pyarrow.fs as pafs

            fs, rel = pafs.FileSystem.from_uri(p)
            return fs.get_file_info(rel).size
        return os.path.getsize(p)
    except Exception as exc:
        logger.warning("could not size file %s: %s", filepath, exc)
        return None


def _footer_stats_for_files(
    filepaths: Iterable[str],
    columns: Sequence[str],
    filesystem: Any = None,
) -> Iterator[dict[str, Any]]:
    """Executor-side: read Parquet *footers* only and emit one stats row per
    file: ``{filepath, num_rows, file_bytes, {col}_min, {col}_max,
    {col}_nulls, ...}``.

    Seeds from row group 0 then folds min/max across all row groups, like
    ``Metastore._get_min_max`` (lakeshack/metastore.py:307-337). Columns with
    missing statistics get NULL min/max (the file then always survives
    pruning for predicates on that column — safe, just not skippable).
    ``file_bytes`` is captured here from the SAME open handle that serves
    the footer read (``NativeFile.size()`` — no second filesystem stat),
    so per-query byte telemetry is a column sum over the store instead of
    one filesystem stat per candidate file per query. Filesystem objects
    are resolved once per scheme per partition, not per file.

    An explicit ``filesystem`` (reference ``Metastore._get_min_max``'s
    third argument, lakeshack/metastore.py:280-301) bypasses URI-scheme
    resolution entirely: paths are opened verbatim against it. pyarrow
    filesystems pickle with their configuration, so the same object the
    caller built (credentials, endpoint, region) is what executors use.
    """
    import pyarrow.fs as pafs  # local imports: run on executors
    import pyarrow.parquet as pq

    fs_cache: dict[tuple[str, str], Any] = {}

    def open_with_size(path: str):
        if filesystem is not None:
            handle = filesystem.open_input_file(path)
            return pq.ParquetFile(handle), handle.size()
        p = _arrow_path(path)
        scheme = p.split("://", 1)[0] if "://" in p else ""
        rel = p.split("://", 1)[1] if scheme else p
        # Cache key includes the bucket/authority, not just the scheme:
        # FileSystem.from_uri resolves S3 region/credentials PER BUCKET,
        # so a partition spanning buckets in different regions must not
        # reuse the first bucket's filesystem (files would fail to open
        # and be skipped as unreadable — a silent partial index).
        netloc = rel.split("/", 1)[0] if scheme else ""
        fs = fs_cache.get((scheme, netloc))
        if fs is None:
            fs = (
                pafs.FileSystem.from_uri(p)[0]
                if scheme
                else pafs.LocalFileSystem()
            )
            fs_cache[(scheme, netloc)] = fs
        handle = fs.open_input_file(rel)
        return pq.ParquetFile(handle), handle.size()

    for filepath in filepaths:
        try:
            pf, n_bytes = open_with_size(filepath)
        except Exception as exc:  # non-parquet / unreadable: skip with a log
            logger.warning("skipping unreadable file %s: %s", filepath, exc)
            continue
        md = pf.metadata
        name_to_idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
        row: dict[str, Any] = {
            "filepath": filepath,
            "num_rows": md.num_rows,
            "file_bytes": n_bytes,
        }
        for col in columns:
            cmin = cmax = None
            have_min_max = True
            nulls: int | None = 0
            idx = name_to_idx.get(col)
            if idx is None:
                have_min_max = False
                nulls = None
            else:
                for rg in range(md.num_row_groups):
                    rg_meta = md.row_group(rg)
                    stats = rg_meta.column(idx).statistics
                    # min/max and null_count availability are INDEPENDENT
                    # (an all-NULL row group has a null_count but no
                    # min/max), so each folds under its own flag. A row
                    # group PROVABLY all-NULL (null_count == its rows)
                    # contributes nothing to min/max and does not poison
                    # the fold.
                    if stats is not None and stats.has_min_max:
                        lo, hi = _to_py_stat(stats.min), _to_py_stat(stats.max)
                        cmin = lo if cmin is None or lo < cmin else cmin
                        cmax = hi if cmax is None or hi > cmax else cmax
                    elif not (
                        stats is not None
                        and stats.has_null_count
                        and stats.null_count == rg_meta.num_rows
                    ):
                        have_min_max = False
                    if stats is None or not stats.has_null_count:
                        nulls = None
                    elif nulls is not None:
                        nulls += stats.null_count
            row[f"{col}_min"] = cmin if have_min_max else None
            row[f"{col}_max"] = cmax if have_min_max else None
            row[f"{col}_nulls"] = nulls
        yield row


def interval_keeps(op: str, lo: Any, hi: Any, value: Any) -> bool:
    """The zone-map survival predicate for one clause against one file's
    [lo, hi] interval — the pure core of the truth table
    (lakeshack/metastore.py:453-467). NULL stats always keep the file
    (pruning is best-effort; the scan re-applies exact predicates)."""
    if lo is None or hi is None:
        return True
    if op == ">=":
        return hi >= value
    if op == ">":
        return hi > value
    if op == "<=":
        return lo <= value
    if op == "<":
        return lo < value
    return lo <= value <= hi  # "=", "=="


def nullness_keeps(op: str, nulls: Any, num_rows: Any) -> bool:
    """The survival predicate for a nullness clause against one file's
    null-count stat — the pure core the vectorized paths mirror. An
    UNKNOWN null count (None) always keeps the file (best-effort
    pruning; the scan re-applies the exact predicate)."""
    if nulls is None:
        return True
    if op == "is_not_null":
        return num_rows is None or nulls < num_rows
    return nulls > 0  # "is_null"


# ------------------------------------------------------------- classifier
#
# The zone-map truth table, written once as Arrow/numpy code over a stats
# batch (the vectorized form of interval_keeps / nullness_keeps plus the
# interior rule). FileStatsMetastore._classify_store runs it at two sites:
# on the driver over the backend's Arrow read, or per batch inside
# ``stats_df().mapInArrow``. Each pass emits partial rows in one layout and
# the driver folds them with one merge, whichever site produced them.


def _checked_clauses(
    clauses: Sequence[tuple[str, str, Any]],
) -> list[tuple[str, str, Any]]:
    """Clause values normalized like footer stats (tz-aware → naive UTC);
    an unknown operator raises before the store is read."""
    out = [(c, op, _to_py_stat(v)) for c, op, v in clauses]
    for _col, op, _value in out:
        if op not in ALL_CLAUSE_OPS:
            raise ValueError(
                f"unsupported operator {op!r}; use one of {ALL_CLAUSE_OPS}"
            )
    return out


def _true(mask) -> Any:
    """An Arrow boolean column as a numpy mask, NULL read as False."""
    import numpy as np
    import pyarrow.compute as pc

    filled = pc.fill_null(mask, False)
    return np.asarray(filled.to_numpy(zero_copy_only=False), dtype=bool)


def _stat(table, name: str):
    """Stats column ``name``, all-NULL (unknown) when the batch lacks it:
    a store that predates null counts or byte sizes, or a synthetic
    table."""
    import pyarrow as pa

    if name in table.column_names:
        return table.column(name)
    return pa.chunked_array([pa.nulls(table.num_rows, pa.int64())])


def _dedup_filepaths(table):
    """First stats row per filepath, as ``stats_df()`` keeps one: two
    concurrent updates can append a file's (identical) row twice."""
    import numpy as np

    codes = table.column("filepath").combine_chunks().dictionary_encode()
    if len(codes.dictionary) == table.num_rows:
        return table
    _paths, first = np.unique(codes.indices.to_numpy(), return_index=True)
    return table.take(np.sort(first))


def _clause_masks(table, col: str, op: str, value: Any):
    """The truth table for one clause over a stats batch
    (lakeshack/metastore.py:453-467, plus nullness), as two numpy masks:

    - ``survive`` — some row may match: the prune rule. NULL stats or an
      unknown null count keep the file (:func:`interval_keeps`,
      :func:`nullness_keeps`): pruning is best-effort and the scan
      re-applies the exact predicate.
    - ``full`` — every row provably matches: the interior rule. The
      interval lies wholly inside the clause AND the column is provably
      NULL-free (a NULL fails every comparison). Unknown stats are never
      interior: the conservative direction is the opposite of pruning's.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    nulls = _stat(table, f"{col}_nulls")
    if op in NULLNESS_OPS:
        num_rows = table.column("num_rows")
        if op == "is_not_null":
            may, full = pc.less(nulls, num_rows), pc.equal(nulls, 0)
        else:
            may, full = pc.greater(nulls, 0), pc.equal(nulls, num_rows)
        return _true(may) | _true(pc.is_null(nulls)), _true(full)
    lo, hi = table.column(f"{col}_min"), table.column(f"{col}_max")
    # pa.scalar WITHOUT a forced type: casting 10.5 to an int64 stat column
    # would TRUNCATE to 10 and silently over-prune (x_min=10 under
    # `< 10.5` must be kept); Arrow's kernels promote mixed numeric
    # operands instead.
    v = pa.scalar(value)
    if op in (">=", ">"):
        cmp = pc.greater_equal if op == ">=" else pc.greater
        may, full = cmp(hi, v), cmp(lo, v)
    elif op in ("<=", "<"):
        cmp = pc.less_equal if op == "<=" else pc.less
        may, full = cmp(lo, v), cmp(hi, v)
    else:  # "=", "=="
        may = pc.and_(pc.less_equal(lo, v), pc.greater_equal(hi, v))
        full = pc.and_(pc.equal(lo, v), pc.equal(hi, v))
    unknown = _true(pc.or_(pc.is_null(lo), pc.is_null(hi)))
    return _true(may) | unknown, _true(full) & _true(pc.equal(nulls, 0))


def _classify(table, clauses, tracked: Sequence[str]):
    """``(survive, full)`` for every file of a stats batch under the
    AND-ed clauses. A clause on an untracked column proves nothing: every
    file survives it (the scan filters exactly) and none is interior."""
    import numpy as np

    survive = np.ones(table.num_rows, dtype=bool)
    full = survive.copy()
    for col, op, value in clauses:
        if col not in tracked:
            full[:] = False
            continue
        may, whole = _clause_masks(table, col, op, value)
        survive &= may
        full &= whole
    return survive, full


def _search_keys(values: Sequence[Any]):
    """The sorted IN-list as the numpy array :func:`_value_spans`
    searches: dates and datetimes as datetime64 (the dtype Arrow's
    temporal stats convert to), everything else as numpy infers."""
    import numpy as np

    return np.array(
        [np.datetime64(v) if isinstance(v, (datetime, date)) else v for v in values]
    )


def _value_spans(table, cluster: str, keys):
    """Per file, the slice ``[first, end)`` of the sorted IN-list ``keys``
    that its cluster-column ``[min, max]`` contains: two
    ``searchsorted`` calls over the non-NULL rows, one rule for every
    cluster type. NULL stats keep every value."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    lo, hi = table.column(f"{cluster}_min"), table.column(f"{cluster}_max")
    known = ~_true(pc.or_(pc.is_null(lo), pc.is_null(hi)))
    first = np.zeros(table.num_rows, dtype=np.int64)
    end = np.full(table.num_rows, len(keys), dtype=np.int64)
    if len(keys):
        rows = pa.array(known)
        first[known] = np.searchsorted(keys, lo.filter(rows).to_numpy(), "left")
        end[known] = np.searchsorted(keys, hi.filter(rows).to_numpy(), "right")
    return first, end


#: Partial layout of a prune or summary pass: one row per candidate file
#: (its IN-list slice, footer row count and size) and one tally row per
#: batch (NULL filepath) carrying the batch's file count.
_FILE_ROWS = T.StructType(
    [
        T.StructField("filepath", T.StringType()),
        *[
            T.StructField(name, T.LongType())
            for name in ("first", "end", "num_rows", "file_bytes", "n_files")
        ],
    ]
)


def _file_rows(table, mask, first, end):
    """The ``_FILE_ROWS`` partial of a stats batch for the files under
    ``mask``."""
    import numpy as np
    import pyarrow as pa

    idx = pa.array(np.nonzero(mask)[0], pa.int64())
    files = pa.table(
        {
            "filepath": table.column("filepath").take(idx),
            "first": first[mask],
            "end": end[mask],
            "num_rows": table.column("num_rows").take(idx),
            "file_bytes": _stat(table, "file_bytes").take(idx),
        }
    )
    tally = pa.table({"n_files": pa.array([table.num_rows], pa.int64())})
    return pa.concat_tables([files, tally], promote_options="default")


def _prune_partial(table, clauses, tracked, cluster, keys):
    """Files that survive every clause and whose interval holds some
    IN-list value."""
    survive, _full = _classify(table, clauses, tracked)
    first, end = _value_spans(table, cluster, keys)
    return _file_rows(table, survive & (end > first), first, end)


def _candidate_partial(table, candidates):
    """The named candidate files, for a standalone ``stats_summary``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    mask = _true(
        pc.is_in(
            table.column("filepath"), value_set=pa.array(candidates, pa.string())
        )
    )
    none = np.zeros(table.num_rows, dtype=np.int64)
    return _file_rows(table, mask, none, none)


def _merge_file_rows(partials, values, n_candidate: int | None = None):
    """Fold ``_FILE_ROWS`` partials into ``({filepath: IN-list values},
    stats summary)``. ``n_candidate`` defaults to the mapping's size."""
    import pyarrow.compute as pc

    files = partials.filter(pc.is_valid(partials.column("filepath")))
    paths, first, end = (
        files.column(c).to_pylist() for c in ("filepath", "first", "end")
    )
    mapping = {p: values[f:e] for p, f, e in zip(paths, first, end)}
    n_total = pc.sum(partials.column("n_files")).as_py() or 0
    n_cand = len(mapping) if n_candidate is None else n_candidate
    sizes = files.column("file_bytes")
    return mapping, {
        "n_files_total": n_total,
        "n_files_candidate": n_cand,
        "n_files_pruned": max(n_total - n_cand, 0),
        "n_rows_candidate": pc.sum(files.column("num_rows")).as_py() or 0,
        # None means UNKNOWN, never a partial sum: a candidate whose size
        # was not recorded at ingest would silently under-report the
        # upper I/O bound otherwise.
        "bytes_candidate": (
            None if sizes.null_count else pc.sum(sizes).as_py() or 0
        ),
    }


def _agg_partial(
    table, clauses, tracked, min_max_columns, count_columns, subset
):
    """One stats batch's ``plan_agg`` partial: a row per boundary file
    (under a ``files=`` subset, per classified file, so the merge can
    name the members the store never indexed) and one tally row (NULL
    filepath) with the batch's file counters and its interior files'
    row count, non-NULL counts and min/max."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if subset is not None:
        table = table.filter(
            pc.is_in(
                table.column("filepath"), value_set=pa.array(subset, pa.string())
            )
        )
    n = table.num_rows
    survive, full = _classify(table, clauses, tracked)
    num_rows = table.column("num_rows")
    serveable = np.ones(n, dtype=bool)
    for col in min_max_columns:
        # non-NULL min/max, or provably all-NULL: serves as "no contribution"
        lo, hi = table.column(f"{col}_min"), table.column(f"{col}_max")
        serveable &= _true(pc.and_(pc.is_valid(lo), pc.is_valid(hi))) | _true(
            pc.equal(_stat(table, f"{col}_nulls"), num_rows)
        )
    for col in count_columns:
        serveable &= _true(pc.is_valid(_stat(table, f"{col}_nulls")))
    interior = survive & full & serveable
    boundary = survive & ~interior
    listed = boundary if subset is None else np.ones(n, dtype=bool)
    files = pa.table(
        {
            "filepath": table.column("filepath").filter(pa.array(listed)),
            "boundary": boundary[listed],
        }
    )
    inner = table.take(pa.array(np.nonzero(interior)[0], pa.int64()))
    rows = inner.column("num_rows")
    tally = {
        "n_files": n,
        "n_interior": int(interior.sum()),
        "n_excluded": int(n - survive.sum()),
        "row_count": pc.sum(rows).as_py() or 0,
        **{
            f"cnt_{c}": pc.sum(
                pc.subtract(rows, _stat(inner, f"{c}_nulls"))
            ).as_py() or 0
            for c in count_columns
        },
    }
    cols = {k: pa.array([v], pa.int64()) for k, v in tally.items()}
    for c in min_max_columns:
        cols[f"min_{c}"] = pa.repeat(pc.min(inner.column(f"{c}_min")), 1)
        cols[f"max_{c}"] = pa.repeat(pc.max(inner.column(f"{c}_max")), 1)
    return pa.concat_tables([files, pa.table(cols)], promote_options="default")


def _merge_agg(partials, min_max_columns, count_columns, subset):
    """Fold ``_agg_partial`` partials into ``plan_agg``'s
    ``(contrib, boundary_files)``."""
    import pyarrow.compute as pc

    listed = partials.filter(pc.is_valid(partials.column("filepath")))
    tally = partials.filter(pc.is_null(partials.column("filepath")))
    boundary = listed.filter(listed.column("boundary")).column("filepath")
    boundary = boundary.to_pylist()
    if subset is not None:  # never indexed: boundary, never dropped
        boundary += set(subset) - set(listed.column("filepath").to_pylist())

    def total(name: str) -> int:
        return pc.sum(tally.column(name)).as_py() or 0

    def fold(kernel, name: str) -> Any:
        return _plain_py(kernel(tally.column(name)).as_py())

    contrib = {
        "n_files_total": total("n_files"),
        "n_files_interior": total("n_interior"),
        "n_files_boundary": len(boundary),
        "n_files_excluded": total("n_excluded"),
        "row_count": total("row_count"),
        "cnt": {c: total(f"cnt_{c}") for c in count_columns},
        # _plain_py: downstream builds Spark literal rows from these
        "min": {c: fold(pc.min, f"min_{c}") for c in min_max_columns},
        "max": {c: fold(pc.max, f"max_{c}") for c in min_max_columns},
    }
    return contrib, sorted(boundary)


def _is_remote(path: str) -> bool:
    scheme = path.split("://", 1)[0] if "://" in path else ""
    return scheme not in ("", "file")


def _strip_file_scheme(path: str) -> str:
    return path[len("file://"):] if path.startswith("file://") else path


def list_parquet_files(
    path: str,
    spark: SparkSession | None = None,
    skip_side_dirs: bool = True,
    filesystem: Any = None,
) -> list[str]:
    """Recursive Parquet file discovery (reference ``_gather_metadata``,
    lakeshack/metastore.py:341-412). Accepts a single file or a directory;
    skips non-Parquet names and Spark/metastore side files.

    Local paths walk the filesystem directly; remote schemes (s3a://,
    hdfs://, ...) go through the JVM Hadoop FileSystem so the same engine
    runs against object storage — pass ``spark`` for those. (The reference
    swaps pyarrow.fs implementations the same way,
    lakeshack/metastore.py:206-231.)

    An explicit ``filesystem`` (any ``pyarrow.fs.FileSystem`` — S3,
    SubTree, GCS) takes precedence over URI-scheme resolution and walks
    via ``FileSelector(recursive=True)`` exactly like the reference
    (lakeshack/metastore.py:368-376); ``path`` is then interpreted in
    that filesystem's own terms (e.g. ``bucket/prefix`` for S3 — no
    scheme).

    ``skip_side_dirs`` excludes co-located metadata sidecars from *data*
    listings — the ``_lakeshack_stats`` store plus ANY ``_``/``.``-prefixed
    directory component BELOW the listed root (the Spark/Hive hidden-dir
    convention, which the ``_lakeshack_hll``/``_lakeshack_kll``/
    ``_lakeshack_bloom`` sidecars and write-staging dirs all follow;
    without this an incremental sidecar ``update(lake)`` after the FIRST
    build would try to index the sidecar's own parquet). Pass False when
    listing a store itself — the root directory's own name is never the
    reason to skip.
    """

    def keep(name: str) -> bool:
        return name.endswith(".parquet") and not name.startswith((".", "_"))

    def hidden_below_root(rel_dir: str) -> bool:
        return any(
            part.startswith((".", "_"))
            for part in rel_dir.replace("\\", "/").split("/")
            if part not in ("", ".")
        )

    if filesystem is not None:
        import pyarrow.fs as pafs

        root_info = filesystem.get_file_info(path)
        if root_info.type == pafs.FileType.File:
            return [path]
        if root_info.type == pafs.FileType.NotFound:
            return []
        root = path.rstrip("/")
        found = []
        selector = pafs.FileSelector(root, recursive=True)
        for info in filesystem.get_file_info(selector):
            if info.type != pafs.FileType.File:
                continue
            full = info.path
            if skip_side_dirs and "_lakeshack_stats" in full:
                continue
            parent = full.rsplit("/", 1)[0] if "/" in full else ""
            rel = parent[len(root):] if parent.startswith(root) else ""
            if skip_side_dirs and hidden_below_root(rel):
                continue
            if keep(full.rsplit("/", 1)[-1]):
                found.append(full)
        return sorted(found)

    if _is_remote(path):
        if spark is None:
            raise ValueError(f"remote path {path!r} requires a SparkSession")
        jvm = spark.sparkContext._jvm
        jsc = spark.sparkContext._jsc
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            return []
        root_str = fs.makeQualified(hpath).toString().rstrip("/")
        found: list[str] = []
        it = fs.listFiles(hpath, True)  # recursive
        while it.hasNext():
            status = it.next()
            p = status.getPath()
            full = p.toString()
            if skip_side_dirs and "_lakeshack_stats" in full:
                continue
            parent = p.getParent().toString()
            rel = parent[len(root_str):] if parent.startswith(root_str) else ""
            if skip_side_dirs and hidden_below_root(rel):
                continue
            if keep(p.getName()):
                found.append(full)
        return sorted(found)

    path = _strip_file_scheme(path)
    if os.path.isfile(path):
        return [path]
    found = []
    for root, _dirs, files in os.walk(path):
        if skip_side_dirs and "_lakeshack_stats" in root:
            continue
        if skip_side_dirs and hidden_below_root(os.path.relpath(root, path)):
            continue
        for name in sorted(files):
            if keep(name):
                found.append(os.path.join(root, name))
    return sorted(found)


class FileStatsMetastore:
    """Min/max-per-file stats table over immutable Parquet files.

    Parameters mirror ``Metastore.__init__`` (lakeshack/metastore.py:79-204):
    column roles are real metadata here, not ``_min``-suffix naming
    conventions recovered by parsing DB columns
    (lakeshack/metastore.py:117-126), and storage is a swappable
    :class:`~lakeshack_spark.stats_backends.StatsBackend` — Parquet
    directory by default, a DuckDB file when ``store_path`` ends in
    ``.duckdb`` (parity with the reference's any-RDBMS SQLAlchemy store,
    lakeshack/metastore.py:79-98).
    """

    def __init__(
        self,
        spark: SparkSession,
        store_path: str,
        schema: T.StructType,
        cluster_column: str,
        optional_columns: Sequence[str] = (),
        backend: StatsBackend | None = None,
    ) -> None:
        self.spark = spark
        self.store_path = store_path
        #: Column → IANA zone when the declared schema is a pyarrow schema
        #: with tz-aware timestamps — retained so ``stats_df`` can render
        #: stats in the schema's zone on request (the reference re-localizes
        #: on ingest via pytz, lakeshack/metastore.py:312-331; we store
        #: canonical naive-UTC and localize on READ, see stats_df).
        self.schema_tz = _arrow_tz_map(schema)
        schema = as_spark_schema(schema)
        self.data_schema = schema
        self.cluster_column = cluster_column
        field_types = {f.name: f.dataType for f in schema.fields}
        if cluster_column not in field_types:
            raise ValueError(f"cluster column {cluster_column!r} not in schema")
        if _spark_stat_type(field_types[cluster_column]) is None:
            raise ValueError(
                f"cluster column {cluster_column!r} has non-indexable type "
                f"{field_types[cluster_column]}"
            )
        # Optional columns with non-indexable types are skipped with a
        # warning (parity: lakeshack/metastore.py:540-553).
        self.optional_columns: list[str] = []
        for col in optional_columns:
            if col not in field_types:
                raise ValueError(f"optional column {col!r} not in schema")
            if _spark_stat_type(field_types[col]) is None:
                logger.warning(
                    "optional column %s has non-indexable type %s; skipping",
                    col,
                    field_types[col],
                )
            else:
                self.optional_columns.append(col)
        self.tracked_columns = [cluster_column, *self.optional_columns]
        fields = [
            T.StructField("filepath", T.StringType(), False),
            T.StructField("num_rows", T.LongType(), False),
            T.StructField("file_bytes", T.LongType(), True),
        ]
        for col in self.tracked_columns:
            stat_type = _spark_stat_type(field_types[col])
            fields.append(T.StructField(f"{col}_min", stat_type, True))
            fields.append(T.StructField(f"{col}_max", stat_type, True))
            # NULL-count per tracked column (Delta/Iceberg track the same
            # nullCount): NULL means UNKNOWN (footer had no null_count).
            # Enables metadata-only aggregation (plan_agg: a file is
            # "interior" to a predicate only if its clause columns are
            # provably NULL-free) — min/max alone can never prove that.
            fields.append(T.StructField(f"{col}_nulls", T.LongType(), True))
        self.stats_schema = T.StructType(fields)
        self.backend = backend or make_backend(spark, store_path)
        self.backend.bind(self.stats_schema)
        self._validate_existing_store()

    def _validate_existing_store(self) -> None:
        """Reconnect-time validation: an existing store at ``store_path``
        whose columns or types do not match the declared table must fail
        fast — silently reading mismatched stats would *mis-prune* (wrong
        query results, not an error). Mirrors the reference's column-by-
        column reflection check on reconnect
        (lakeshack/metastore.py:128-204)."""
        actual = self.backend.actual_schema()
        if actual is None:
            return
        expected = {f.name: f.dataType for f in self.stats_schema.fields}
        got = {f.name: f.dataType for f in actual.fields}
        problems = []
        for name, dtype in expected.items():
            if name not in got:
                problems.append(f"missing column {name!r}")
            elif got[name] != dtype:
                problems.append(
                    f"column {name!r} has type {got[name].simpleString()}, "
                    f"expected {dtype.simpleString()}"
                )
        problems.extend(
            f"unexpected column {name!r}" for name in got if name not in expected
        )
        # Additive, derivable-from-the-files upgrades backfill in place
        # rather than failing reconnect (any REAL mismatch still raises):
        # `file_bytes` (pre-byte-telemetry stores) and `{col}_nulls`
        # (pre-null-count stores) are both recoverable from the indexed
        # files themselves.
        nulls_cols = {f"{c}_nulls" for c in self.tracked_columns}
        migratable = {"missing column 'file_bytes'"} | {
            f"missing column {c!r}" for c in nulls_cols
        }
        if problems and set(problems) <= migratable:
            if "missing column 'file_bytes'" in problems:
                self._migrate_add_file_bytes()
            if set(problems) & {f"missing column {c!r}" for c in nulls_cols}:
                self._migrate_add_null_counts()
            return
        if problems:
            raise ValueError(
                f"existing stats store at {self.store_path!r} does not match "
                f"the declared table (cluster column {self.cluster_column!r}, "
                f"optional columns {self.optional_columns}): "
                + "; ".join(sorted(problems))
            )

    def _migrate_add_file_bytes(self) -> None:
        """One-time in-place upgrade of a pre-``file_bytes`` store: stat
        every indexed file (executor-side, Arrow-batched) and rewrite the
        store with the size column filled. Cost ≈ what ONE query's byte
        telemetry used to cost, paid once instead of per query."""
        logger.warning(
            "stats store at %s predates file_bytes; backfilling file sizes",
            self.store_path,
        )

        @F.pandas_udf(T.LongType())
        def _sizes(paths: pd.Series) -> pd.Series:
            return paths.map(_file_size)

        # Explicit-schema read: the Parquet backend surfaces the missing
        # column as NULLs, the DuckDB backend aligns columns in read_df.
        old = self.backend.read_df()
        filled = old.withColumn(
            "file_bytes", F.coalesce(F.col("file_bytes"), _sizes("filepath"))
        ).select(*[f.name for f in self.stats_schema.fields])
        self.backend.rewrite(filled)

    def _migrate_add_null_counts(self) -> None:
        """One-time in-place upgrade of a pre-``{col}_nulls`` store:
        re-read the indexed files' footers (executor fan-out, the same
        path ingest uses — footers are immutable, so the refreshed
        min/max agree with the stored ones) and fill the null-count
        columns. Files that have become unreadable keep NULL (= unknown)
        counts — conservative: such files are never classified interior
        by ``plan_agg`` and always fall back to the scan."""
        logger.warning(
            "stats store at %s predates null-count stats; backfilling "
            "from the indexed files' footers",
            self.store_path,
        )
        old = self.backend.read_df().dropDuplicates(["filepath"])
        files = [r["filepath"] for r in old.select("filepath").collect()]
        names = [f.name for f in self.stats_schema.fields]
        nulls_cols = [f"{c}_nulls" for c in self.tracked_columns]
        if files:
            sc = self.spark.sparkContext
            n_slices = min(len(files), max(sc.defaultParallelism, 1))
            tracked = list(self.tracked_columns)
            schema = self.stats_schema
            rows_rdd = sc.parallelize(files, n_slices).mapPartitions(
                lambda part: (
                    Row(**{f.name: r.get(f.name) for f in schema.fields})
                    for r in _footer_stats_for_files(part, tracked)
                )
            )
            fresh = self.spark.createDataFrame(rows_rdd, schema).select(
                "filepath", *nulls_cols
            )
            filled = (
                old.drop(*nulls_cols)
                .join(fresh, "filepath", "left")
                .select(*names)
            )
        else:
            filled = old.select(*names)
        self.backend.rewrite(filled)

    # ------------------------------------------------------------- ingest

    def _exists(self) -> bool:
        return self.backend.exists()

    def stats_df(self, localize: bool = False) -> DataFrame:
        """The stats table as a DataFrame (empty if never updated).

        Timestamp stats are STORED canonical naive-UTC (``_to_py_stat``
        normalizes tz-aware footer stats at ingest); the reference instead
        re-localizes min/max into the schema's timezone via pytz
        (lakeshack/metastore.py:312-331). ``localize=True`` reproduces the
        reference's view for a tz-aware pyarrow schema: min/max of each
        tz-aware column are rendered as wall time in that column's schema
        zone (``from_utc_timestamp``, read-side only — the store stays
        UTC, so pruning math and cross-zone stores never skew).

        Deduplicated by filepath: two *concurrent* ``update()`` calls can
        both anti-join against the same pre-append snapshot and append the
        same file's stats row twice (the reference instead drops the
        collision on the DB's unique constraint,
        lakeshack/metastore.py:268-270). Duplicate rows are always
        identical — both writers read the same immutable footer — so any
        row per filepath is the right one; read-side dedup makes the race
        harmless without a lock. Reconcile rewrites through this view, so
        duplicates also physically disappear on the next maintenance
        pass."""
        df = self.backend.read_df().dropDuplicates(["filepath"])
        if localize:
            for col in self.tracked_columns:
                tz = self.schema_tz.get(col)
                if tz is None:
                    continue
                for stat in (f"{col}_min", f"{col}_max"):
                    df = df.withColumn(stat, F.from_utc_timestamp(stat, tz))
        return df

    def update(
        self,
        parquet_file_or_dir: str | Sequence[str],
        filesystem: Any = None,
        n_workers: int | None = None,
    ) -> int:
        """Idempotent ingest: discover files → distributed footer reads →
        anti-join against already-ingested filepaths → append.

        Returns the number of newly ingested files. Replaces the reference's
        ThreadPool + read-then-insert (lakeshack/metastore.py:206-276) with
        an executor fan-out and a left-anti join, so concurrent/incremental
        updates stay metadata-only at any file count. ``n_workers`` is
        accepted for reference signature compatibility
        (lakeshack/metastore.py:206-211) and ignored — the executor
        fan-out replaces the thread pool, sized by cluster parallelism.

        ``filesystem`` is the reference's explicit
        ``pyarrow.fs.FileSystem`` (lakeshack/metastore.py:209, default
        LocalFileSystem; the docs' S3 walkthrough passes
        ``fs.S3FileSystem(region=...)``, lakeshack/metastore.py:65-75).
        When given, discovery runs through ``FileSelector`` on that object
        and footer reads open paths against it verbatim — paths are in the
        filesystem's own terms (``bucket/key``, no scheme), and the object
        is PICKLED to executors, so credentials/endpoint/region carried on
        it apply there (pyarrow filesystems serialize their config). When
        None, filesystems resolve per path URI scheme with a
        (scheme, bucket)-keyed cache and credentials must be ambient.
        """
        del n_workers
        roots = (
            [parquet_file_or_dir]
            if isinstance(parquet_file_or_dir, str)
            else list(parquet_file_or_dir)
        )
        files = [
            f
            for p in roots
            for f in list_parquet_files(p, self.spark, filesystem=filesystem)
        ]
        self._reconcile_deleted(roots, set(files))
        if not files:
            return 0
        sc = self.spark.sparkContext
        n_slices = min(len(files), max(sc.defaultParallelism, 1))
        tracked = list(self.tracked_columns)
        schema = self.stats_schema
        fs = filesystem
        rows_rdd = sc.parallelize(files, n_slices).mapPartitions(
            lambda part: (
                Row(**{f.name: r.get(f.name) for f in schema.fields})
                for r in _footer_stats_for_files(part, tracked, filesystem=fs)
            )
        )
        new_stats = self.spark.createDataFrame(rows_rdd, schema).persist()
        # Unreadable files are skipped executor-side with per-file logs; a
        # PARTIAL index must also be loud at the summary level — silently
        # indexing 0 of N files (bad credentials, wrong endpoint) would
        # surface only as empty query results.
        n_read = new_stats.count()
        if n_read < len(files):
            logger.warning(
                "indexed footer stats for only %d of %d discovered files "
                "(unreadable files were skipped — see executor warnings); "
                "queries will not see the missing files' rows",
                n_read,
                len(files),
            )
        existing = self.stats_df().select("filepath")
        fresh = new_stats.join(existing, "filepath", "left_anti")
        fresh = fresh.persist()
        n_new = fresh.count()
        if n_new:
            self.backend.append(fresh, n_new)
        fresh.unpersist()
        new_stats.unpersist()
        self.backend.maybe_compact()
        return n_new

    def _store_files(self) -> list[str]:
        return self.backend.store_files()  # type: ignore[attr-defined]

    def compact_store(self) -> int:
        """Fold the store's physical fragmentation (per-update append
        files on the Parquet backend; no-op under an RDBMS backend).
        Returns the resulting file count."""
        return self.backend.compact()

    def _reconcile_deleted(
        self, roots: Sequence[str], live_files: set[str]
    ) -> int:
        """Drop stats rows for files that no longer exist under ``roots``
        (rewrites/compactions/overwritten batches replace files with new
        names — stale rows would send queries to deleted paths). Rewrites
        the store only when stale rows exist. Returns rows dropped.

        Runs as DataFrame anti-joins end-to-end: no stored filepath list
        and no kept-row set ever materializes on the driver (the round-1
        version collected both — GBs through the driver per ingest tick at
        10M files). The listing in ``live_files`` already exists driver-
        side (it drove discovery), so parallelizing it adds nothing new.
        """
        if not self._exists():
            return 0
        stats = self.stats_df()
        norm_roots = [r.rstrip("/") for r in roots]
        under_roots = F.lit(False)
        for r in norm_roots:
            under_roots = (
                under_roots
                | (F.col("filepath") == r)
                | F.col("filepath").startswith(r + "/")
            )
        live_df = self.spark.createDataFrame(
            [(f,) for f in sorted(live_files)],
            T.StructType([T.StructField("filepath", T.StringType(), False)]),
        )
        stale = stats.filter(under_roots).join(live_df, "filepath", "left_anti")
        n_stale = stale.count()
        if not n_stale:
            return 0
        # Kept = rows outside the updated roots, plus under-root rows that
        # are still live. live_df is bounded (it IS the driver-side
        # listing), so IT is the broadcast side — broadcasting the stale
        # set instead would re-materialize up to the whole store on the
        # driver exactly when a rewrite replaces most files.
        keep = stats.filter(~under_roots).unionByName(
            stats.filter(under_roots).join(
                F.broadcast(live_df), "filepath", "left_semi"
            )
        )
        self.backend.rewrite(keep)
        logger.info("reconciled %d stale stats rows", n_stale)
        return n_stale

    # ------------------------------------------------------------- pruning

    #: Largest stats table classified at the driver site: one Arrow read
    #: of the store, zero Spark jobs (a 10k-file dataset's stats are
    #: ~1 MB). Past it, or for a remote store, the backend's
    #: ``read_arrow`` defers and the SAME classifier runs at the
    #: distributed site, per batch inside ``stats_df().mapInArrow``; only
    #: the per-batch partials reach the driver.
    DRIVER_PRUNE_MAX_FILES = 100_000

    def _classify_store(self, partial, out_schema: T.StructType):
        """Run ``partial`` (stats Arrow table → partial Arrow table in
        ``out_schema``'s layout) over the whole store and return the
        partials as one Arrow table, whichever site ran it.

        Driver site: the backend's Arrow read, filepath-deduplicated, is
        one batch. Distributed site, when the backend defers:
        ``stats_df()`` (which dedups by filepath) feeds ``partial`` batch
        by batch through ``mapInArrow``. A store that does not exist yet
        is an empty batch."""
        if self._exists():
            table = self.backend.read_arrow(self.DRIVER_PRUNE_MAX_FILES)
        else:
            from pyspark.sql.pandas.types import to_arrow_schema

            table = to_arrow_schema(self.stats_schema).empty_table()
        if table is not None:
            return partial(_dedup_filepaths(_strip_arrow_tz(table)))

        def per_batch(batches):
            import pyarrow as pa

            for batch in batches:
                table = _strip_arrow_tz(pa.Table.from_batches([batch]))
                yield from partial(table).to_batches()

        return _strip_arrow_tz(
            self.stats_df().mapInArrow(per_batch, out_schema).toArrow()
        )

    def _prune_pass(
        self,
        cluster_column_values: Sequence[Any] | Any,
        optional_where_clauses: Sequence[tuple[str, str, Any]],
    ) -> tuple[dict[str, list[Any]], dict[str, Any]]:
        """One classifier pass over the store: the prune mapping and the
        ``stats_summary`` of its candidate files."""
        if not isinstance(cluster_column_values, (list, tuple)):
            cluster_column_values = [cluster_column_values]
        values = sorted(
            dict.fromkeys(_to_py_stat(v) for v in cluster_column_values)
        )
        partials = self._classify_store(
            functools.partial(
                _prune_partial,
                clauses=_checked_clauses(optional_where_clauses),
                tracked=list(self.tracked_columns),
                cluster=self.cluster_column,
                keys=_search_keys(values),
            ),
            _FILE_ROWS,
        )
        return _merge_file_rows(partials, values)

    def prune(
        self,
        cluster_column_values: Sequence[Any] | Any,
        optional_where_clauses: Sequence[tuple[str, str, Any]] = (),
    ) -> dict[str, list[Any]]:
        """``{filepath: [candidate cluster values]}`` for files whose
        [min, max] interval might contain each value AND that survive every
        range clause — reference ``Metastore.query``
        (lakeshack/metastore.py:414-481), one vectorized classifier pass
        over the store instead of one DB query per value.

        The classifier (:func:`_classify`, :func:`_value_spans`) runs at
        one of two sites: the driver, with zero Spark jobs, for a local
        store up to ``DRIVER_PRUNE_MAX_FILES`` rows; per batch inside
        ``mapInArrow`` otherwise."""
        return self._prune_pass(cluster_column_values, optional_where_clauses)[0]

    def prune_files(
        self,
        cluster_column_values: Sequence[Any] | Any,
        optional_where_clauses: Sequence[tuple[str, str, Any]] = (),
    ) -> list[str]:
        """Just the surviving file list, sorted."""
        return sorted(self.prune(cluster_column_values, optional_where_clauses))

    def query(
        self,
        cluster_column_values: Sequence[Any] | Any,
        optional_where_clauses: Sequence[tuple[str, str, Any]] = (),
    ) -> dict[str, list[Any]]:
        """Drop-in compatibility alias for the reference's
        ``Metastore.query`` (lakeshack/metastore.py:414-481): identical
        name, arguments, and ``{filepath: [matching values]}`` result."""
        return self.prune(cluster_column_values, optional_where_clauses)

    def prune_files_with_summary(
        self,
        cluster_column_values: Sequence[Any] | Any,
        optional_where_clauses: Sequence[tuple[str, str, Any]] = (),
    ) -> tuple[list[str], dict[str, Any]]:
        """Pruned file list plus the planning-time I/O summary, both from
        ONE pass over the stats store (the engine's per-query entry point
        — a metadata counter must not double the planning I/O)."""
        mapping, summary = self._prune_pass(
            cluster_column_values, optional_where_clauses
        )
        return sorted(mapping), summary

    def stats_summary(self, candidate_files: Sequence[str] = ()) -> dict[str, Any]:
        """Planning-time I/O accounting from the stats store: total /
        candidate / pruned file counts plus the candidate files' footer
        row-count and byte totals (upper bounds on what the scan can
        touch — ``file_bytes`` is captured at ingest, so NO filesystem
        calls happen here).

        Reference parity: the ``n_files`` / ``n_records`` counters the
        reference logs per query (lakeshack/lakeshack.py:463-472,566-577).
        One pass at the same two sites as :meth:`prune`, folded by the
        same merge; filepath-deduped like ``stats_df()``.
        """
        cand = sorted(set(candidate_files))
        partials = self._classify_store(
            functools.partial(_candidate_partial, candidates=cand), _FILE_ROWS
        )
        return _merge_file_rows(partials, [], n_candidate=len(cand))[1]

    # -------------------------------------------- metadata-only aggregation

    def _validate_agg_columns(
        self,
        min_max_columns: Sequence[str],
        count_columns: Sequence[str],
    ) -> None:
        field_types = {f.name: f.dataType for f in self.data_schema.fields}
        for col in (*min_max_columns, *count_columns):
            if col not in self.tracked_columns:
                raise ValueError(
                    f"aggregation column {col!r} is not tracked by this "
                    f"metastore (tracked: {self.tracked_columns}); only "
                    "tracked columns have footer stats to serve from"
                )
        for col in min_max_columns:
            if isinstance(field_types[col], (T.StringType, T.BinaryType)):
                # The Parquet spec allows WRITERS to truncate min/max of
                # variable-length values (is_{min,max}_value_exact flags
                # the footer does not surface through pyarrow). Inexact
                # bounds are fine for PRUNING (the scan re-filters) but
                # would be a silently wrong ANSWER here.
                raise ValueError(
                    f"min/max of {col!r} cannot be served from footer "
                    "stats: variable-length min/max may be truncated by "
                    "the writer; use count_columns or scan"
                )

    def plan_agg(
        self,
        clauses: Sequence[tuple[str, str, Any]] = (),
        min_max_columns: Sequence[str] = (),
        count_columns: Sequence[str] = (),
        files: Sequence[str] | None = None,
    ) -> tuple[dict[str, Any], list[str]]:
        """Plan a metadata-served aggregation: classify every indexed file
        against the AND-ed ``clauses`` as

        - **excluded** — the zone map proves no row matches (the prune
          rule, ``survive`` of :func:`_clause_masks`);
        - **interior** — the zone map proves EVERY row matches: each
          clause column's ``[min, max]`` lies wholly inside the clause
          AND is provably NULL-free (``{col}_nulls == 0`` — rows with a
          NULL clause value fail a comparison predicate, so an unknown
          or positive null count forfeits interior status);
        - **boundary** — everything else: must be scanned with the exact
          predicate.

        Returns ``(contrib, boundary_files)`` where ``contrib`` carries
        the interior files' contribution straight from the stats store —
        ``row_count`` (Σ num_rows), per-column ``min``/``max`` (footer
        min/max ignore NULLs, exactly like SQL MIN/MAX) and non-NULL
        ``cnt`` (Σ num_rows − nulls) — plus file-classification counters.
        An interior file additionally needs serveable stats for every
        requested aggregation column (non-NULL min/max, or a null count
        proving the file all-NULL; known null count for ``cnt``);
        otherwise it demotes to boundary. Files in ``files`` the store
        never indexed are boundary: the scan computes them exactly.

        At 100 TB this is the COUNT/MIN/MAX analogue of file pruning: a
        range predicate on the cluster column touches O(boundary) ≈ 1–2
        files whatever the lake size — the interior of the range is
        answered from the metadata-sized stats store with zero data I/O.
        Same classifier and sites as :meth:`prune`: each batch yields a
        partial contribution (the driver site's whole table is one
        partial) and :func:`_merge_agg` folds them.
        """
        clauses = _checked_clauses(clauses)
        self._validate_agg_columns(min_max_columns, count_columns)
        min_max_columns = list(dict.fromkeys(min_max_columns))
        count_columns = list(dict.fromkeys(count_columns))
        subset = None if files is None else sorted(set(files))
        stat_types = {f.name: f.dataType for f in self.stats_schema.fields}
        counters = ("n_files", "n_interior", "n_excluded", "row_count")
        out_schema = T.StructType(
            [
                T.StructField("filepath", T.StringType()),
                T.StructField("boundary", T.BooleanType()),
                *[
                    T.StructField(name, T.LongType())
                    for name in (*counters, *(f"cnt_{c}" for c in count_columns))
                ],
                *[
                    T.StructField(f"{m}_{c}", stat_types[f"{c}_{m}"])
                    for c in min_max_columns
                    for m in ("min", "max")
                ],
            ]
        )
        partials = self._classify_store(
            functools.partial(
                _agg_partial,
                clauses=clauses,
                tracked=list(self.tracked_columns),
                min_max_columns=min_max_columns,
                count_columns=count_columns,
                subset=subset,
            ),
            out_schema,
        )
        return _merge_agg(partials, min_max_columns, count_columns, subset)
