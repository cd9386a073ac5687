"""The ``Lakeshack`` query facade: stats-pruned, predicate-pushdown Parquet
scans with the reference's query semantics.

Reference parity: ``Lakeshack.query`` (lakeshack/lakeshack.py:476-579) — a
query is always *cluster-column IN-list ∧ optional AND-ed range clauses*,
with optional projection and a row cap. The metastore prunes the file list;
the scan re-applies exact predicates so pruning false-positives are harmless
(README.rst:12-19). The reference's second path, ``query_s3_select``
(lakeshack/lakeshack.py:303-474), is an offload mechanism, not a distinct
semantic — Spark executors reading Parquet *are* the compute-near-storage
path, so both collapse into one plan here.

Scale notes (100 TB):

- Pruning happens before the scan sees the file list, so the driver never
  even lists non-candidate files, and it lists each candidate at most once
  per ``update_metastore``: candidates open through the shack's own client
  of Spark's bounded file-status cache (``_CandidateOpener``), so a query
  whose candidates were all opened before runs no listing job. With good
  clustering a point lookup plans a 1-file scan regardless of dataset
  size.
- Filters and projection are passed through the DataFrame API so Catalyst
  pushes them into the Parquet reader (row-group stats, dictionary and
  bloom filters) — check ``PushedFilters`` in ``.explain``.
- ``limit(n)`` is exact and incremental (CollectLimit executes partitions
  in batches), strictly stronger than the reference's soft cap that can
  overshoot by a batch (lakeshack/lakeshack.py:504-507).
"""

from __future__ import annotations

import logging
import time
from typing import Any, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from lakeshack_spark.metastore import (
    ALL_CLAUSE_OPS,
    FileStatsMetastore,
    list_parquet_files,
)
from lakeshack_spark.session import configure_session

logger = logging.getLogger(__name__)


def build_clause_predicate(
    optional_where_clauses: Sequence[tuple[str, str, Any]] = (),
):
    """AND-ed comparison clauses as one Column expression. Unknown
    operator → ValueError (lakeshack/lakeshack.py:543-545)."""
    pred = F.lit(True)
    for col, op, value in optional_where_clauses:
        c, lit = F.col(col), F.lit(value)
        if op == ">=":
            clause = c >= lit
        elif op == ">":
            clause = c > lit
        elif op in ("=", "=="):
            clause = c == lit
        elif op == "<":
            clause = c < lit
        elif op == "<=":
            clause = c <= lit
        elif op == "is_null":
            clause = c.isNull()
        elif op == "is_not_null":
            clause = c.isNotNull()
        else:
            raise ValueError(
                f"unsupported operator {op!r}; use one of {ALL_CLAUSE_OPS}"
            )
        pred = pred & clause
    return pred


def build_predicate(
    cluster_column: str,
    cluster_values: Sequence[Any],
    optional_where_clauses: Sequence[tuple[str, str, Any]] = (),
):
    """IN-list ∧ AND-ed comparison clauses as one Column expression
    (reference builds the same as a pyarrow.dataset.Expression,
    lakeshack/lakeshack.py:531-545).

    The IN-list is built by one ``isInCollection`` call, which makes the
    same literals as ``Column.isin`` (pinned in tests/test_query.py) but
    skips its one ``lit`` round trip per value."""
    in_list = Column(F.col(cluster_column)._jc.isInCollection(list(cluster_values)))
    return in_list & build_clause_predicate(optional_where_clauses)


def _module(package, name: str):
    """The JVM singleton of Scala ``object`` ``name`` in ``package``."""
    return getattr(getattr(package, name + "$"), "MODULE$")


class _CandidateOpener:
    """Opens store-pruned Parquet file lists as DataFrames through one
    client of Spark's shared, size-bounded ``FileStatusCache`` — the cache
    catalog tables use so they do not re-list immutable files.

    The scan is the one ``spark.read.schema(schema).parquet(*files)``
    builds (same path qualification, relation and plan), but its
    ``InMemoryFileIndex`` lists only the files this client has not seen,
    so a candidate is stat'ed once per ``invalidate()`` and a query with
    at most 32 (``parallelPartitionDiscovery.threshold``) unseen files
    runs no listing job. The JVM handles are resolved once, here; an open
    is about a dozen py4j calls plus the path list's conversion. The
    client's entries live in the shared cache's LRU bound, so a dropped
    shack leaves nothing unbounded behind.
    """

    def __init__(self, spark: SparkSession, schema: T.StructType) -> None:
        jvm, jss = spark._jvm, spark._jsparkSession
        ds = jvm.org.apache.spark.sql.execution.datasources
        none = _module(jvm.scala, "None")
        self._spark, self._jss, self._schema, self._none = spark, jss, schema, none
        self._to_seq = jvm.PythonUtils.toSeq
        self._state = jss.sessionState()
        self._qualify = _module(ds, "DataSource").checkAndGlobPathIfNecessary
        self._index_cls, self._relation_cls = ds.InMemoryFileIndex, ds.HadoopFsRelation
        self._cache = ds.FileStatusCache.getOrCreate(jss)
        # DataSource reads a user schema as nullable.
        self._jschema = jss.parseDataType(schema.json()).asNullable()
        self._some_schema = jvm.scala.Option.apply(self._jschema)
        self._options = jvm.PythonUtils.toScalaMap({})
        self._format = ds.parquet.ParquetFileFormat()

    def open(self, files: Sequence[str]) -> DataFrame:
        # DataSource's own qualification (``file:`` spelling kept) and
        # globbing, minus its per-file existence check: the flags are
        # checkEmptyGlobPath, checkFilesExist, numThreads, enableGlobbing.
        paths = self._qualify(
            self._to_seq(list(files)), self._state.newHadoopConf(), True, False, 40, True
        )
        index = self._index_cls(
            self._jss, paths, self._options, self._some_schema, self._cache,
            self._none, self._none,
        )
        if len(index.inputFiles()) < len(set(files)):
            # The index lists a missing root path as empty; DataSource's
            # existence check raises PATH_NOT_FOUND for it.
            return self._spark.read.schema(self._schema).parquet(*files)
        relation = self._relation_cls(
            index, index.partitionSchema(), self._jschema, self._none,
            self._format, self._options, self._jss,
        )
        return DataFrame(self._jss.baseRelationToDataFrame(relation), self._spark)

    def invalidate(self) -> None:
        """Forget every status this client cached (other clients keep
        theirs)."""
        self._cache.invalidateAll()


class Lakeshack:
    """Query facade over a clustered Parquet dataset + its stats metastore.

    Equivalent of ``Lakeshack.__init__`` (lakeshack/lakeshack.py:60-98):
    takes the dataset location, the cluster column, and optional (range-
    indexed) columns; the metastore lives at ``store_path`` (defaults to
    a ``_lakeshack_stats`` Parquet sibling of the data; pass a
    ``*.duckdb`` path for the RDBMS-backed store — parity with the
    reference's SQLAlchemy store URL, lakeshack/metastore.py:79-98).
    """

    def __init__(
        self,
        spark: SparkSession,
        data_path: str,
        cluster_column: str,
        optional_columns: Sequence[str] = (),
        store_path: str | None = None,
        schema: T.StructType | None = None,
    ) -> None:
        self.spark = configure_session(spark)
        self.data_path = data_path
        if schema is None:
            sample = list_parquet_files(data_path, self.spark)
            if not sample:
                raise ValueError(f"no parquet files under {data_path!r}")
            schema = self.spark.read.parquet(sample[0]).schema
        # A pyarrow.Schema (what a reference user holds) is accepted and
        # handed to the metastore UNCONVERTED so its timestamp zones are
        # captured for stats_df(localize=True); the engine keeps the
        # converted StructType.
        from lakeshack_spark.metastore import as_spark_schema

        self.schema = as_spark_schema(schema)
        self.cluster_column = cluster_column
        self.store_path = store_path or f"{data_path.rstrip('/')}/_lakeshack_stats"
        self.metastore = FileStatsMetastore(
            spark, self.store_path, schema, cluster_column, optional_columns
        )
        #: Telemetry for the most recent ``query()``/``query_arrow()`` —
        #: see ``status()``.
        self.last_query_status: dict[str, Any] = {}
        self._opener: _CandidateOpener | None = None  # built by the first open

    def update_metastore(self, path: str | None = None, filesystem: Any = None) -> int:
        """Ingest (new) files' footer stats; idempotent. ``filesystem``
        forwards an explicit ``pyarrow.fs.FileSystem`` (reference
        ``Metastore.update``'s parameter, lakeshack/metastore.py:209) —
        discovery and footer reads then run through that object with
        paths in its own terms (``bucket/key``). Also forgets the file
        statuses cached by earlier opens, so files that compaction,
        ``delete_rows`` or any reconciled deletion removed are listed
        afresh."""
        if self._opener is not None:
            self._opener.invalidate()
        return self.metastore.update(path or self.data_path, filesystem=filesystem)

    def _open(self, files: Sequence[str]) -> DataFrame:
        """Scan of store-pruned candidate ``files`` — the one way a shack
        opens a list the metastore produced (see ``_CandidateOpener``)."""
        if self._opener is None:
            self._opener = _CandidateOpener(self.spark, self.schema)
        return self._opener.open(files)

    def candidate_files(
        self,
        cluster_column_values: Sequence[Any] | Any,
        optional_where_clauses: Sequence[tuple[str, str, Any]] = (),
    ) -> list[str]:
        """Pruned file list for a query (exposed for tests / files-touched
        accounting, mirroring docs/source/lakeshack.rst:245-250)."""
        return self.metastore.prune_files(
            cluster_column_values, optional_where_clauses
        )

    #: Reference-parity default row cap (lakeshack/lakeshack.py:308,482):
    #: a query silently returning 100M rows is a driver OOM, not an answer.
    N_RECORDS_MAX_DEFAULT = 2_000_000

    def query(
        self,
        cluster_column_values: Sequence[Any] | Any,
        optional_where_clauses: Sequence[tuple[str, str, Any]] = (),
        columns: Sequence[str] | None = None,
        batch_size: int | None = None,
        n_records_max: int | None = N_RECORDS_MAX_DEFAULT,
    ) -> DataFrame:
        """Pruned scan; returns a *lazy* DataFrame (the reference returns a
        materialized Arrow table — call ``.toArrow()``/``.toPandas()`` at
        the edge to match, per SURVEY §1.1).

        Semantics of ``Lakeshack.query`` (lakeshack/lakeshack.py:476-579):
        scalar value → 1-list; clauses filter exactly even on columns the
        metastore does not index (pruning is best-effort, filtering exact —
        tests/test_lakeshack.py:265-284); ``n_records_max`` caps the result
        (exact here, soft in the reference) and defaults to the reference's
        2,000,000 — pass ``None`` for an uncapped scan. When the cap
        BINDS, the surviving subset is arbitrary (no ORDER BY — the same
        semantics as the reference's batch-iteration-order cap,
        lakeshack/lakeshack.py:504-507): a capped result is a safety
        valve, not a top-k; use an explicit sort + limit for that. The
        oracle-checked corpus queries never bind it (their results are
        far below the cap at every tested scale). ``batch_size`` is
        accepted for signature compatibility and ignored: Spark's
        columnar reader sizes its own batches (the reference exposes
        pyarrow's to_batches knob to bound driver RAM; here the result is
        lazy and never driver-materialized by default).

        Candidate files are taken as immutable, the contract the
        metastore's idempotent ingest already assumes: a candidate missing
        on disk when first opened raises ``PATH_NOT_FOUND`` here, but one
        deleted behind the store's back *after* this shack opened it fails
        when the scan executes, not at ``query()``. Deletions are
        reconciled by ``update_metastore``, which also drops the cached
        file statuses.
        """
        del batch_size
        if not isinstance(cluster_column_values, (list, tuple)):
            cluster_column_values = [cluster_column_values]
        t0 = time.monotonic()
        # One stats-store read serves pruning AND the I/O counters
        # (bytes_candidate sums the ingest-time file_bytes column — zero
        # filesystem calls at query time).
        files, status = self.metastore.prune_files_with_summary(
            cluster_column_values, optional_where_clauses
        )
        status["plan_sec"] = round(time.monotonic() - t0, 6)
        status["n_records_max"] = n_records_max
        self.last_query_status = status
        logger.info(
            "query: %d/%d files after pruning (%d pruned), ≤%s rows, ≤%s bytes",
            status["n_files_candidate"],
            status["n_files_total"],
            status["n_files_pruned"],
            status["n_rows_candidate"],
            status["bytes_candidate"],
        )
        if not files:
            df = self.spark.createDataFrame([], self.schema)
        else:
            df = self._open(files)
        df = df.filter(
            build_predicate(
                self.cluster_column, cluster_column_values, optional_where_clauses
            )
        )
        if columns is not None:
            df = df.select(*columns)
        if n_records_max is not None:
            df = df.limit(n_records_max)
        return df

    def query_arrow(self, *args, **kwargs):
        """Materialized variant returning a pyarrow.Table, the reference's
        return type (lakeshack/lakeshack.py:412,579). Materializing lets
        telemetry also record the *returned* row count, completing the
        reference's per-query log line (lakeshack/lakeshack.py:566-577)."""
        table = self.query(*args, **kwargs).toArrow()
        self.last_query_status["n_rows_returned"] = table.num_rows
        # Truncation is observable, not silent: when the result hits the
        # row cap, warn and flag it in the status — an existing caller of
        # the older uncapped API should not discover the 2M default by
        # row count. `capped` means "the cap was REACHED, the result MAY
        # be truncated": a match count exactly equal to the cap is
        # indistinguishable from truncation without scanning past the
        # limit, so the flag is deliberately conservative.
        cap = self.last_query_status.get("n_records_max")
        capped = cap is not None and table.num_rows >= cap
        self.last_query_status["capped"] = capped
        if capped:
            logger.warning(
                "query result hit n_records_max=%d and may be truncated "
                "(arbitrary subset, no ORDER BY); pass n_records_max=None "
                "to uncap",
                cap,
            )
        return table

    def query_s3_select(
        self,
        cluster_column_values: Sequence[Any] | Any,
        optional_where_clauses: Sequence[tuple[str, str, Any]] = (),
        columns: Sequence[str] | None = None,
        n_records_max: int | None = N_RECORDS_MAX_DEFAULT,
        n_workers: int = 20,
    ):
        """Drop-in compatibility alias for the reference's second query
        path (``Lakeshack.query_s3_select``, lakeshack/lakeshack.py:
        303-474): same signature, same pyarrow.Table result, same
        semantics. S3 Select is an *offload* mechanism (per-file SQL
        pushed to storage via a thread pool), not a distinct semantic —
        and is deprecated by AWS upstream; Spark executors reading
        Parquet next to storage ARE the compute-near-storage path, so
        both reference entry points collapse onto one pruned scan here.
        ``n_workers`` is accepted for source compatibility and ignored:
        Spark's task parallelism replaces the reference's thread pool.
        """
        del n_workers  # parallelism comes from the cluster, not a pool
        return self.query_arrow(
            cluster_column_values,
            optional_where_clauses,
            columns=columns,
            n_records_max=n_records_max,
        )

    def query_agg(
        self,
        optional_where_clauses: Sequence[tuple[str, str, Any]] = (),
        min_max_columns: Sequence[str] = (),
        count_columns: Sequence[str] = (),
        files: Sequence[str] | None = None,
    ) -> DataFrame:
        """Metadata-served aggregation: ``COUNT(*)`` plus per-column
        ``MIN``/``MAX`` (``min_max_columns``) and non-NULL ``COUNT``
        (``count_columns``) under the AND-ed ``optional_where_clauses``,
        as a one-row DataFrame with columns ``row_count``,
        ``min_<col>``/``max_<col>`` and ``cnt_<col>``.

        The metastore classifies every file against the predicate
        (:meth:`FileStatsMetastore.plan_agg`): files wholly inside it are
        answered from their footer stats with ZERO data I/O; only the
        O(1)-per-range *boundary* files are scanned (with the exact
        predicate). Semantics match the equivalent SQL aggregate exactly
        — footer min/max ignore NULLs like SQL MIN/MAX, COUNT(*) counts
        rows, COUNT(col) counts non-NULLs, and interior classification
        requires provably NULL-free clause columns, so rows a NULL clause
        value would fail out of the predicate are never miscounted.

        ``files`` restricts the aggregation to a file subset (e.g. a
        snapshot manifest's list — versioning.snapshot_agg): files the
        store has not indexed are conservatively scanned.

        At 100 TB: a cluster-range rollup reads 0–2 files no matter how
        many thousands the range spans — the Delta/Iceberg
        "answer-from-manifest" capability on this engine's stats store.
        The reference has no counterpart (its queries always scan
        candidates); this extends its metastore design to aggregates.
        """
        t0 = time.monotonic()
        contrib, boundary = self.metastore.plan_agg(
            optional_where_clauses, min_max_columns, count_columns, files
        )
        min_max_columns = list(dict.fromkeys(min_max_columns))
        count_columns = list(dict.fromkeys(count_columns))
        status = {
            k: contrib[k]
            for k in (
                "n_files_total",
                "n_files_interior",
                "n_files_boundary",
                "n_files_excluded",
            )
        }
        status["plan_sec"] = round(time.monotonic() - t0, 6)
        self.last_query_status = status
        logger.info(
            "query_agg: %(n_files_interior)d interior / "
            "%(n_files_boundary)d boundary / %(n_files_excluded)d excluded "
            "of %(n_files_total)d files",
            status,
        )
        field_types = {f.name: f.dataType for f in self.schema.fields}
        out_fields = [T.StructField("row_count", T.LongType(), False)]
        for c in min_max_columns:
            out_fields.append(T.StructField(f"min_{c}", field_types[c], True))
            out_fields.append(T.StructField(f"max_{c}", field_types[c], True))
        for c in count_columns:
            out_fields.append(T.StructField(f"cnt_{c}", T.LongType(), False))
        out_schema = T.StructType(out_fields)
        interior_vals: list[Any] = [contrib["row_count"]]
        for c in min_max_columns:
            interior_vals.extend([contrib["min"][c], contrib["max"][c]])
        interior_vals.extend(contrib["cnt"][c] for c in count_columns)
        base = self.spark.createDataFrame([tuple(interior_vals)], out_schema)
        if not boundary:
            return base
        scan = self._open(boundary).filter(
            build_clause_predicate(optional_where_clauses)
        )
        scan_aggs = [F.count(F.lit(1)).cast("long").alias("row_count")]
        for c in min_max_columns:
            scan_aggs.append(F.min(c).alias(f"min_{c}"))
            scan_aggs.append(F.max(c).alias(f"max_{c}"))
        for c in count_columns:
            scan_aggs.append(F.count(c).cast("long").alias(f"cnt_{c}"))
        merge_aggs = [F.sum("row_count").cast("long").alias("row_count")]
        for c in min_max_columns:
            merge_aggs.append(F.min(f"min_{c}").alias(f"min_{c}"))
            merge_aggs.append(F.max(f"max_{c}").alias(f"max_{c}"))
        for c in count_columns:
            merge_aggs.append(F.sum(f"cnt_{c}").cast("long").alias(f"cnt_{c}"))
        return base.unionByName(scan.agg(*scan_aggs)).agg(*merge_aggs)

    def status(self) -> dict[str, Any]:
        """I/O telemetry for the most recent query: files total/candidate/
        pruned, candidate footer-row and byte upper bounds, planning
        latency (``plan_sec`` — pruning plus counter assembly), and
        (after ``query_arrow``) rows returned.

        Reference parity: the counters logged per query at
        lakeshack/lakeshack.py:236-243,463-472,566-577. Empty dict before
        the first query."""
        return dict(self.last_query_status)
