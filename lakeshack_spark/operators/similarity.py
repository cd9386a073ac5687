"""Similarity search over embedding columns (``array<float>``).

Two physical strategies behind one logical operator:

- ``cosine_topk``: brute-force — broadcast the (small) query set, score
  every candidate row, per-query top-k via window. O(n·q) but embarrassingly
  parallel, no shuffle until the tiny top-k; the right baseline and the
  correctness oracle for the approximate paths.
- ``ivf_topk``: IVF-style — assign every vector to its nearest of C
  centroids (precomputed or sampled), search only the ``nprobe`` closest
  cells per query. At 100 TB the candidate scan drops by ~C/nprobe; with
  ``nprobe=C`` it degrades gracefully to exact brute force (which is how
  the oracle verifies it).

All arithmetic is double-precision with a fixed fold order so results are
reproducible across engines and runs. Since r13 the exact cosine family
defaults to a BIT-IDENTICAL vectorized Arrow scorer (``impl="arrow"``;
see :func:`_seq_block_dot` for the exactness argument) —
higher-order-function folds never enter whole-stage codegen (they
evaluate interpreted, CLAUDE.md), so "stay JVM-side" was costing ~µs per
array element (the interpreted fold measured ~1.2 s just to assign
2000×8 cells at sf0.1, where the Arrow pass is milliseconds per batch).
Parity is pinned to the last bit by tests.

Surviving twins and dispatches, each with its reason (re-run any A/B
with ``tools/ab.py <entry>``):

- cosine ``impl="expr"`` (:func:`cosine_topk`, :func:`ivf_assign`,
  :func:`ivf_topk`): the bit-exact parity reference, the fallback for
  non-long ids and oversized query batches, and
  :func:`ivfpq_encode`'s oracle-gated form.
- :func:`srp_signature` ``impl``: a dimension dispatch
  (:data:`SRP_ARROW_MIN_DIM`) — Arrow wins from 64 dims, below that
  the interpreted fold is small and keeps the expression form.
- :func:`cosine_topk_pandas`: the rank-exact BLAS tier (final-ulp
  inexact, so never behind the hash-gated entries) for query batches
  up to :data:`COSINE_TOPK_MAX_QUERIES`.
- :func:`pq_encode_arrow`: the BLAS twin of :func:`pq_encode` for bulk
  encoding with big codebooks — measured 1.5× faster at 256 codes
  (parity at 64). Final-ulp inexact, so the gated entries keep
  :func:`pq_encode`.
"""

from __future__ import annotations

import pandas as pd  # module level: pandas_udf type-hint resolution needs
# pd in module globals under `from __future__ import annotations`
from pyspark.sql import (
    Column,
    DataFrame,
    SparkSession,
    Window,
    functions as F,
    types as T,
)

#: :func:`cosine_topk_pandas` collects the query batch to the driver and
#: closes over the matrix (the standard broadcast-matrix design). That
#: makes |Q| a driver-memory term, so it is bounded the same way as
#: :data:`PQ_ADC_DRIVER_TABLES_MAX_QUERIES` — past this, use the IVF/PQ
#: tiers, whose query-side work is distributed (VERDICT_r8 item 5).
COSINE_TOPK_MAX_QUERIES = 4096


def dot_d(a: Column, b: Column) -> Column:
    """Sequential-fold double dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_d(a: Column) -> Column:
    return F.sqrt(dot_d(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    return dot_d(a, b) / (norm_d(a) * norm_d(b))


def _seq_block_dot(A, Q):
    """(n,d)×(q,d) → (n,q) dot products, accumulated COLUMN BY COLUMN so
    every cell is the same left-to-right IEEE-double fold as
    :func:`dot_d` (each elementwise product is one correctly-rounded
    double op, each ``+=`` adds them in index order; NumPy ufuncs do not
    fuse multiply-add). Bit-identical to the interpreted expression fold
    — np.matmul/BLAS is NOT (pairwise/FMA reassociation), which is why
    :func:`cosine_topk_pandas` is only rank-exact while this path is
    value-exact."""
    import numpy as np

    acc = np.zeros((A.shape[0], Q.shape[0]))
    for j in range(A.shape[1]):
        acc += A[:, j, None] * Q[None, :, j]
    return acc


def _seq_norm(A):
    """Row norms with the same sequential fold as :func:`norm_d`."""
    import numpy as np

    acc = np.zeros(A.shape[0])
    for j in range(A.shape[1]):
        acc += A[:, j] * A[:, j]
    return np.sqrt(acc)


def _split_valid_rows(series, d: int | None):
    """(valid_ndarray_mask, float64 matrix of the valid rows, dims).

    A row is "valid" when it is a non-null sequence of length ``d`` —
    the expression fold yields NULL for NULL/ragged rows (zip_with pads
    with NULL), and the Arrow twins reproduce that NULL instead of
    scoring. ``d=None`` takes the first non-null row's length."""
    import numpy as np

    vals = series.to_numpy()
    lens = np.array(
        [len(v) if v is not None else -1 for v in vals], dtype=np.int64
    )
    if d is None:
        pos = np.flatnonzero(lens >= 0)
        d = int(lens[pos[0]]) if len(pos) else 0
    valid = lens == d
    if valid.any():
        mat = np.stack(vals[valid]).astype(np.float64)
    else:
        mat = np.zeros((0, d))
    return valid, mat, d


def _require_nonzero(norms, what: str) -> None:
    """ANSI twin: the expression path raises DIVIDE_BY_ZERO on a
    zero-norm vector (Spark 4 ANSI double division), so the Arrow path
    must fail too rather than silently emit inf/NaN cosines."""
    import numpy as np

    if np.any(norms == 0.0):
        raise ValueError(
            f"zero-norm {what} vector: cosine is undefined (the "
            "expression path raises DIVIDE_BY_ZERO here under ANSI)"
        )


def _cosine_pairs_arrow(pairs: DataFrame, qv_col: str, cv_col: str) -> DataFrame:
    """(query_id, neighbor_id, cosine) from paired-vector rows, scored in
    one vectorized Arrow pass per batch — bit-identical to
    ``dot_d(qv,cv)/(norm_d(qv)*norm_d(cv))`` (see :func:`_seq_block_dot`).
    Rows whose vectors are NULL or length-mismatched get NULL cosine,
    matching the expression fold's zip_with-pads-with-NULL semantics."""
    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            qvals = pdf[qv_col].to_numpy()
            cvals = pdf[cv_col].to_numpy()
            n = len(pdf)
            qlens = np.array(
                [len(v) if v is not None else -1 for v in qvals]
            )
            clens = np.array(
                [len(v) if v is not None else -1 for v in cvals]
            )
            valid = (qlens >= 0) & (qlens == clens)
            cos = np.full(n, np.nan)
            for d in np.unique(qlens[valid]):
                grp = valid & (qlens == d)
                Q = np.stack(qvals[grp]).astype(np.float64)
                C = np.stack(cvals[grp]).astype(np.float64)
                acc = np.zeros(int(grp.sum()))
                qn = np.zeros(int(grp.sum()))
                cn = np.zeros(int(grp.sum()))
                for j in range(int(d)):
                    acc += Q[:, j] * C[:, j]
                    qn += Q[:, j] * Q[:, j]
                    cn += C[:, j] * C[:, j]
                qn = np.sqrt(qn)
                cn = np.sqrt(cn)
                _require_nonzero(qn, "query")
                _require_nonzero(cn, "candidate")
                cos[grp] = acc / (qn * cn)
            out = pd.DataFrame(
                {
                    "query_id": pdf["query_id"].astype("int64"),
                    "neighbor_id": pdf["neighbor_id"].astype("int64"),
                    "cosine": cos,
                }
            )
            if not valid.all():
                # true NULL (not NaN): NULL ranks LAST under desc
                # ordering while NaN ranks FIRST — the expression twin
                # emits NULL for these rows
                cos_n = pd.array(cos, dtype="Float64")
                cos_n[~valid] = pd.NA
                out["cosine"] = cos_n
            yield out

    return pairs.mapInPandas(score, out_schema)


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Two-stage per-query top-k over (query_id, neighbor_id, cosine) rows.

    Stage 1 ranks within (query_id, input-partition) and keeps only the k
    best rows per partition per query, so the global stage 2 window ranks
    at most k × #partitions rows per query instead of ALL scored rows.
    Without it, ``Window.partitionBy("query_id")`` ships every scored
    candidate for a query to ONE reducer task — with a handful of queries
    at cluster scale the entire scored set funnels through that many
    tasks. Stage 1's shuffle moves the same row volume but across
    #queries × #partitions keys (full parallelism), and stage 2's shuffle
    is tiny.

    Hash-identical to the single-window form: the per-partition winners
    are a superset of the global top k (any global top-k row is top-k
    within its own partition), and stage 2 re-ranks with the same total
    order — (cosine desc, neighbor_id asc) with the unique neighbor_id
    tiebreak — so the result does not depend on partition boundaries even
    though ``spark_partition_id`` does.
    """
    order = [F.col("cosine").desc(), F.col("neighbor_id").asc()]
    wpart = Window.partitionBy("query_id", "__part").orderBy(*order)
    pruned = (
        scored.withColumn("__part", F.spark_partition_id())
        .withColumn("__prank", F.row_number().over(wpart))
        .filter(F.col("__prank") <= k)
        .drop("__part", "__prank")
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return pruned.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _cosine_scores_vs_queries_arrow(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame | None:
    """(query_id, neighbor_id, cosine) — every candidate scored against
    the collected query matrix in one Arrow pass, bit-identical to the
    expression fold (``dot_d(qv,cv)/(norm_d(qv)*norm_d(cv))``; see
    :func:`_seq_block_dot`). Self-pairs are dropped in-batch, NULL/ragged
    candidates (and NULL query vectors) emit NULL cosine exactly like the
    zip_with-padded fold. Returns ``None`` when the shape doesn't fit
    the arrow contract (query batch over the driver-memory cap,
    heterogeneous query dims, non-long ids) — callers fall back to the
    expression path."""
    import numpy as np
    import pandas as pd

    if not isinstance(
        vectors.schema[id_col].dataType, T.LongType
    ) or not isinstance(queries.schema[id_col].dataType, T.LongType):
        return None
    qrows = (
        queries.select(id_col, vec_col)
        .limit(COSINE_TOPK_MAX_QUERIES + 1)
        .collect()
    )
    if len(qrows) > COSINE_TOPK_MAX_QUERIES:
        return None
    qids = np.array([int(r[id_col]) for r in qrows], dtype=np.int64)
    qvecs = [r[vec_col] for r in qrows]
    dims = {len(v) for v in qvecs if v is not None}
    if len(dims) > 1:
        return None
    d = dims.pop() if dims else 0
    q_valid = np.array([v is not None for v in qvecs])
    nq = len(qids)
    qmat = (
        np.array([list(v) for v, ok in zip(qvecs, q_valid) if ok])
        .astype(np.float64)
        .reshape(int(q_valid.sum()), d)
    )
    qn = _seq_norm(qmat)
    if nq:
        _require_nonzero(qn, "query")

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0 or nq == 0:
                continue
            valid, C, _d = _split_valid_rows(pdf[vec_col], d)
            cosmat = np.full((n, nq), np.nan)
            nullmask = np.zeros((n, nq), dtype=bool)
            nullmask[~valid, :] = True
            nullmask[:, ~q_valid] = True
            if valid.any() and q_valid.any():
                cn = _seq_norm(C)
                _require_nonzero(cn, "candidate")
                dots = _seq_block_dot(C, qmat)
                sub = dots / (qn[None, :] * cn[:, None])
                block = np.full((int(valid.sum()), nq), np.nan)
                block[:, q_valid] = sub
                cosmat[valid, :] = block
            ids = pdf[id_col].to_numpy().astype(np.int64)
            neighbor = np.repeat(ids, nq)
            query = np.tile(qids, n)
            keep = neighbor != query  # self-pairs drop, as in the join
            cos_flat = cosmat.reshape(-1)
            null_flat = nullmask.reshape(-1)
            out = pd.DataFrame(
                {
                    "query_id": query[keep],
                    "neighbor_id": neighbor[keep],
                    "cosine": cos_flat[keep],
                }
            )
            if null_flat[keep].any():
                cos_n = pd.array(cos_flat[keep], dtype="Float64")
                cos_n[null_flat[keep]] = pd.NA
                out["cosine"] = cos_n
            yield out

    return vectors.select(id_col, vec_col).mapInPandas(score, out_schema)


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "arrow",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, cosine, rank). The query side is
    broadcast (queries are assumed ≪ candidates); ties broken by neighbor
    id so results are fully deterministic.

    ``impl`` (default ``"arrow"``): ``"arrow"`` scores each
    candidate batch against the collected query matrix in one vectorized
    NumPy pass that reproduces the expression fold BIT-EXACTLY
    (:func:`_seq_block_dot` — unlike :func:`cosine_topk_pandas`, which is
    only rank-exact); ``"expr"`` keeps the interpreted JVM fold. The
    arrow path falls back to ``"expr"`` when the query batch exceeds
    :data:`COSINE_TOPK_MAX_QUERIES` (driver-memory bound), when query
    dims are heterogeneous, or when ``id_col`` is not long-typed.
    Both paths feed the same two-stage per-query top-k."""
    if impl == "arrow":
        scored = _cosine_scores_vs_queries_arrow(
            vectors, queries, id_col, vec_col
        )
        if scored is not None:
            return _topk_per_query(scored, k)
    elif impl != "expr":
        raise ValueError(f"unknown cosine_topk impl: {impl!r}")
    # Norms are precomputed PER SIDE (once per query row in the broadcast
    # build, once per candidate row before the join) instead of inside a
    # per-pair cosine_col: with q queries that's one norm fold per
    # candidate, not q of them — bit-identical values, the fold order is
    # unchanged.
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).withColumn("__qn", norm_d(F.col("__qv")))
    c = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    ).withColumn("__cn", norm_d(F.col("__cv")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_d(F.col("__qv"), F.col("__cv"))
                / (F.col("__qn") * F.col("__cn"))
            ).alias("cosine"),
        )
    )
    return _topk_per_query(scored, k)


def cosine_topk_pandas(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched NumPy variant of :func:`cosine_topk`: the query matrix
    is closed over (broadcast with the task), each candidate Arrow batch is
    scored with one BLAS matmul and reduced to its per-query top-k before
    leaving Python — the Arrow hand-off and everything downstream carries
    O(k·q) rows per batch, not O(n·q). ~10-100× the throughput of the
    expression fold at high dimensionality; scores differ from the
    sequential fold only in final-ulp rounding (so ranks match, values may
    not hash-match — verify against :func:`cosine_topk` by rank, not by
    value).

    The query matrix is collected to the driver and closed over — the
    standard broadcast-matrix design for a bounded query batch, but it
    makes |Q| a driver-memory term, so it is guarded at
    :data:`COSINE_TOPK_MAX_QUERIES` (one ``limit(cap+1)`` job, no
    separate count): past the cap this raises with a pointer to the
    scale tiers (:func:`ivf_topk` / :func:`pq_adc_topk` /
    :func:`ivfpq_search`), whose query-side work is distributed
    (VERDICT_r8 item 5, same class as
    :data:`PQ_ADC_DRIVER_TABLES_MAX_QUERIES`).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    qrows = (
        queries.select(id_col, vec_col)
        .limit(COSINE_TOPK_MAX_QUERIES + 1)
        .collect()
    )
    if len(qrows) > COSINE_TOPK_MAX_QUERIES:
        raise ValueError(
            "cosine_topk_pandas: query batch exceeds "
            f"COSINE_TOPK_MAX_QUERIES={COSINE_TOPK_MAX_QUERIES}; the "
            "broadcast query matrix is driver/executor-memory bounded — "
            "route large batches through ivf_topk, pq_adc_topk, or "
            "ivfpq_search (distributed query-side work)."
        )
    qids = np.array([r[id_col] for r in qrows])
    qmat = np.array([list(r[vec_col]) for r in qrows], dtype=np.float64)
    qnorm = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:  # empty Arrow batch: nothing to score
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            sims = mat @ qnorm.T  # (batch, n_queries)
            n, q = sims.shape
            ids = pdf[id_col].to_numpy()
            # Partial top-k PER BATCH, per query, before anything leaves
            # Python: the Arrow hand-off carries (k+1)·q rows per batch
            # instead of n·q (k+1 because the self-match is filtered
            # JVM-side and may occupy one slot). The later global window
            # re-ranks on the same (cosine desc, id asc) key, and a
            # per-batch winner set is a superset of each batch's global
            # contribution, so results are identical. lexsort (stable,
            # id-ascending tiebreak) rather than argpartition: float
            # ties at the k-th slot must cut by id to keep that
            # guarantee exact.
            keep = min(k + 1, n)
            out_q, out_i, out_c = [], [], []
            for j in range(q):
                order = np.lexsort((ids, -sims[:, j]))[:keep]
                out_q.append(np.full(keep, qids[j]))
                out_i.append(ids[order])
                out_c.append(sims[order, j])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_i),
                    "cosine": np.concatenate(out_c),
                }
            )

    scored = (
        vectors.select(id_col, vec_col)
        .mapInPandas(score, out_schema)
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    return _topk_per_query(scored, k)


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    keep_block: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ τ).
    ``block_col`` (e.g. a coarse LSH bucket or label) bounds the join; at
    scale feed IVF cell assignments as the block. ``keep_block`` adds the
    shared block value as a fourth output column (both sides are equal by
    the join condition, so one copy suffices)."""
    cols = [F.col(id_col), F.col(vec_col)]
    if block_col:
        cols.append(F.col(block_col))
    # Per-side norm precompute: once per row before the join, not per
    # PAIR after it (O(block) folds instead of O(block²)); bit-identical.
    sided = vectors.select(*cols).withColumn("__n", norm_d(F.col(vec_col)))
    a = sided.alias("a")
    b = sided.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    out_cols = [
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        (
            dot_d(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
            / (F.col("a.__n") * F.col("b.__n"))
        ).alias("cosine"),
    ]
    if block_col and keep_block:
        out_cols.append(F.col(f"a.{block_col}").alias(block_col))
    return a.join(b, cond).select(*out_cols).filter(F.col("cosine") >= threshold)


def semantic_dedup_drops(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup drop report (Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication"): cluster the
    embeddings around ``centroids`` (:func:`ivf_assign`, map-only literal
    argmax), then WITHIN each cluster mark every vector that has a
    cosine-≥-τ neighbor with a smaller id as a drop — the keep-earliest
    rule over the pairwise near-dup relation, the same survivor
    convention as the MinHash drop set.

    Returns one row per dropped vector: ``(vec_id, cell, n_witnesses,
    max_cosine, min_witness)`` — witness stats are deterministic
    aggregates (count / float max / id min), never an order-dependent
    float sum.

    100 TB shape: the pair join is equi-keyed on the cluster id, so work
    is Σ|cell|² — SemDeDup's own design bounds |cell| by scaling the
    cluster count with n (clusters ≈ n / target_cell_size), keeping the
    per-cell quadratic a constant and the whole pass linear. No all-pairs
    join exists at any scale; the cell id rides the shuffle instead of
    the raw text/vector crossing it twice.
    """
    assigned = ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col)
    pairs = embedding_near_dup_pairs(
        assigned,
        threshold,
        id_col=id_col,
        vec_col=vec_col,
        block_col="cell",
        keep_block=True,
    )
    return pairs.groupBy(
        F.col("id_b").alias(id_col), F.col("cell")
    ).agg(
        F.count("*").alias("n_witnesses"),
        F.max("cosine").alias("max_cosine"),
        F.min("id_a").alias("min_witness"),
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup survivors: the input minus :func:`semantic_dedup_drops`
    (left-anti on the id). Within every near-dup pair the smaller id
    always survives; a cluster's earliest member is never dropped."""
    drops = semantic_dedup_drops(
        vectors, centroids, threshold, id_col=id_col, vec_col=vec_col
    ).select(id_col)
    return vectors.join(drops, on=id_col, how="left_anti")


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    impl: str = "arrow",
) -> DataFrame:
    """Assign each vector to its nearest centroid (by cosine), entirely
    map-side: returns the input plus ``cell``.

    The centroid set is bounded (C ≪ n, same as the query set in
    ``cosine_topk_pandas``), so it is collected once and folded into the
    plan as ONE literal array of (cvec, cnorm, cid) structs — the argmax
    is a per-row ``array_max`` over a ``transform`` of that array, inside
    whole-stage codegen. No crossJoin, no window, no Exchange between
    scoring and assignment. (The round-1 formulation shuffled n×C scored
    rows through a window just to pick each vector's argmin — at 100 TB
    that shuffle dominated the ANN build.) The scoring lambda appears
    once in the plan regardless of C; inlining a copy of the dot-product
    aggregate per centroid made analysis/codegen cost scale with C and
    dominated wall time even at C=8. Ties break toward the smallest
    centroid id, matching the old ``orderBy(sim desc, cid asc)`` rule.

    Each centroid's norm is precomputed in Python with the same
    sequential IEEE-double fold as :func:`dot_d`, so cosine values are
    bit-identical to the previous in-plan computation.

    ``impl`` (default ``"arrow"``): ``"arrow"`` runs the
    argmax in a vectorized Arrow pass whose per-centroid cosines are
    BIT-IDENTICAL to the expression fold (:func:`_seq_block_dot`) with
    the same tie rule (equal sims → smallest cid) and the same
    NULL/ragged-row outcome (all-NULL sims → smallest cid, pinned by
    test) — still map-side, no Exchange, and safe for the hash-gated
    entries. ``"expr"`` keeps the interpreted in-plan fold.
    """
    entries = _centroid_entries(centroids, centroid_id_col, centroid_vec_col)
    if impl == "arrow":
        return _assign_cells_arrow(vectors, entries, vec_col)
    if impl != "expr":
        raise ValueError(f"unknown ivf_assign impl: {impl!r}")
    return _assign_cells(vectors, entries, vec_col)


def _centroid_entries(
    centroids: DataFrame,
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
) -> list[tuple[int, list[float], float]]:
    """Collect the (bounded) centroid set once: (cid, vector, norm) sorted
    by cid. Norms use the same sequential IEEE-double fold as
    :func:`dot_d` so downstream cosines are bit-identical to an in-plan
    computation."""
    import math

    rows = centroids.select(centroid_id_col, centroid_vec_col).collect()
    entries = []
    for r in rows:
        cv = [float(x) for x in r[centroid_vec_col]]
        acc = 0.0
        for x in cv:
            acc += x * x
        entries.append((int(r[centroid_id_col]), cv, math.sqrt(acc)))
    entries.sort()
    return entries


def _centroid_literal(entries: list[tuple[int, list[float], float]]) -> Column:
    """One literal array<struct<cvec,cnorm,cid>> built as a single SQL
    expression. Element-wise ``F.lit`` construction costs one py4j round
    trip per scalar — C×dim of them dominated wall time before any data
    moved; one parsed string is one round trip total. ``%.17e`` literals
    lex as DOUBLE in Spark SQL and round-trip IEEE doubles exactly."""
    parts = []
    for cid, cv, cnorm in entries:
        vec = ",".join("%.17e" % x for x in cv)
        parts.append(
            f"named_struct('cvec', array({vec}), "
            f"'cnorm', {'%.17e' % cnorm}, 'cid', {cid}L)"
        )
    return F.expr("array(" + ",".join(parts) + ")")


def _scored_centroids(entries, vec_col: str, vnorm: Column) -> Column:
    """Per-row array of (sim, neg_cid) structs — cosine of the row's
    vector against every centroid, one transform over the centroid
    literal. ``array_max`` picks the assignment; descending ``sort_array``
    + ``slice`` picks probe cells."""
    return F.transform(
        _centroid_literal(entries),
        lambda c: F.struct(
            (dot_d(F.col(vec_col), c["cvec"]) / (vnorm * c["cnorm"])).alias("sim"),
            (-c["cid"]).alias("neg_cid"),
        ),
    )


def _assign_cells(vectors: DataFrame, entries, vec_col: str) -> DataFrame:
    out = vectors.withColumn("__vnorm", norm_d(F.col(vec_col)))
    best = F.array_max(_scored_centroids(entries, vec_col, F.col("__vnorm")))
    return out.withColumn("cell", (-best["neg_cid"]).cast("long")).drop("__vnorm")


def _nearest_centroid(X, cmat, cnorm):
    """Row index into the cid-sorted centroid matrix ``cmat`` of each
    row of ``X``'s nearest centroid by cosine — the exact per-batch rule
    of :func:`_assign_cells`: cosines from the sequential fold
    (:func:`_seq_norm`, :func:`_seq_block_dot` — the interpreted
    lambda's doubles), NaN sims ranked GREATEST (Spark struct
    ordering), and argmax's first maximum = smallest cid on ties,
    matching max-by-(sim, neg_cid). Zero-norm rows or centroids raise,
    as the expression path does under ANSI double division."""
    import numpy as np

    vnorm = _seq_norm(X)
    _require_nonzero(vnorm, "input")
    _require_nonzero(cnorm, "centroid")
    sims = _seq_block_dot(X, cmat) / (vnorm[:, None] * cnorm[None, :])
    return np.argmax(np.where(np.isnan(sims), np.inf, sims), axis=1)


def _assign_cells_arrow(vectors: DataFrame, entries, vec_col: str) -> DataFrame:
    """Bit-exact Arrow twin of :func:`_assign_cells`: each batch's
    valid rows take :func:`_nearest_centroid`'s cell. Rows whose vector
    is NULL or length-mismatched get all-NULL sims in the expression
    path, whose array_max then ties every struct and picks the smallest
    cid — the twin assigns them ``min(cid)`` directly (pinned by parity
    test). Map-side: one MapInPandas node, no Exchange."""
    import numpy as np

    cids = [cid for cid, _cv, _cn in entries]
    d = len(entries[0][1]) if entries else 0
    cmat = np.array([cv for _cid, cv, _cn in entries], dtype=np.float64)
    cnorm = np.array([cn for _cid, _cv, cn in entries], dtype=np.float64)
    cid_arr = np.array(cids, dtype=np.int64)
    if vectors.columns and "cell" in vectors.columns:
        vectors = vectors.drop("cell")
    out_schema = T.StructType(
        list(vectors.schema.fields) + [T.StructField("cell", T.LongType())]
    )

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            valid, X, _d = _split_valid_rows(pdf[vec_col], d)
            cells = np.full(len(pdf), cids[0] if cids else 0, dtype=np.int64)
            if valid.any() and len(cids):
                cells[valid] = cid_arr[_nearest_centroid(X, cmat, cnorm)]
            pdf = pdf.copy()
            pdf["cell"] = cells
            yield pdf

    return vectors.mapInPandas(assign, out_schema)


def sample_centroids(
    vectors: DataFrame, n: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic centroid seed: the n vectors with the smallest ids
    (k-means init is out of scope; any fixed rule works for bucketing).

    Evaluated EAGERLY into a local-relation DataFrame: the centroid set is
    bounded by definition, the limit collapses to a top-n collect, and
    every consumer (assignment, probe selection) needs the rows driver-
    side anyway — keeping this lazy re-ran a global-sort + window job per
    consumer. Centroid ids are enumeration order of the sorted collect,
    which is exactly the old row_number-over-id rule."""
    rows = (
        vectors.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col).asc())
        .limit(n)
        .collect()
    )
    spark = vectors.sparkSession
    schema = T.StructType(
        [
            T.StructField("centroid_id", T.LongType(), False),
            T.StructField(
                "centroid", vectors.schema[vec_col].dataType, False
            ),
        ]
    )
    return spark.createDataFrame(
        [(i, r[vec_col]) for i, r in enumerate(rows)], schema
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "arrow",
) -> DataFrame:
    """Approximate top-k: score only candidates whose IVF cell is among the
    query's ``nprobe`` nearest centroids. With ``nprobe >= n_centroids``
    this returns exactly the brute-force result.

    Probe-cell selection is map-side over the query rows: score the
    centroid literal, ``sort_array`` descending (highest sim first; ties
    toward the smaller cid via the negated id, matching the assignment
    rule), ``slice`` the first ``nprobe``, explode. The centroid set is
    collected ONCE for both the assignment and the probe step — no
    crossJoin, no per-query window, no extra centroid-side jobs.

    ``impl`` (default ``"arrow"``): ``"arrow"`` routes the
    two O(n)-row fold workloads — cell assignment and candidate scoring
    — through bit-exact vectorized Arrow passes (:func:`_seq_block_dot`);
    probe-cell selection stays in-plan (O(queries) rows). ``"expr"``
    keeps every fold interpreted in the JVM. Identical values and ranks
    either way; non-long id columns always take ``"expr"``."""
    if impl == "arrow" and not isinstance(
        vectors.schema[id_col].dataType, T.LongType
    ):
        impl = "expr"
    if impl not in ("arrow", "expr"):
        raise ValueError(f"unknown ivf_topk impl: {impl!r}")
    entries = _centroid_entries(centroids)
    cells = (
        _assign_cells_arrow(vectors, entries, vec_col)
        if impl == "arrow"
        else _assign_cells(vectors, entries, vec_col)
    )
    probe_cells = F.slice(
        F.sort_array(
            _scored_centroids(entries, vec_col, norm_d(F.col(vec_col))), asc=False
        ),
        1,
        nprobe,
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(F.transform(probe_cells, lambda t: -t["neg_cid"])).alias("cell"),
    )
    if impl == "arrow":
        pairs = (
            cells.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("__cv"),
                "cell",
            )
            .join(F.broadcast(probes), "cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id", "__qv", "__cv")
        )
        return _topk_per_query(_cosine_pairs_arrow(pairs, "__qv", "__cv"), k)
    probes = probes.withColumn("__qn", norm_d(F.col("__qv")))
    # Per-side norm precompute (see cosine_topk): one fold per candidate
    # row / probe row, never per scored pair; bit-identical values.
    cand = cells.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"), "cell"
    ).withColumn("__cn", norm_d(F.col("__cv")))
    scored = (
        cand.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_d(F.col("__qv"), F.col("__cv"))
                / (F.col("__qn") * F.col("__cn"))
            ).alias("cosine"),
        )
    )
    return _topk_per_query(scored, k)


# ------------------------------------------------- sign-random-projection

#: Denominator turning 60-bit md5 integers into [0, 1) doubles.
_MD5_SCALE = float(1 << 60)


def _srp_hyperplanes(n_bits: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes for angular LSH (Charikar,
    STOC 2002): component (i, d) is an md5-derived uniform in [-1, 1).
    Sign-projection only needs a sign-symmetric component distribution —
    uniform works as well as gaussian for the collision-probability
    monotonicity (P[bit match] = 1 - angle/pi), and md5 keeps the planes
    identical across engines/runs with no RNG."""
    import hashlib

    planes = []
    for i in range(n_bits):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"lakeshack-srp-{i}-{d}".encode()).hexdigest()
            row.append(2.0 * (int(h[:15], 16) / _MD5_SCALE) - 1.0)
        planes.append(row)
    return planes


def _srp_bits_arrow_udf(planes):
    """Arrow-batched twin of srp_signature's bit transform —
    bit-identical to ``when(dot_d(vec, plane) >= 0, 1).otherwise(0)``
    per plane: float→double casts are exact, :func:`_seq_block_dot`
    reproduces the sequential IEEE fold, and NULL/ragged rows (whose
    expression dot folds to NULL, so every bit lands in otherwise(0))
    come back as all-zero bit arrays. Exists for the wide-vector
    regime: the expression form evaluates n_bits interpreted HOF folds
    of dim elements PER ROW (HOF lambdas never enter codegen), so its
    cost is ~µs × n_bits × dim, while one vectorized pass amortizes
    across the batch. Measured interleaved (r14; re-run with
    ``tools/ab.py srp256`` / ``srp64``): the twin wins 10× at 256 dims,
    5× at 64 dims × 200k rows, and still 0.43 vs 0.59 s at the 6k-row
    bench shape — srp_signature dispatches on dim
    (:data:`SRP_ARROW_MIN_DIM`)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    Q = np.array(planes, dtype=np.float64)  # (n_bits, dim)
    d = Q.shape[1]

    @pandas_udf("array<int>")
    def bits(vecs: pd.Series) -> pd.Series:
        import numpy as np

        valid, X, _ = _split_valid_rows(vecs, d)
        dots = _seq_block_dot(X, Q)  # (n_valid, n_bits), sequential fold
        out = np.zeros((len(vecs), Q.shape[0]), dtype=np.int32)
        out[valid] = (dots >= 0).astype(np.int32)
        return pd.Series(list(out))

    return bits


#: srp_signature auto-dispatch cutover: at or above this embedding
#: dimension the Arrow twin scores the sign bits (one vectorized pass
#: per batch) instead of n_bits interpreted HOF folds per row. Measured
#: interleaved at n_bits=64 (r14, ``tools/ab.py srp64`` / ``srp128`` /
#: ``srp256``, plans/r14/srp_wide_ab.jsonl): arrow wins every tested shape —
#: 200k vectors: 2.5 vs 25 s at 256 dims (10×), 1.2-1.6 vs 10-11 s at
#: 128, 0.8-1.0 vs 4.7-5.5 s at 64; and still 0.43-0.46 vs 0.59-1.09 s
#: at the 6k-row × 64-dim bench shape (4/4 rounds). Below 64 dims the
#: interpreted fold is small enough that the boundary cost could win —
#: untested, so the expression form keeps that regime.
SRP_ARROW_MIN_DIM = 64


def srp_signature(
    vectors: DataFrame,
    n_bits: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    impl: str | None = None,
) -> DataFrame:
    """Adds ``srp_bits``: array of ``n_bits`` sign bits (1 if the vector's
    dot product with hyperplane i is >= 0). The hyperplane matrix enters
    the plan as ONE literal array<array<double>> expression (a single
    parsed SQL string — per-scalar ``F.lit`` is a py4j round trip each),
    and the per-row cost is ``n_bits`` codegen dot products, map-only.

    The embedding dimension resolves without running a job when possible:
    the explicit ``dim`` argument first, then a ``dim`` key in the vector
    column's schema metadata; only when both are absent does it fall back
    to an eager ``first()`` read (raising ValueError on an empty input
    instead of the opaque TypeError ``first()[0]`` would produce)."""
    if dim is None:
        meta = vectors.schema[vec_col].metadata or {}
        dim = meta.get("dim")
    if dim is None:
        head = vectors.select(vec_col).first()
        if head is None or head[0] is None:
            raise ValueError(
                f"srp_signature: cannot infer embedding dimension — input has "
                f"no rows (or NULL {vec_col!r} in the first row); pass dim="
            )
        dim = len(head[0])
    planes = _srp_hyperplanes(n_bits, dim)
    if impl is None:
        impl = "arrow" if dim >= SRP_ARROW_MIN_DIM else "expr"
    if impl == "arrow":
        # wide-vector regime: one vectorized bit-exact pass per batch
        # (see _srp_bits_arrow_udf) instead of n_bits interpreted folds
        # of dim elements per row
        return vectors.withColumn(
            "srp_bits", _srp_bits_arrow_udf(planes)(F.col(vec_col))
        )
    if impl != "expr":
        raise ValueError(f"unknown srp_signature impl: {impl!r}")
    planes_lit = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join("%.17e" % x for x in row) + ")" for row in planes
        )
        + ")"
    )
    bits = F.transform(
        planes_lit,
        lambda h: F.when(dot_d(F.col(vec_col), h) >= 0, F.lit(1)).otherwise(F.lit(0)),
    )
    return vectors.withColumn("srp_bits", bits)


def srp_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_bits: int = 64,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Sub-quadratic embedding near-duplicate discovery: SRP-LSH banding
    proposes candidates, exact cosine verifies — the embedding-space
    analogue of ``dedup.minhash_verified_pairs``. Returns (id_a, id_b,
    cosine ≥ threshold) pairs.

    Candidates collide when ALL bits of any band agree; for cosine s the
    per-bit match probability is 1 - arccos(s)/pi. The default is 8 bands
    of 8 bits: a 0.95-cosine pair (per-bit p ≈ 0.899) is missed with
    p ≈ (1-0.899^8)^8 ≈ 1.2e-2, while an unrelated near-orthogonal pair
    (per-bit p ≈ 0.5) collides in a band with p = 2^-8 — ~3% of random
    pairs across all 8 bands. (The old 4-bit bands admitted 1/16 of
    random pairs PER band — a quadratic candidate stream at any density,
    measured 5× the wall time of the 8-bit bands on the sf0.1 embeddings
    before verification costs are even counted.) Tune bands/bits to the
    corpus density and threshold. The self-join is an equi-join on
    (band, band-bits): shuffle keys hold only colliding vectors, so cost
    tracks near-duplicate density, not n²; brute-force
    ``embedding_near_dup_pairs`` stays the oracle at test scale.
    """
    bits_per_band = n_bits // bands
    # Norm computed ONCE per vector, before the band explode and the
    # join: the verify stage divides by the carried per-side norms, so a
    # vector in many candidate pairs never re-folds its norm.
    # Bit-identical to an in-pair cosine_col.
    from lakeshack_spark.session import spread_small_input

    # n_bits dot products per row serialize on one core when the table
    # is one single-row-group file (see session.spread_small_input).
    vectors = spread_small_input(vectors)
    sigs = srp_signature(vectors, n_bits, id_col, vec_col, dim=dim).select(
        F.col(id_col), F.col(vec_col), F.col("srp_bits")
    ).withColumn("__n", norm_d(F.col(vec_col)))
    banded = sigs.select(
        F.col(id_col),
        F.col(vec_col),
        F.col("__n"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at(
                                    F.col("srp_bits"), b * bits_per_band + r + 1
                                )
                                for r in range(bits_per_band)
                            ],
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, vec_col, "__n", "bb.band", "bb.bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{vec_col}").alias("__va"),
            F.col(f"b.{vec_col}").alias("__vb"),
            F.col("a.__n").alias("__na"),
            F.col("b.__n").alias("__nb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            (
                dot_d(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", bits: int = 8
) -> DataFrame:
    """Symmetric scalar quantization of an embedding column to signed
    integer codes — the standard 4x (fp32→int8) storage/bandwidth cut for
    ANN candidate tiers at corpus scale. Adds:

    - ``codes``: ``array<int>``, ``code_i = clamp(floor(x_i·qmax/amax),
      ±qmax)`` with per-vector ``amax = max|x_i|`` and
      ``qmax = 2^(bits-1) − 1``;
    - ``scale``: ``amax/qmax`` (dequantize as ``code_i · scale``);
    - ``amax``.

    ``floor``, not ``round``: HALF_UP vs banker's rounding differs across
    engines while ``floor`` is identical everywhere (the repo's
    determinism discipline) — and the division can land epsilon past
    ±qmax (``(x·qmax)`` rounds before the divide), which the clamp
    absorbs, so the dequantization error bound is ``2·scale`` (one floor
    step + one clamp step), asserted under the hash gate. Zero vectors
    (amax = 0) quantize to all-zero codes with scale 0. Map-only,
    whole-stage codegen; at 100 TB this runs inside the same scan that
    wrote the fp32 vectors.
    """
    qmax = (1 << (bits - 1)) - 1
    out = df.withColumn(
        "__v", F.transform(F.col(vec_col), lambda x: x.cast("double"))
    ).withColumn("amax", F.array_max(F.transform(F.col("__v"), lambda x: F.abs(x))))
    codes = F.when(
        F.col("amax") > 0,
        F.transform(
            F.col("__v"),
            lambda x: F.greatest(
                F.lit(-qmax),
                F.least(
                    F.lit(qmax).cast("long"),
                    F.floor(x * F.lit(qmax) / F.col("amax")),
                ),
            ).cast("int"),
        ),
    ).otherwise(F.transform(F.col("__v"), lambda x: F.lit(0)))
    scale = F.when(
        F.col("amax") > 0, F.col("amax") / F.lit(qmax)
    ).otherwise(F.lit(0.0))
    return (
        out.withColumn("codes", codes)
        .withColumn("scale", scale)
        .drop("__v")
    )


def cell_means(
    df: DataFrame, cell_col: str = "cell", arr_col: str = "codes"
) -> DataFrame:
    """Per-(cell, dimension) mean of an array column — the aggregation
    half of a Lloyd/k-means centroid update, flattened to scalars.

    Output: ``(cell, dim, n_members, sum_val, mean_val)`` with ``dim``
    0-based. One posexplode + one (cell, dim)-keyed aggregation with
    map-side partial combine — shuffle rows = cells × dims, independent
    of corpus size.

    Over an INTEGER array (e.g. int8 codes from
    :func:`quantize_embeddings`) the sums are exact and the mean is one
    int→double division — bit-reproducible across engines, which is how
    the k-means update step sits under the cross-engine hash gate. Over
    doubles the sum is order-dependent (production path; unit-tested)."""
    ex = df.select(
        F.col(cell_col).alias("cell"),
        F.posexplode(F.col(arr_col)).alias("dim", "__val"),
    )
    return (
        ex.groupBy("cell", "dim")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("__val").alias("sum_val"),
        )
        .withColumn(
            "mean_val",
            F.col("sum_val").cast("double") / F.col("n_members").cast("double"),
        )
    )


def kmeans_update(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd (k-means) iteration: assign every vector to its nearest
    centroid by cosine (map-side literal argmax — :func:`ivf_assign`, no
    shuffle), then recompute each centroid as the member mean.

    Returns ``(centroid_id, centroid, n_members)`` — empty cells keep
    their previous centroid with ``n_members = 0`` (the standard Lloyd
    convention, so iteration never loses a cluster).

    This is the SemDeDup-shape clustering loop for semantic dedup /
    corpus curation: iterate a few rounds, then run per-cell near-dup
    removal (embedding_near_dup_pairs with ``cell`` as the block).
    Scale: per iteration one corpus scan, one cells×dims-row shuffle,
    one bounded collect (the next literal centroid set)."""
    assigned = ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col)
    dbl = assigned.withColumn(
        "__vd", F.transform(F.col(vec_col), lambda x: x.cast("double"))
    )
    means = cell_means(dbl, cell_col="cell", arr_col="__vd")
    new = means.groupBy("cell").agg(
        F.max("n_members").alias("n_members"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("mean_val")))
            ),
            lambda s: s["mean_val"],
        ).alias("__new"),
    )
    old = centroids.select(
        F.col("centroid_id"),
        F.transform(F.col("centroid"), lambda x: x.cast("double")).alias("__old"),
    )
    return (
        old.join(new, old["centroid_id"] == new["cell"], "left")
        .select(
            "centroid_id",
            F.coalesce(F.col("__new"), F.col("__old")).alias("centroid"),
            F.coalesce(F.col("n_members"), F.lit(0).cast("long")).alias(
                "n_members"
            ),
        )
    )


def projection_matrix(out_dim: int, in_dim: int) -> list[list[float]]:
    """Deterministic ±1 random-projection matrix (Achlioptas 2003: sign
    entries preserve pairwise distances per Johnson–Lindenstrauss just as
    Gaussians do), derived from md5 so every engine/run agrees without an
    RNG — the same discipline as the SRP hyperplanes and MinHash params.
    Entry (j, i) = +1 if the low bit of h64("proj:j:i") is set else -1,
    scaled by 1/sqrt(out_dim) so expected norms are preserved."""
    import hashlib
    import math

    s = 1.0 / math.sqrt(out_dim)
    rows = []
    for j in range(out_dim):
        row = []
        for i in range(in_dim):
            h = int(hashlib.md5(f"proj:{j}:{i}".encode()).hexdigest()[:15], 16)
            row.append(s if h & 1 else -s)
        rows.append(row)
    return rows


def project_embeddings(
    df: DataFrame,
    out_dim: int,
    vec_col: str = "embedding",
    dim: int | None = None,
    prefix: str = "proj_",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: adds ``out_dim`` double
    columns ``{prefix}0..{prefix}{out_dim-1}``, each the sequential-fold
    dot product of the vector with one ±1/√out_dim matrix row.

    The JL use case at corpus scale: cut the per-vector footprint (and
    every downstream distance computation) k/out_dim-fold while pairwise
    distances survive within (1±ε) — the cheap front tier before exact
    rescoring on the full vectors, complementary to int8 quantization
    (which cuts bytes per dimension; this cuts dimensions).

    Map-only whole-stage codegen: the matrix enters the plan as literal
    arrays (one parsed SQL string per row — per-scalar ``F.lit`` costs a
    py4j round trip each, the measured plan-construction trap), and each
    output coordinate is one ``dot_d`` fold, bit-reproducible across
    engines. ``dim`` (input dimensionality) is read from the first row
    only if not supplied — pass it in pipelines to avoid the eager job.
    """
    if dim is None:
        first = df.select(vec_col).first()
        if first is None or first[0] is None:
            raise ValueError("cannot infer dim from an empty DataFrame")
        dim = len(first[0])
    mat = projection_matrix(out_dim, dim)
    out = df
    for j, row in enumerate(mat):
        lit = F.expr("array(" + ",".join("%.17e" % x for x in row) + ")")
        out = out.withColumn(f"{prefix}{j}", dot_d(F.col(vec_col), lit))
    return out


# ------------------------------------------------------------------ PQ


def pq_codebooks(
    vectors: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float], float]]]:
    """Deterministic product-quantization codebook seed: the ``n_codes``
    smallest-id vectors, each split into ``m`` equal subvectors — subspace
    ``j``'s codebook is their j-th chunks (codes enumerate collect order,
    the :func:`sample_centroids` convention; production training refines
    each subspace with :func:`kmeans_update` iterations, which this seed
    initializes).

    Returns per-subspace entries ``(code, subvector, c·c)`` with the
    self-dot precomputed by the same sequential IEEE fold as
    :func:`dot_d`, so in-plan distances are bit-identical to an in-plan
    computation."""
    rows = (
        vectors.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col).asc())
        .limit(n_codes)
        .collect()
    )
    if len(rows) < n_codes:
        raise ValueError(
            f"pq_codebooks: corpus ({len(rows)} vectors) smaller than "
            f"n_codes ({n_codes})"
        )
    dim = len(rows[0][vec_col])
    if dim % m != 0:
        raise ValueError(f"pq_codebooks: dim {dim} not divisible by m={m}")
    ds = dim // m
    books = []
    for j in range(m):
        entries = []
        for code, r in enumerate(rows):
            sub = [float(x) for x in r[vec_col][j * ds : (j + 1) * ds]]
            acc = 0.0
            for x in sub:
                acc += x * x
            entries.append((code, sub, acc))
        books.append(entries)
    return books


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[tuple[int, list[float], float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encoding (Jégou et al., TPAMI 2011): each
    vector becomes ``m`` small codes — the nearest codebook entry per
    subspace by squared L2 — compressing fp32 embeddings ~``32·ds/8``×
    for ANN candidate tiers (composes with :func:`quantize_embeddings`'s
    int8 tier and :func:`project_embeddings`'s JL tier; asymmetric
    distance scans decode per query, not per corpus row).

    Adds ``code_0..code_{m-1}`` (int) and ``recon_sqerr`` (double, the
    summed per-subspace ||x_j − c||²). Entirely map-side whole-stage
    codegen: per subspace ONE literal array of (cvec, cc, code) structs
    (single parsed expression — the py4j-per-literal and
    per-centroid-copy plan costs are the measured traps) and a per-row
    ``array_max`` argmin with distances via the expanded identity
    ``x·x − 2.0·x·c + c·c`` — the identical IEEE tree the DuckDB oracle
    evaluates, making codes AND error cross-engine exact. Ties break to
    the smallest code. No shuffle, no join, no Python."""
    m = len(codebooks)
    ds = len(codebooks[0][0][1])

    out = vectors
    err_cols = []
    for j, entries in enumerate(codebooks):
        parts = []
        for code, sub, cc in entries:
            vec = ",".join("%.17e" % x for x in sub)
            parts.append(
                f"named_struct('cvec', array({vec}), "
                f"'cc', {'%.17e' % cc}, 'code', {code})"
            )
        lit = F.expr("array(" + ",".join(parts) + ")")
        xj = F.slice(F.col(vec_col), j * ds + 1, ds)
        xxj = dot_d(F.col(f"__x{j}"), F.col(f"__x{j}"))
        if j == 0:
            # Per-row dimension guard on the consumed __xx0 column (an
            # unreferenced assert column would be pruned away): without
            # it a wrong-dim vector column yields plausible-looking
            # garbage codes — empty slices make the null distances pick
            # code 0 silently (caught in review).
            ok = F.assert_true(
                F.size(F.col(vec_col)) == m * ds,
                F.lit(f"pq_encode: embedding dim != m*ds = {m * ds}"),
            )
            xxj = F.when(ok.isNull(), xxj)
        out = out.withColumn(f"__x{j}", xj).withColumn(f"__xx{j}", xxj)
        def _scorer(xcol, xxcol):
            # closure factory: default-arg lambdas count as extra HOF
            # params and fail analysis (CLAUDE.md gotcha)
            def score(c):
                return F.struct(
                    (
                        -(xxcol - F.lit(2.0) * dot_d(xcol, c["cvec"]) + c["cc"])
                    ).alias("negd"),
                    (-c["code"]).alias("negcode"),
                )

            return score

        scored = F.transform(lit, _scorer(F.col(f"__x{j}"), F.col(f"__xx{j}")))
        best = F.array_max(scored)
        out = out.withColumn(f"code_{j}", (-best["negcode"]).cast("int")).withColumn(
            f"__d{j}", -best["negd"]
        )
        err_cols.append(f"__d{j}")
    sqerr = F.col(err_cols[0])
    for c in err_cols[1:]:
        sqerr = sqerr + F.col(c)
    out = out.withColumn("recon_sqerr", sqerr)
    drop = [f"__x{j}" for j in range(m)] + [f"__xx{j}" for j in range(m)] + err_cols
    return out.drop(*drop)


#: Above this many queries, pq_adc_topk abandons the single-literal plan
#: for a broadcast-join table distribution: the literal's parse/analysis
#: cost scales with #queries × n_codes (the CLAUDE.md plan-construction
#: trap) and VERDICT_r5 flagged the unbounded growth; 64 queries × 4
#: subspaces × 16 codes ≈ 4k doubles is comfortably inside the measured
#: flat zone, while the join path is O(1) in plan size for any query
#: count. Both paths share _adc_tables and are pinned identical in
#: tests/test_operators.py.
PQ_ADC_LITERAL_MAX_QUERIES = 64

#: Above this many queries, the ADC distance tables themselves are built
#: DISTRIBUTED (mapInPandas over the query frame) instead of in driver
#: Python: the driver path collects the whole query set and folds
#: O(|Q|·m·n_codes·ds) doubles on one core — fine for the FAISS-style
#: bounded batch the docstrings contract, serial for a million-query
#: re-ranking batch (VERDICT_r7 item 3). Both builders call the SAME
#: per-query fold (:func:`_adc_tables` / :func:`_ivfpq_query_rows`), so
#: the paths are bit-identical — pinned in tests/test_operators.py.
PQ_ADC_DRIVER_TABLES_MAX_QUERIES = 4096


def _distributed_adc_tables(
    queries: DataFrame,
    codebooks,
    ds: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, __t0..__t{m-1}) built executor-side: mapInPandas over
    the query frame, one :func:`_adc_tables` call per row — the exact
    sequential IEEE fold of the driver path, just partitioned. Driver
    cost is O(1) in #queries."""
    m = len(codebooks)
    schema = T.StructType(
        [T.StructField("query_id", T.LongType(), False)]
        + [
            T.StructField(f"__t{j}", T.ArrayType(T.DoubleType()), False)
            for j in range(m)
        ]
    )

    def build(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = {"query_id": []}
            for j in range(m):
                out[f"__t{j}"] = []
            for qid, vec in zip(pdf[id_col], pdf[vec_col]):
                tables = _adc_tables([float(x) for x in vec], codebooks, ds)
                out["query_id"].append(int(qid))
                for j in range(m):
                    out[f"__t{j}"].append(tables[j])
            yield pd.DataFrame(out)

    # Spread the fold across cores regardless of input layout: a query
    # batch often arrives as ONE file (measured: the mapInPandas ran on
    # 1 partition and matched driver-path wall time). The |Q|-row
    # shuffle is negligible next to the O(|Q|·m·n_codes·ds) fold work.
    par = queries.sparkSession.sparkContext.defaultParallelism
    return (
        queries.select(F.col(id_col), F.col(vec_col))
        .repartition(max(par, 1))
        .mapInPandas(build, schema)
    )


def pq_adc_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: list[list[tuple[int, list[float], float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    literal_max_queries: int | None = None,
    driver_tables_max_queries: int | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over PQ codes — the scan
    half of the PQ pipeline: each query precomputes one distance table
    per subspace (its squared L2 to every codebook entry), and a
    candidate's distance is just ``m`` table lookups summed — no float
    vector is ever read on the scan side, which is the whole point at
    corpus scale (codes are ~``32·ds/8``× smaller than fp32).

    ``encoded`` must carry ``code_0..code_{m-1}`` (from
    :func:`pq_encode` — typically precomputed and stored). Tables use
    the same sequential IEEE folds as the oracle's ``list_dot_product``.
    Three tiers by query count: up to ``literal_max_queries`` (default
    :data:`PQ_ADC_LITERAL_MAX_QUERIES`) the driver-built tables are
    folded into ONE literal array of per-query structs (single parsed
    expression) exploded per candidate row; above that, the identical
    tables ship as a tiny broadcast DataFrame cross-joined to the codes
    scan — same per-row arithmetic, plan size O(1) in #queries
    (VERDICT_r5); above ``driver_tables_max_queries`` (default
    :data:`PQ_ADC_DRIVER_TABLES_MAX_QUERIES`) the tables are ALSO built
    executor-side (:func:`_distributed_adc_tables` — same fold, one
    mapInPandas over the query frame), so driver cost is O(1) in
    #queries too (VERDICT_r7 item 3; all three paths pinned
    row-identical in tests). The broadcast itself bounds this operator
    at ~millions of queries (|Q|·m·n_codes doubles must fit an executor)
    — past that, re-ranking should go through :func:`ivfpq_search`'s
    cell-keyed join, not an all-pairs ADC. Either way
    scoring is map-side (no shuffle before the two-stage top-k), so scan
    parallelism never collapses to #queries. Distances use the expanded
    identity ``x·x − 2.0·x·c + c·c`` summed in fixed subspace order —
    bit-reproducible cross-engine. Ties break to the smaller neighbor id.

    Returns (query_id, neighbor_id, adc_dist, rank); exact PQ-ADC (the
    approximation is the quantization itself, pinned by
    ``recon_sqerr``), so planted exact-duplicate vectors rank first at
    adc_dist = the duplicate's own reconstruction error.
    """
    m = len(codebooks)
    ds = len(codebooks[0][0][1])
    thresh = (
        PQ_ADC_LITERAL_MAX_QUERIES
        if literal_max_queries is None
        else literal_max_queries
    )
    dmax = (
        PQ_ADC_DRIVER_TABLES_MAX_QUERIES
        if driver_tables_max_queries is None
        else driver_tables_max_queries
    )
    # ONE job decides the routing AND supplies the rows (ADVICE r8): a
    # separate count() re-evaluated the query frame (and could disagree
    # with a later collect on a nondeterministic frame). limit(cap+1) on
    # the ordered frame is a TopK — if the cap is hit the rows are
    # discarded and the distributed builder runs; otherwise these ARE
    # all the rows, in id order.
    cap = max(thresh, dmax)
    qrows = (
        queries.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col).asc())
        .limit(cap + 1)
        .collect()
    )
    n_q = len(qrows)
    if n_q == 0:
        raise ValueError("pq_adc_topk: empty query set")
    codes = encoded.select(
        F.col(id_col).alias("neighbor_id"),
        *[F.col(f"code_{j}") for j in range(m)],
    )
    qtables = None
    if n_q <= cap:
        qtables = [
            (
                int(r[id_col]),
                _adc_tables([float(x) for x in r[vec_col]], codebooks, ds),
            )
            for r in qrows
        ]
    if qtables is not None and n_q <= thresh:
        parts = []
        for qid, tables in qtables:
            fields = [f"'qid', {qid}L"]
            for j, tbl in enumerate(tables):
                fields.append(
                    f"'t{j}', array(" + ",".join("%.17e" % t for t in tbl) + ")"
                )
            parts.append("named_struct(" + ",".join(fields) + ")")
        lit = F.expr("array(" + ",".join(parts) + ")")
        scored = codes.withColumn("__q", F.explode(lit))
        dist = F.element_at(F.col("__q")["t0"], F.col("code_0") + 1)
        for j in range(1, m):
            dist = dist + F.element_at(
                F.col("__q")[f"t{j}"], F.col(f"code_{j}") + 1
            )
        scored = scored.select(
            F.col("__q")["qid"].alias("query_id"),
            "neighbor_id",
            (-dist).alias("cosine"),  # _topk_per_query ranks cosine DESC
        )
    else:
        if qtables is not None:
            spark = encoded.sparkSession
            schema = T.StructType(
                [T.StructField("query_id", T.LongType(), False)]
                + [
                    T.StructField(
                        f"__t{j}", T.ArrayType(T.DoubleType()), False
                    )
                    for j in range(m)
                ]
            )
            tables_df = spark.createDataFrame(
                [(qid, *tables) for qid, tables in qtables], schema
            )
        else:
            tables_df = _distributed_adc_tables(
                queries, codebooks, ds, id_col, vec_col
            )
        joined = codes.crossJoin(F.broadcast(tables_df))
        dist = F.element_at(F.col("__t0"), F.col("code_0") + 1)
        for j in range(1, m):
            dist = dist + F.element_at(
                F.col(f"__t{j}"), F.col(f"code_{j}") + 1
            )
        scored = joined.select(
            "query_id",
            "neighbor_id",
            (-dist).alias("cosine"),  # _topk_per_query ranks cosine DESC
        )
    scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    out = _topk_per_query(scored, k)
    return out.select(
        "query_id",
        "neighbor_id",
        (-F.col("cosine")).alias("adc_dist"),
        "rank",
    )


def pq_train(
    vectors: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    sample_n: int = 2048,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float], float]]]:
    """Lloyd-refined PQ codebooks: :func:`pq_codebooks`' seed improved by
    per-subspace k-means over a bounded deterministic sample (the
    ``sample_n`` smallest-id vectors — no RNG anywhere), driver-side
    NumPy. Codebook training is inherently a bounded job (m·n_codes·ds
    floats out); the 100 TB path samples, trains here, then encodes the
    full corpus with :func:`pq_encode`'s map-only scan. For distributed
    refinement over the whole corpus, compose :func:`pq_encode` with
    :func:`cell_means` per subspace instead.

    Assignment is squared-L2 argmin with ties to the smallest code (the
    same rule as encoding); empty codes keep their previous centroid
    (the Lloyd convention, so no cluster is ever lost). Deterministic:
    same data → bit-identical codebooks."""
    import numpy as np

    rows = (
        vectors.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col).asc())
        .limit(sample_n)
        .collect()
    )
    if len(rows) < n_codes:
        raise ValueError(
            f"pq_train: sample ({len(rows)}) smaller than n_codes ({n_codes})"
        )
    dim = len(rows[0][vec_col])
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    ds = dim // m
    data = np.array([[float(x) for x in r[vec_col]] for r in rows])
    books = []
    for j in range(m):
        X = data[:, j * ds : (j + 1) * ds]
        cb = X[:n_codes].copy()
        for _ in range(iters):
            d2 = ((X[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)  # argmin ties -> first (smallest code)
            for code in range(n_codes):
                members = X[assign == code]
                if len(members):
                    cb[code] = members.mean(axis=0)
        entries = []
        for code in range(n_codes):
            sub = [float(x) for x in cb[code]]
            acc = 0.0
            for x in sub:
                acc += x * x
            entries.append((code, sub, acc))
        books.append(entries)
    return books


def pq_encode_arrow(
    vectors: DataFrame,
    codebooks: list[list[tuple[int, list[float], float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched NumPy twin of :func:`pq_encode` — one BLAS matmul
    per (batch, subspace) instead of n_codes interpreted HOF dot folds
    per row. Measured honestly (400k × 64-d, steady state): ≈ parity at
    n_codes=64 (1.7 s expr vs 2.2 s — the Arrow/pandas list conversion
    dominates small codebooks) and ~1.5× at n_codes=256 (3.8 vs 2.5 s),
    the gap growing with n_codes as BLAS outscales interpreted eval —
    unlike the repetition-stats case, the expression path here is a
    single constant-size transform, so it holds up far better than
    naive per-row HOF work. Same codes and the same argmin/tie rule
    (``argmin`` returns the first = smallest code); ``recon_sqerr`` and
    tie-edge codes can differ from the fold order in final-ulp rounding,
    so the HASH-GATED twin is :func:`pq_encode` — prefer this one only
    for bulk encoding with big (≥256) codebooks; parity-pinned by the
    unit suite."""
    m = len(codebooks)
    ds = len(codebooks[0][0][1])

    fields = list(vectors.schema.fields) + [
        T.StructField(f"code_{j}", T.IntegerType()) for j in range(m)
    ] + [T.StructField("recon_sqerr", T.DoubleType())]
    out_schema = T.StructType(fields)

    def encode(batches):
        import numpy as np

        books_np = _pq_numpy_books(codebooks)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            yield _pq_numpy_apply(pdf, X, books_np, ds)

    return vectors.mapInPandas(encode, out_schema)


def _pq_numpy_books(codebooks):
    """Codebooks as per-subspace (centroid matrix, self-dot vector)."""
    import numpy as np

    cmats = [
        np.array([sub for _code, sub, _cc in es], dtype=np.float64)
        for es in codebooks
    ]
    ccs = [
        np.array([cc for _code, _sub, cc in es], dtype=np.float64)
        for es in codebooks
    ]
    return cmats, ccs


def _pq_numpy_apply(pdf, X, books_np, ds):
    """The ONE NumPy PQ scorer (shared by pq_encode_arrow and
    ivfpq_encode so the d2 identity, the first-index = smallest-code
    argmin tie rule, int32 codes, and the recon accumulation cannot
    diverge between the two paths): writes code_j + recon_sqerr into
    ``pdf`` given the (rows × dim) float64 matrix to quantize."""
    import numpy as np

    cmats, ccs = books_np
    total = np.zeros(len(pdf))
    rows = np.arange(len(pdf))
    for j in range(len(cmats)):
        Xj = X[:, j * ds : (j + 1) * ds]
        d2 = (
            (Xj * Xj).sum(axis=1)[:, None]
            - 2.0 * (Xj @ cmats[j].T)
            + ccs[j][None, :]
        )
        codes = d2.argmin(axis=1)
        pdf[f"code_{j}"] = codes.astype("int32")
        total = total + d2[rows, codes]
    pdf["recon_sqerr"] = total
    return pdf


def _adc_tables(x: list, codebooks, ds: int) -> list:
    """Per-subspace ADC distance tables for one (query or residual)
    vector, in the repo's sequential IEEE fold order —
    ``tbl[j][code] = x_j·x_j − 2.0·x_j·c + c·c`` over code-ordered
    entries. The ONE implementation of the bit-reproducibility contract
    (shared by pq_adc_topk and ivfpq_search)."""
    tables = []
    for j, book in enumerate(codebooks):
        xs = x[j * ds : (j + 1) * ds]
        xx = 0.0
        for t in xs:
            xx += t * t
        tbl = []
        for _code, c, cc in book:  # entries are code-ordered
            xc = 0.0
            for a, b in zip(xs, c):
                xc += a * b
            tbl.append(xx - 2.0 * xc + cc)
        tables.append(tbl)
    return tables


def _ivfpq_query_rows(
    qid: int, qv: list, entries, codebooks, ds: int, nprobe: int
) -> list:
    """One query's (query_id, cell, __t0..__t{m-1}) probe rows — the
    cosine cell probe (same metric ivf_assign stored candidates under;
    descending, tie → smaller cid) followed by residual
    :func:`_adc_tables` per probed cell. The ONE implementation shared
    by ivfpq_search's driver and distributed builders, so the two paths
    are bit-identical by construction."""
    import math

    qn = math.sqrt(sum(a * a for a in qv))
    cell_d = []
    for cid, cv, cn in entries:
        dot = 0.0
        for a, b in zip(qv, cv):
            dot += a * b
        sim = dot / (qn * cn) if qn > 0 and cn > 0 else 0.0
        cell_d.append((-sim, cid))
    cell_d.sort()
    rows = []
    for _d, cid in cell_d[:nprobe]:
        cv = next(c for i, c, _n in entries if i == cid)
        resid = [a - b for a, b in zip(qv, cv)]
        tables = _adc_tables(resid, codebooks, ds)
        rows.append((int(qid), int(cid), *tables))
    return rows


def pq_search(
    vectors: DataFrame,
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: list[list[tuple[int, list[float], float]]],
    k: int = 5,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The deployed PQ pipeline: :func:`pq_adc_topk` shortlists
    ``shortlist`` candidates per query from CODES ONLY, then an exact
    squared-L2 re-rank reads the full fp32 vectors for just those
    shortlist rows — the two-tier scan that makes recall@k equal
    recall@shortlist (the quantizer only has to *route*, the re-rank
    orders; ``git show b7e8b89:tools/stress_pq.py`` measured exactly
    that routing rate).

    Scale shape: the corpus-wide scan touches m ints per row; full
    vectors cross a join only for shortlist × #queries rows (AQE
    broadcasts that tiny side), so vector I/O is independent of corpus
    size. With ``shortlist`` ≥ corpus the result degrades to exact
    brute-force L2 — the oracle configuration, unit-pinned. Returns
    (query_id, neighbor_id, l2_sq, rank); deterministic (neighbor-id
    ties) end to end."""
    short = pq_adc_topk(
        encoded, queries, codebooks, k=shortlist, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id")
    cand = short.join(
        vectors.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
        ),
        "neighbor_id",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    scored = cand.join(F.broadcast(q), "query_id").select(
        "query_id",
        "neighbor_id",
        (
            -(
                dot_d(F.col("__cv"), F.col("__cv"))
                - F.lit(2.0) * dot_d(F.col("__qv"), F.col("__cv"))
                + dot_d(F.col("__qv"), F.col("__qv"))
            )
        ).alias("cosine"),  # _topk_per_query ranks cosine DESC
    )
    out = _topk_per_query(scored, k)
    return out.select(
        "query_id", "neighbor_id", (-F.col("cosine")).alias("l2_sq"), "rank"
    )


# -------------------------------------------------------------- IVF-PQ


def ivf_residuals(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
) -> DataFrame:
    """Coarse-assign every vector (:func:`ivf_assign` — map-side literal
    argmax) and subtract its cell centroid: adds ``cell`` and ``__res``
    (double array). The residual is what IVF-PQ quantizes — after
    removing the coarse structure, the fine quantizer's codebook only
    has to cover the within-cell spread, which is why residual PQ beats
    PQ on raw vectors wherever the corpus clusters. Map-only: the
    centroid lookup folds in as ONE literal long→array map (sparse
    centroid ids allowed), subtraction is a zip_with. The centroids are
    collected once and serve both the assignment and the map."""
    entries = _centroid_entries(centroids, centroid_id_col, centroid_vec_col)
    assigned = _assign_cells_arrow(vectors, entries, vec_col)
    parts = []
    for cid, cv, _cn in entries:
        vec = ",".join("%.17e" % x for x in cv)
        parts.append(f"{cid}L, array({vec})")
    cmap = F.expr("map(" + ",".join(parts) + ")")
    res = F.zip_with(
        F.col(vec_col),
        F.element_at(cmap, F.col("cell")),
        lambda x, c: x.cast("double") - c,
    )
    return assigned.withColumn("__res", res)


def ivfpq_encode(
    vectors: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[tuple[int, list[float], float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "arrow",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
) -> DataFrame:
    """IVF-PQ encoding (Jégou et al. 2011's IVFADC): coarse cell id +
    PQ codes of the RESIDUAL. ``codebooks`` should be trained on
    residuals (``pq_train(ivf_residuals(...), vec_col="__res")``).
    Output rows carry (``cell``, ``code_0..``, ``recon_sqerr``) — the
    storage layout is m+1 small ints per vector, and ``recon_sqerr``
    now measures the residual quantization error, strictly tighter than
    raw-vector PQ wherever the corpus clusters (unit-pinned).

    ``impl="arrow"`` (default) is ONE ``mapInPandas`` pass: per batch it
    assigns cells by :func:`ivf_assign`'s exact rule
    (:func:`_nearest_centroid` — the same doubles, NaN ordering and tie
    rule as the gated expression argmax), subtracts the cell centroid
    (one correctly-rounded IEEE op per element, so residuals equal the
    ``zip_with`` form) and encodes with :func:`_pq_numpy_apply`. The
    vectors cross the Arrow boundary once. That boundary is also what
    keeps the residual out of the PQ scoring lambdas: in
    ``impl="expr"`` project collapsing SUBSTITUTES the residual
    expression (the centroid argmax + a map lookup + a zip_with) into
    every one of m × n_codes lambda bodies, re-evaluating assignment
    per code (measured ~300 s for 50k × 64 codes vs ~5 s through an
    Arrow boundary — the CLAUDE.md no-CSE trap at composition scale).
    The expr path stays as the oracle-gated twin. NULL or ragged
    vectors have no residual and raise ``ValueError``; zero-norm
    vectors or centroids raise as :func:`ivf_assign` does."""
    if impl not in ("arrow", "expr"):
        raise ValueError(
            f"ivfpq_encode: impl must be 'arrow' or 'expr', got {impl!r}"
        )
    if impl == "expr":
        with_res = ivf_residuals(
            vectors, centroids, id_col, vec_col,
            centroid_id_col, centroid_vec_col,
        )
        return pq_encode(with_res, codebooks, vec_col="__res").drop("__res")

    entries = _centroid_entries(centroids, centroid_id_col, centroid_vec_col)
    if not entries:
        raise ValueError("ivfpq_encode: the centroid set is empty")
    m = len(codebooks)
    ds = len(codebooks[0][0][1])
    d = len(entries[0][1])
    base = vectors.drop("cell") if "cell" in vectors.columns else vectors
    fields = list(base.schema.fields) + [
        T.StructField("cell", T.LongType())
    ] + [
        T.StructField(f"code_{j}", T.IntegerType()) for j in range(m)
    ] + [T.StructField("recon_sqerr", T.DoubleType())]

    def encode(batches):
        import numpy as np

        cids = np.array([cid for cid, _cv, _cn in entries], dtype=np.int64)
        cmat = np.array([cv for _cid, cv, _cn in entries], dtype=np.float64)
        cnorm = np.array([cn for _cid, _cv, cn in entries], dtype=np.float64)
        books_np = _pq_numpy_books(codebooks)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            valid, X, _d = _split_valid_rows(pdf[vec_col], d)
            if not valid.all():
                raise ValueError(
                    f"ivfpq_encode: {int((~valid).sum())} NULL or ragged "
                    f"{vec_col!r} vector(s) (centroids have {d} dims) — "
                    "a residual needs a full-length vector"
                )
            best = _nearest_centroid(X, cmat, cnorm)
            pdf["cell"] = cids[best]
            yield _pq_numpy_apply(pdf, X - cmat[best], books_np, ds)

    return base.mapInPandas(encode, T.StructType(fields))


def ivfpq_search(
    encoded: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[tuple[int, list[float], float]]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    driver_tables_max_queries: int | None = None,
) -> DataFrame:
    """IVF-PQ ADC search: each query probes its ``nprobe`` nearest cells
    (by squared L2 to the centroid) and scores ONLY candidates stored in
    those cells, via per-(query, cell) residual distance tables — the
    table for cell c is built from the query's residual ``q − centroid_c``
    with the same expanded-identity arithmetic as :func:`pq_adc_topk`.

    Physical shape: the tables form a small DataFrame (#queries ×
    nprobe rows) broadcast-joined to ``encoded`` on ``cell`` — the join
    IS the cell pruning (candidates outside probed cells never produce
    a row), then 4 lookups + 3 adds and the two-stage top-k. Up to
    ``driver_tables_max_queries`` (default
    :data:`PQ_ADC_DRIVER_TABLES_MAX_QUERIES`) the tables are built
    driver-side; above it, executor-side via mapInPandas over the query
    frame — both builders call :func:`_ivfpq_query_rows`, so the paths
    are bit-identical (VERDICT_r7 item 3; parity-pinned in tests). Scan
    cost drops ~nprobe/C like :func:`ivf_topk`, and the scan side still
    never touches a float vector. Total distance is the cell term
    folded into the tables (||q−c||² decomposes into residual space),
    ties break to the smaller neighbor id."""
    entries = _centroid_entries(centroids, centroid_id_col, centroid_vec_col)
    m = len(codebooks)
    ds = len(codebooks[0][0][1])
    dmax = (
        PQ_ADC_DRIVER_TABLES_MAX_QUERIES
        if driver_tables_max_queries is None
        else driver_tables_max_queries
    )
    # Routing + rows from ONE limit(dmax+1) job, mirroring pq_adc_topk
    # (ADVICE r8): no separate count, no double evaluation, no
    # count/collect disagreement on nondeterministic query frames.
    qrows = (
        queries.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col).asc())
        .limit(dmax + 1)
        .collect()
    )
    n_q = len(qrows)
    if n_q == 0:
        raise ValueError("ivfpq_search: empty query set")
    spark = encoded.sparkSession
    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("cell", T.LongType(), False),
        ]
        + [
            T.StructField(f"__t{j}", T.ArrayType(T.DoubleType()), False)
            for j in range(m)
        ]
    )
    if n_q <= dmax:
        table_rows = []
        for r in qrows:
            qv = [float(x) for x in r[vec_col]]
            table_rows.extend(
                _ivfpq_query_rows(
                    r[id_col], qv, entries, codebooks, ds, nprobe
                )
            )
        tables_df = spark.createDataFrame(table_rows, schema)
    else:

        def build(batches):
            import pandas as pd

            cols = ["query_id", "cell"] + [f"__t{j}" for j in range(m)]
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                rows = []
                for qid, vec in zip(pdf[id_col], pdf[vec_col]):
                    qv = [float(x) for x in vec]
                    rows.extend(
                        _ivfpq_query_rows(
                            qid, qv, entries, codebooks, ds, nprobe
                        )
                    )
                yield pd.DataFrame(rows, columns=cols)

        # same single-file-input hazard as _distributed_adc_tables:
        # spread the probe + fold work across cores
        par = queries.sparkSession.sparkContext.defaultParallelism
        tables_df = (
            queries.select(F.col(id_col), F.col(vec_col))
            .repartition(max(par, 1))
            .mapInPandas(build, schema)
        )

    joined = encoded.join(F.broadcast(tables_df), "cell")
    dist = F.element_at(F.col("__t0"), F.col("code_0") + 1)
    for j in range(1, m):
        dist = dist + F.element_at(F.col(f"__t{j}"), F.col(f"code_{j}") + 1)
    scored = joined.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        (-dist).alias("cosine"),  # _topk_per_query ranks cosine DESC
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    out = _topk_per_query(scored, k)
    return out.select(
        "query_id", "neighbor_id", (-F.col("cosine")).alias("adc_dist"), "rank"
    )


# ------------------------------------------------- persisted IVF index


def ivf_index_write(
    vectors: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index as a CELL-PARTITIONED Parquet table:
    one Hive partition directory per cell, rows = (id, vector).

    This is the "build once, probe many" half of ANN serving: the
    assignment scan (map-side literal-centroid argmax, see
    :func:`ivf_assign`) runs once at build time, and every subsequent
    probe reads ONLY its probed cells' directories via partition
    pruning — at 100 TB with 4k cells and nprobe=8, each query batch
    touches 0.2 % of the index bytes, decided at plan time with zero
    data I/O (plan-pinned in tests/test_plans.py). The in-query
    :func:`ivf_topk` re-assigns the corpus per call; this amortizes it.
    """
    entries = _centroid_entries(centroids)
    cells = _assign_cells(vectors, entries, vec_col)
    (
        cells.select(F.col(id_col), F.col(vec_col), F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )


def ivf_index_probe(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine search against a persisted :func:`ivf_index_write`
    index, reading only the probed cells' partition directories.

    Probe-cell selection is the SAME map-side centroid scoring as
    :func:`ivf_topk` (sim desc, smaller cid on ties), so for equal
    ``nprobe`` the two return identical rows (unit-pinned). The union
    of probe cells over the bounded query set is collected once
    (≤ queries × nprobe ints) and pushed into the scan as a partition
    filter — the only part of the index that is read. Output:
    (query_id, neighbor_id, cosine, rank).
    """
    entries = _centroid_entries(centroids)
    probe_cells = F.slice(
        F.sort_array(
            _scored_centroids(entries, vec_col, norm_d(F.col(vec_col))), asc=False
        ),
        1,
        nprobe,
    )
    probes = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            F.explode(F.transform(probe_cells, lambda t: -t["neg_cid"])).alias(
                "cell"
            ),
        )
        .withColumn("__qn", norm_d(F.col("__qv")))
        .persist()
    )
    # Bounded collect (queries × nprobe cell ids): the partition-pruning
    # IN-list the scan needs must exist driver-side at plan time.
    cells_needed = sorted(
        r["cell"] for r in probes.select("cell").distinct().collect()
    )
    index = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(cells_needed))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
            F.col("cell").cast("long").alias("cell"),
        )
        .withColumn("__cn", norm_d(F.col("__cv")))
    )
    scored = (
        index.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_d(F.col("__qv"), F.col("__cv"))
                / (F.col("__qn") * F.col("__cn"))
            ).alias("cosine"),
        )
    )
    return _topk_per_query(scored, k)


def dot_i(a: Column, b: Column) -> Column:
    """Sequential-fold EXACT int64 dot product of two integer-code
    arrays (int8-quantized embeddings: |x|≤127, so dim 64 dots stay
    ~1e6 — integer arithmetic, no float accumulation order to worry
    about)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def mmr_rerank(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 16,
    lam_num: int = 7,
    lam_den: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein 1998) over int8-quantized embeddings: per query, greedily
    select k documents maximizing ``λ·rel(q,d) − (1−λ)·max_{s∈S}
    sim(d,s)`` — the standard RAG/search re-rank that trades relevance
    against redundancy (pure top-k returns k near-duplicates when the
    corpus has them).

    ENTIRELY INTEGER arithmetic: relevance and pairwise similarity are
    exact int64 dot products of quantized codes, λ = lam_num/lam_den is
    rational, and the per-step objective ships scaled by lam_den as
    ``mmr_num = lam_num·rel − (lam_den−lam_num)·maxsim`` — so the greedy
    trajectory (argmax per round, ties to the smaller doc id) is exactly
    reproducible in any engine, which is what lets a SQL oracle replay
    the selection round-for-round. A float MMR could never hash-gate:
    its trajectory forks on ulp differences at every argmax.

    Two stages, the two-stage-top-k discipline: (1) a distributed
    relevance pass shortlists ``shortlist`` candidates per query
    (row_number window here — bounded query sets; route giant corpora
    through ``cosine_topk``/IVF first, this is the RE-rank); (2) the
    greedy selection runs per-query-group via ``applyInPandas`` — each
    group holds ≤ ``shortlist`` rows, selection is O(shortlist·k) int
    ops, and queries parallelize across the cluster. The iterative
    argmax is inherently sequential in k (tiny); nothing iterates over
    the corpus.

    Inputs: ``docs``/``queries`` both carry ``(id_col, codes_col)``
    (see :func:`quantize_embeddings`). A doc whose id equals the query
    id is excluded (self-match). Returns ``(query_id, rank, doc_id,
    rel, mmr_num)``, rank 1-based in selection order.
    """
    if not (0 < lam_num < lam_den):
        raise ValueError("need 0 < lam_num < lam_den")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(codes_col).alias("__qc")
    )
    d = docs.select(
        F.col(id_col).alias("doc_id"), F.col(codes_col).alias("__dc")
    )
    rel = (
        d.join(F.broadcast(q), F.col("doc_id") != F.col("query_id"))
        .withColumn("rel", dot_i(F.col("__qc"), F.col("__dc")))
        .select("query_id", "doc_id", "rel", "__dc")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("doc_id").asc()
    )
    short = rel.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= shortlist
    )

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("rank", T.IntegerType(), False),
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("rel", T.LongType(), False),
            T.StructField("mmr_num", T.LongType(), False),
        ]
    )
    mu = lam_den - lam_num

    def _greedy(pdf):
        import numpy as np
        import pandas as pd

        qid = int(pdf["query_id"].iloc[0])
        cand = [
            (int(doc), int(r), np.asarray(codes, dtype=np.int64))
            for doc, r, codes in zip(pdf["doc_id"], pdf["rel"], pdf["dc"])
        ]
        cand.sort(key=lambda c: (-c[1], c[0]))
        selected: list[tuple[int, int, int]] = []  # (doc, rel, mmr_num)
        sel_codes: list = []
        chosen: set[int] = set()
        for _round in range(min(k, len(cand))):
            best = None
            for doc, r, codes in cand:
                if doc in chosen:
                    continue
                maxsim = (
                    max(int(codes @ s) for s in sel_codes) if sel_codes else 0
                )
                score = lam_num * r - mu * maxsim
                key = (-score, doc)
                if best is None or key < best[0]:
                    best = (key, doc, r, score, codes)
            _key, doc, r, score, codes = best
            selected.append((doc, r, score))
            sel_codes.append(codes)
            chosen.add(doc)
        return pd.DataFrame(
            {
                "query_id": qid,
                "rank": range(1, len(selected) + 1),
                "doc_id": [s[0] for s in selected],
                "rel": [s[1] for s in selected],
                "mmr_num": [s[2] for s in selected],
            }
        )

    return (
        short.select("query_id", "doc_id", "rel", F.col("__dc").alias("dc"))
        .groupBy("query_id")
        .applyInPandas(_greedy, out_schema)
    )
