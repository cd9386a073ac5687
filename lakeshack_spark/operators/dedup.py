"""Deduplication operators for large document corpora.

Five strategies, cheapest-first — the standard LLM-training-data ladder:

1. exact (hash groupBy)           — O(n) shuffle on a 128-bit digest
2. normalized exact               — same, after canonicalization
3. MinHash + LSH banding          — near-dup candidate pairs at O(n·k)
4. SimHash                        — 64-bit fingerprint, hamming buckets
5. n-gram Jaccard                 — exact similarity on candidate pairs

Scale notes (100 TB): every strategy is shuffle-on-key with no driver-side
loops. MinHash/LSH shuffles on (band, bucket) — the band hash spreads
uniformly, so no skew; the candidate-pair join is an equi-join on bucket
keys, never a cross join. The exact Jaccard verify runs only on LSH
survivors (tiny fraction of n²).

All hashing is md5-derived so results are engine-portable and seed-free.

Surviving twins and dispatches, each with its reason (a route that lost
its A/B is deleted, not kept behind a flag; re-run any A/B with
``tools/ab.py <entry>``):

- :func:`_perdoc_bands` ``impl="expr"`` (:func:`_use_arrow_banding`):
  the one banding builder's Arrow arm emits long ids, so non-long id
  columns take the expression arm; it is also the bit-exact parity
  reference for the Arrow arm.
- :func:`minhash_verified_pairs` ``fused``: a size dispatch on the
  Catalyst estimate (:data:`VERIFIED_FUSED_MIN_INPUT_BYTES`) — the
  fused route's construction-time job only pays off on large inputs.
- :func:`simhash` ``impl``: Arrow for full-width fingerprints, the
  expression form for truncated ``bits`` and as the cross-engine
  reference.
"""

from __future__ import annotations

import pandas as pd  # module level: pandas_udf type-hint resolution needs
# pd in module globals under `from __future__ import annotations`
from pyspark.sql import Column, DataFrame, functions as F

from lakeshack_spark.operators.text import words_col


# --------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text: keeper id (min), duplicate count, digest."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def exact_dedup_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Row-level exact dedup: keep the smallest-``id_col`` row of every
    distinct text, with ALL columns intact (``exact_dedup`` returns group
    summaries; this returns the surviving corpus). One shuffle on the
    text digest with map-side partial ``min_by`` — the same
    partial-combine shape as ``asof_join(strategy="join")``, so the
    post-shuffle volume is
    one candidate row per distinct text per map partition, not the full
    corpus."""
    keeper = F.min_by(F.struct(*df.columns), F.col(id_col)).alias("__keep")
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("__md5"))
        .agg(keeper)
        .select("__keep.*")
    )


def normalize_text(text: Column) -> Column:
    """Canonicalize: lowercase + trim (the corpus is already
    space-normalized; extend with regexp_replace for real-world text)."""
    return F.trim(F.lower(text))


def normalized_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return (
        df.groupBy(F.md5(normalize_text(F.col(text_col))).alias("norm_md5"))
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
    )


# ------------------------------------------------------------- shingles

def shingles_col(text_col: str, k: int = 3) -> Column:
    """Distinct word k-gram shingles of ``text_col`` (empty if < k words).
    Gram construction is the slice/zip_with form (text.gram_array) — O(n·k)
    per row; the element_at-per-index form re-evaluates the token split
    per element under interpreted HOF eval (O(n²), see CLAUDE.md)."""
    from lakeshack_spark.operators.text import gram_array

    return F.array_distinct(gram_array(words_col(text_col), k))


def _h64(col: Column) -> Column:
    """Portable 63-bit hash: first 15 hex digits of md5 → bigint via conv.
    (xxhash64 would be faster but is Spark-specific; md5 keeps every
    strategy reproducible in any engine.)"""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# -------------------------------------------------------------- minhash

#: Mersenne prime 2^31-1 for the universal-hash permutation family: keeps
#: a·x + b below 2^62, so the whole MinHash pipeline runs in native int64
#: inside whole-stage codegen (no decimal, no per-permutation md5).
_MERSENNE31 = (1 << 31) - 1


def _permutation_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a_i·x + b_i) mod (2^31-1),
    derived from md5 so every engine/run agrees without an RNG."""
    import hashlib

    params = []
    for i in range(num_hashes):
        d = hashlib.md5(f"lakeshack-minhash-{i}".encode()).hexdigest()
        a = (int(d[:15], 16) % (_MERSENNE31 - 1)) + 1
        b = int(d[15:30], 16) % _MERSENNE31
        params.append((a, b))
    return params


def minhash_signature(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 32, k: int = 3, keep_shingles: bool = False,
) -> DataFrame:
    """Adds ``sig``: array of ``num_hashes`` min-hash values over word
    k-gram shingles.

    One md5-derived 31-bit base hash per shingle, then ``num_hashes``
    universal-hash permutations h_i(x) = (a_i·x + b_i) mod (2^31-1) — pure
    int64 ops per shingle instead of per-permutation md5s (the hash call
    count, not the min, dominates the naive formulation). 31-bit base
    hashes trade a negligible similarity-estimate bias for staying
    native-long end-to-end in whole-stage codegen.

    All permutations fold in ONE ``aggregate`` pass over the shingles: the
    accumulator is the running 64-element min array, updated per shingle
    with ``zip_with(acc, params, least)``. The permutation (a, b) pairs
    enter the plan as a single literal struct array, so the expression
    tree is constant-size in ``num_hashes`` (one transform+array_min copy
    per permutation made Catalyst analysis cost scale with the
    permutation count and dominate wall time at data sizes under ~1M
    docs).
    """
    out = df.withColumn("__sh", shingles_col(text_col, k))
    base = F.transform(F.col("__sh"), lambda s: _h64(s) % F.lit(_MERSENNE31))
    out = out.withColumn("__bh", base)

    # One parsed SQL string, not 2×num_hashes F.lit py4j round trips.
    params_lit = F.expr(
        "array("
        + ",".join(
            f"named_struct('a', {a}L, 'b', {b}L)"
            for a, b in _permutation_params(num_hashes)
        )
        + ")"
    )
    init = F.array_repeat(F.lit(_MERSENNE31).cast("long"), num_hashes)
    sig = F.aggregate(
        F.col("__bh"),
        init,
        lambda acc, h: F.zip_with(
            acc,
            params_lit,
            lambda m, p: F.least(m, (h * p["a"] + p["b"]) % F.lit(_MERSENNE31)),
        ),
    )
    out = (
        out.withColumn("sig", sig)
        .withColumn("n_shingles", F.size("__sh"))
        .drop("__bh")
    )
    return out if keep_shingles else out.drop("__sh")


def _band_value_exprs(num_hashes: int, bands: int) -> list[Column]:
    """One comma-joined string expression per band over the ``sig``
    column — the SINGLE source of band-slice construction on the
    expression arm of :func:`_perdoc_bands`; its Arrow arm renders the
    same comma-joined decimal string."""
    rows_per_band = num_hashes // bands
    return [
        F.concat_ws(
            ",",
            *[
                F.element_at(F.col("sig"), b * rows_per_band + r + 1)
                for r in range(rows_per_band)
            ],
        )
        for b in range(bands)
    ]


def _nonempty_sigs(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int, k: int,
    keep_shingles: bool = False,
) -> DataFrame:
    extra = ["__sh"] if keep_shingles else []
    sigs = (
        minhash_signature(
            df, text_col, id_col, num_hashes, k, keep_shingles=keep_shingles
        )
        .select(F.col(id_col), F.col("sig"), F.col("n_shingles"), *extra)
        .filter(F.col("n_shingles") > 0)
    )
    return sigs


#: minhash_verified_pairs fused-route cutover (r14, VERDICT_r13 item 3):
#: an input whose optimizer-ESTIMATED size reaches this takes the fused
#: per-doc route (one Arrow tokenize+hash pass, eagerly
#: localCheckpoint'ed, feeding banding AND verify) instead of the lazy
#: two-pass shape. The bound is the zero-job Catalyst sizeInBytes
#: estimate — deliberately crude but safe in the direction that
#: matters: an UNDER-threshold input keeps the historical lazy contract
#: (no job at construction, fully composable), and the only mis-route
#: cost is one cheap checkpoint of a small actual row set when a
#: filtered subset of a big table inflates the estimate (non-CBO Filter
#: keeps its child's sizeInBytes). 256 MB ≈ where a second full
#: tokenize pass of the corpus costs more than materializing the
#: per-doc frame once.
VERIFIED_FUSED_MIN_INPUT_BYTES = 256 * 1024 * 1024


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's zero-job size estimate for ``df`` (bytes). Falls back
    to 0 (= route lazy) if the JVM estimate is unavailable."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # pragma: no cover - py4j edge
        return 0


def _use_arrow_banding(df: DataFrame, id_col: str, impl: str = "arrow") -> bool:
    """True when :func:`_perdoc_bands` takes its Arrow arm — a
    mapInPandas pass computing the SAME md5-derived values as the
    expression arm (bit-identical: same UTF-8 md5 per shingle, same
    int64 permutation arithmetic, same decimal rendering into the
    band-slice md5), measured several× faster than the interpreted HOF
    aggregate (the signature fold never enters codegen — the same class
    of exception as text.repetition_stats, see CLAUDE.md). The Arrow
    arm's output schema is long ids, so a non-long ``id_col`` always
    takes the expression arm; ``impl="expr"`` forces it (the
    cross-engine-readable reference and the parity-test twin)."""
    from pyspark.sql import types as T

    return impl == "arrow" and isinstance(
        df.schema[id_col].dataType, T.LongType
    )


def _perdoc_bands(
    df: DataFrame, text_col: str, id_col: str,
    num_hashes: int, bands: int, k: int,
    hex_buckets: bool = False,
    with_shingles: bool = False,
    impl: str = "arrow",
) -> DataFrame:
    """The one banding frame every LSH consumer reads: one row per doc
    with at least one shingle, ``(id, __buckets[, __sh])``.

    ``__buckets[b]`` is band b's bucket — the md5 of the comma-joined
    decimal rendering of the band's signature slice
    (:func:`_band_value_exprs`), as the full md5 hex
    (``hex_buckets=True``; :func:`minhash_index`'s materialized,
    engine-portable index schema) or as the ``_h64`` long (default; an
    8-byte shuffle key — a truncation collision can only MERGE buckets,
    i.e. only ever ADD candidate pairs, and every consumer verifies its
    candidates exactly). ``with_shingles`` adds ``__sh``, the doc's
    distinct-gram SET, sorted (every consumer is order-insensitive).
    NULL texts and docs with fewer than k tokens drop, matching the
    ``n_shingles > 0`` filter. :func:`_band_rows` and
    :func:`_lsh_candidates` unpack the buckets with ``posexplode``.

    The Arrow arm (long ids, :func:`_use_arrow_banding`) tokenizes
    exactly like ``F.split(text, " ")`` (empty tokens included), hashes
    each distinct gram once to its 31-bit base hash and takes the
    (a·x+b) mod 2³¹−1 permutation min per signature slot in vectorized
    int64 (products stay < 2⁶², no overflow). It is bit-identical to
    the expression arm, pinned by tests/test_operators.py."""
    if not _use_arrow_banding(df, id_col, impl):
        sigs = _nonempty_sigs(
            df, text_col, id_col, num_hashes, k, keep_shingles=with_shingles
        )
        bucket_of = F.md5 if hex_buckets else _h64
        cols = [
            F.col(id_col),
            F.array(
                *[bucket_of(v) for v in _band_value_exprs(num_hashes, bands)]
            ).alias("__buckets"),
        ]
        if with_shingles:
            cols.append(F.array_sort("__sh").alias("__sh"))
        return sigs.select(*cols)

    from pyspark.sql import types as T

    params = _permutation_params(num_hashes)
    rpb = num_hashes // bands
    M = _MERSENNE31
    bucket_type = T.StringType() if hex_buckets else T.LongType()
    fields = [
        T.StructField(id_col, T.LongType()),
        T.StructField("__buckets", T.ArrayType(bucket_type), False),
    ]
    if with_shingles:
        fields.append(
            T.StructField("__sh", T.ArrayType(T.StringType()), False)
        )
    schema = T.StructType(fields)

    def build(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        A = np.array([a for a, _ in params], dtype=np.int64)
        Bv = np.array([b for _, b in params], dtype=np.int64)
        # Two memos, pure speedups (every value computed exactly as
        # without them). ``gmemo`` maps a gram to its base hash: with
        # k=1 the grams are distinct WORDS and documents share most of
        # their vocabulary, so the per-gram md5 (the builder's hot cost,
        # ~1 µs/call) collapses to one call per distinct gram.
        # Task-lived, capped (clear-on-overflow, Zipf keeps the head hot)
        # so a huge all-distinct vocabulary can't grow executor memory
        # unboundedly. ``tmemo`` maps a full text to its per-doc outputs:
        # duplicate clusters repeat identical texts thousands of times,
        # and every output is text-determined, id-independent.
        # BATCH-lived: its keys are references into strings the current
        # Arrow batch holds anyway, so it adds zero retained memory.
        gmemo: dict = {}

        def gram_hash(g):
            got = gmemo.get(g)
            if got is None:
                if len(gmemo) >= 262144:
                    gmemo.clear()
                dig = hashlib.md5(g.encode("utf-8")).hexdigest()
                got = int(dig[:15], 16) % M
                gmemo[g] = got
            return got

        def bucket(vals):
            dig = hashlib.md5(
                ",".join(str(int(v)) for v in vals).encode("utf-8")
            ).hexdigest()
            return dig if hex_buckets else int(dig[:15], 16)

        for pdf in batches:
            tmemo: dict = {}
            ids: list = []
            bkts: list = []
            shs: list = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if not isinstance(text, str):
                    continue  # NULL text: expression path drops it too
                hit = tmemo.get(text)
                if hit is None:
                    toks = text.split(" ")
                    if len(toks) < k:
                        continue  # zero shingles
                    if k == 1:
                        grams = set(toks)
                    else:
                        grams = {
                            " ".join(toks[i : i + k])
                            for i in range(len(toks) - k + 1)
                        }
                    xs = np.fromiter(
                        (gram_hash(g) for g in grams),
                        dtype=np.int64,
                        count=len(grams),
                    )
                    sig = ((xs[:, None] * A[None, :] + Bv[None, :]) % M).min(
                        axis=0
                    )
                    hit = (
                        [
                            bucket(sig[b * rpb : (b + 1) * rpb])
                            for b in range(bands)
                        ],
                        sorted(grams) if with_shingles else None,
                    )
                    tmemo[text] = hit
                ids.append(int(did))
                bkts.append(hit[0])
                shs.append(hit[1])
            data = {
                id_col: pd.Series(ids, dtype="int64"),
                "__buckets": pd.Series(bkts, dtype="object"),
            }
            if with_shingles:
                data["__sh"] = pd.Series(shs, dtype="object")
            yield pd.DataFrame(data, columns=[f.name for f in fields])

    from lakeshack_spark.session import spread_small_input

    return spread_small_input(
        df.select(F.col(id_col), F.col(text_col))
    ).mapInPandas(build, schema)


def _band_rows(perdoc: DataFrame) -> DataFrame:
    """``(id, band, bucket)`` rows of a :func:`_perdoc_bands` frame —
    ``bands`` rows per doc, unpacked in-row (no shuffle)."""
    id_col = perdoc.columns[0]
    return perdoc.select(
        F.col(id_col), F.posexplode("__buckets").alias("band", "bucket")
    )


def _lsh_candidates(perdoc: DataFrame) -> DataFrame:
    """Distinct candidate pairs ``(id_a, id_b)``, ``id_a < id_b``, of a
    long-bucket :func:`_perdoc_bands` frame: the (band, bucket)
    self-join with the band-0 pre-dedup (see :func:`minhash_lsh_pairs`).
    Every LSH pair consumer builds its candidates here."""
    id_col = perdoc.columns[0]
    banded = perdoc.select(
        F.col(id_col),
        F.posexplode("__buckets").alias("band", "bucket"),
        F.element_at(F.col("__buckets"), 1).alias("__bkt0"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter((F.col("a.band") == 0) | (F.col("a.__bkt0") != F.col("b.__bkt0")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 32, bands: int = 8, k: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding: split the signature
    into ``bands`` rows of ``num_hashes/bands``, bucket on a hash of the
    band's values, self-join per bucket with ``id < id``. Returns
    distinct (id_a, id_b).

    The self-join is an equi-join on (band, bucket-hash): each shuffle key
    holds only colliding docs, so cost tracks true-duplicate density, not
    n². A hot bucket (giant duplicate cluster) is handled by AQE skew
    splitting.

    BAND-0 PRE-DEDUP before the distinct: a pair of near-identical docs
    collides in EVERY band, so the join emits it ``bands`` times and a
    dup-dense corpus pushes pairs × bands rows through the dedup shuffle
    (measured 152M rows into distinct for 9.5M output pairs on the sf0.1
    documents at k=1). Each banded row carries ONE extra long — its
    band-0 bucket — and a band-b>0 emission is dropped map-side when the
    pair already collided at band 0 (`__bkt0` equal). Near-identical
    pairs (the mass in a dup-dense corpus) collide at band 0, so they
    reach the distinct exactly once; only partial-signature matches that
    miss band 0 still emit multiply and are deduped by the (now small)
    distinct. One scalar long comparison per joined row, codegen'd.
    Measured on that corpus: distinct input 152M → ~9.5M rows, wall
    17s vs 20s single-node (join-output generation dominates locally;
    on a cluster the dedup EXCHANGE is the network-bound stage, and it
    shrinks ~bands×).

    (Two exact-once alternatives measured 6-8× SLOWER than the distinct
    itself on the same corpus and were rejected: carrying the full
    per-band bucket array with an `exists` lambda runs interpreted per
    joined row, and even an unrolled when-chain pays for materializing
    two 16-long arrays into each of the 152M joined rows — the payload
    width, not the predicate, dominates. See CLAUDE.md.)
    """
    return _lsh_candidates(
        _perdoc_bands(df, text_col, id_col, num_hashes, bands, k)
    )


def minhash_verified_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 64, bands: int = 16, k: int = 1,
    threshold: float = 0.9,
    fused: bool | None = None,
) -> DataFrame:
    """The full two-stage near-dedup discovery pipeline: MinHash+LSH
    banding proposes candidate pairs (sub-quadratic), exact shingle-set
    Jaccard verifies them (runs only on candidates). Returns
    (id_a, id_b, jaccard) with jaccard ≥ threshold.

    This is the shape that scales to 100 TB: discovery cost tracks
    true-duplicate density via the (band, bucket) equi-join, and the O(|c|)
    verify join touches only LSH survivors. With enough bands the output
    equals the all-pairs exact answer (16 bands × 4 rows: a J=0.9 pair is
    missed with p ≈ (1−0.9⁴)¹⁶ ≈ 2e-8), which is what makes the whole
    banding path checkable against a SQL oracle.

    ``fused`` (r14, VERDICT_r13 item 3 — the priced dispatch that
    answers the r13 laziness question): the lazy shape runs the
    md5+permutation Arrow BANDING pass twice per run (once under each
    side of the band self-join — the exchange is not reused at the BHJ
    shape, and forcing SMJ to reuse it measured 5× slower on dup-dense
    corpora, r13). The two routes share :func:`_lsh_candidates` over
    the one :func:`_perdoc_bands` frame and differ only in the
    checkpoint: the fused route runs the banding pass ONCE, into the
    compact per-doc bucket frame ``(id, __buckets)``, eagerly
    ``localCheckpoint``\\ ed, so both self-join sides read the
    materialized frame. ``localCheckpoint`` (not ``persist``) is
    what preserves the composition contract: there is no cache handle
    for the caller to leak — the checkpointed blocks are released by
    the ContextCleaner when the returned frame's RDD is garbage
    collected. The verify stage deliberately keeps the lazy expression
    shingles (see the inline comment). The trade is one materialization
    job at CONSTRUCTION time, so small inputs should keep the lazy
    shape: ``fused=None`` (default) routes by the zero-job Catalyst
    size estimate (≥ :data:`VERIFIED_FUSED_MIN_INPUT_BYTES` and a long
    id column → fused), ``True``/``False`` force a route. Both routes
    are BIT-IDENTICAL: same candidate join over the same frame, same
    integer-|∩|/|∪| double quotient (parity-pinned in
    tests/test_operators.py).
    """
    if fused is None:
        fused = (
            _use_arrow_banding(df, id_col)
            and _plan_size_bytes(df) >= VERIFIED_FUSED_MIN_INPUT_BYTES
        )
    if fused:
        if not _use_arrow_banding(df, id_col):
            raise ValueError(
                f"fused=True requires a long-typed id column (the per-doc "
                f"Arrow layout), but {id_col!r} is "
                f"{df.schema[id_col].dataType.simpleString()}; use "
                "fused=False or 'auto' (None)"
            )
        # Checkpoint ONLY the compact per-doc bucket proxy (id + bands
        # longs): the md5+permutation banding pass is the expensive
        # tokenize, and it is the only thing worth materializing. A
        # first cut checkpointed the full per-doc layout (__sh shingle
        # sets included) and LOST the 1M-doc A/B 38 vs 25 s — a
        # checkpointed row deserializes WHOLE for every consumer, so
        # the fat shingle arrays re-paid their bytes four times while
        # the verify-side expression tokenize they replaced is a cheap
        # codegen split. The verify below therefore keeps the lazy
        # shape's expression shingles (guide §8: materialize the small
        # proxy, recompute the cheap part).
        cands = _lsh_candidates(
            _perdoc_bands(
                df, text_col, id_col, num_hashes, bands, k
            ).localCheckpoint(eager=True)
        )
    else:
        cands = minhash_lsh_pairs(df, text_col, id_col, num_hashes, bands, k)
    # Shingle arrays are SETS (array_distinct), so |union| = |a|+|b|-|∩|
    # exactly: per-side sizes computed once per document replace the
    # per-pair array_union build — the verify stage does one set
    # intersection per candidate instead of two set operations.
    # Identical jaccard values (integer identity, same double division).
    sh = df.select(F.col(id_col), shingles_col(text_col, k).alias("__sh"))
    a = sh.select(
        F.col(id_col).alias("id_a"),
        F.col("__sh").alias("__sh_a"),
        F.size("__sh").alias("__sz_a"),
    )
    b = sh.select(
        F.col(id_col).alias("id_b"),
        F.col("__sh").alias("__sh_b"),
        F.size("__sh").alias("__sz_b"),
    )
    joined = cands.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.col("__sz_a") + F.col("__sz_b") - inter
    # Size branch-skip: J = |∩|/|∪| ≤ min(|a|,|b|)/max(|a|,|b|), so a pair
    # whose set sizes differ beyond the threshold ratio can never verify.
    # Putting that test FIRST in the CASE lets per-row evaluation skip
    # array_intersect entirely for such pairs (CASE WHEN branches are
    # lazy) at zero extra joins or passes; the 1e-9 slack only ever sends
    # extra pairs to the exact branch, so output values are identical.
    # (A separate int-only prefilter JOIN before the array join re-paid
    # its savings in an extra shingle pass here where nothing is cached —
    # drop_set, which caches, uses the join form.)
    size_cannot_verify = (
        F.least("__sz_a", "__sz_b").cast("double")
        < (F.lit(threshold) - F.lit(1e-9)) * F.greatest("__sz_a", "__sz_b")
    )
    # inter >= 0 guard: size(NULL array) is -1, and the size identity
    # would turn that into a NEGATIVE jaccard where the old array_union
    # form yielded 0.0 (unreachable here — banding filters empty/NULL
    # shingle docs — but the guard keeps the identity unconditional).
    jac = F.when(size_cannot_verify, F.lit(0.0)).when(
        (inter >= 0) & (union > 0), inter.cast("double") / union
    ).otherwise(F.lit(0.0))
    return (
        joined.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# -------------------------------------------------------------- simhash

def _simhash_fp_arrow_udf():
    """Arrow-batched twin of the simhash fingerprint expression below —
    bit-identical by construction (same single-space split, same distinct
    token set, same md5-hex[:15]→int63 hash, same ±1 per-bit fold, same
    positive-counter mask sum; NULL text → 0 like the coalesce branch).

    The expression form is a nested HOF (aggregate(zip_with(...)) over
    the token-hash array) which never enters whole-stage codegen, the
    regime where Arrow UDFs beat built-ins 7× for
    text.repetition_stats. Early rounds measured the two EQUAL on this
    stage (per-token md5 dominating both); the r14 re-measurement
    (VERDICT_r13 item 6, plans/r14/simhash_wide_ab.jsonl; re-run with
    ``tools/ab.py simhash60`` / ``simhash400``) has the Arrow pass
    winning every interleaved round at every doc length tried —
    0.54-0.71 vs 1.0-1.4 s on the real 5k-doc sf0.1 corpus, growing to
    ~2× at 400 words — so it is the default since r14 (see :func:`simhash`).
    Parity is pinned in tests; the expression twin remains the
    cross-engine reference."""
    import hashlib

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(63, dtype=np.uint64)

    @pandas_udf("long")
    def fp(texts: pd.Series) -> pd.Series:
        import numpy as np  # re-import: runs on executors

        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            if t is None:
                continue
            toks = set(t.split(" "))
            hs = np.fromiter(
                (
                    int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
                    for tok in toks
                ),
                dtype=np.uint64,
                count=len(toks),
            )
            if not len(hs):
                continue
            pos = ((hs[:, None] >> shifts) & np.uint64(1)).sum(
                axis=0, dtype=np.int64
            )
            counters = 2 * pos - np.int64(len(hs))
            sel = shifts[counters > 0]
            out[i] = (np.uint64(1) << sel).sum(dtype=np.uint64).astype(np.int64)
        return pd.Series(out)

    return fp


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    impl: str | None = None,
) -> DataFrame:
    """Adds ``simhash``: 64-bit fingerprint — bit j is 1 iff the sum over
    distinct tokens of ±1 (sign of md5-derived bit j of the token) is
    positive. Near-identical token sets → small hamming distance.

    ``impl=None`` (default) routes full-width fingerprints through the
    Arrow twin (r14, VERDICT_r13 item 6): re-measured interleaved on
    this epoch (synthetic docs + the real sf0.1 corpus,
    plans/r14/simhash_wide_ab.jsonl; ``tools/ab.py simhash60`` /
    ``simhash400``), the Arrow pass wins at EVERY tested shape — real
    5k-doc/54-word corpus 0.54-0.71 vs 1.0-1.4 s (4/4 rounds), 30k
    synthetic docs 0.8-1.0 vs 1.2-1.5 s at 60 words up to 2.7-4.8 vs
    6.4-8.8 s at 400 words — the r13 expr-wins reading did not
    reproduce. ``impl="expr"`` keeps the pure-expression form
    (the cross-engine-readable reference and the only form for
    truncated ``bits``); values are bit-identical, pinned by test."""
    if impl is None:
        impl = "arrow" if min(bits, 63) == 63 else "expr"
    if impl == "arrow" and min(bits, 63) == 63:
        return df.withColumn(
            "simhash",
            _simhash_fp_arrow_udf()(
                F.col(text_col) if isinstance(text_col, str) else text_col
            ),
        )
    tokens = F.array_distinct(words_col(text_col))
    # NULL text → empty hash array → all-zero counters → fingerprint 0,
    # matching the pre-single-pass per-bit form (which coalesced each bit
    # to 0); without this the aggregate propagates NULL and such docs
    # silently vanish from simhash_near_pairs' equi-join.
    th = F.coalesce(
        F.transform(tokens, _h64), F.expr("array()").cast("array<bigint>")
    )  # one 63-bit hash per token
    nbits = min(bits, 63)
    # ONE literal mask array [1<<0 .. 1<<nbits-1] as a single SQL string
    # (per-scalar F.lit is one py4j round trip each — CLAUDE.md).
    masks = F.expr(
        "array(" + ",".join(f"{1 << j}L" for j in range(nbits)) + ")"
    )
    # Single interpreted pass over the token hashes (HOFs get no codegen
    # and re-evaluate the lambda body per element): the accumulator is
    # the whole 63-counter array, updated by one zip_with per token —
    # counter j gains +1 when bit j of the hash is set, else -1. The old
    # form ran 63 separate aggregate traversals of the same array.
    counters = F.aggregate(
        th,
        F.array_repeat(F.lit(0), nbits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a
            + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    # bit j of the fingerprint is set iff counter j is positive: sum the
    # masks of positive counters (disjoint bits, so + == bitwise OR).
    fp = F.aggregate(
        F.zip_with(
            counters,
            masks,
            lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return df.withColumn("simhash", fp)


def simhash_near_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_hamming: int = 3, blocks: int = 4,
) -> DataFrame:
    """Near-pairs by simhash: block the 64-bit fingerprint into ``blocks``
    16-bit segments; by pigeonhole any pair within ``max_hamming < blocks``
    shares at least one exact segment → equi-join per segment, then exact
    hamming filter via bit_count(xor)."""
    # The fingerprint is the expensive stage and the corpus often arrives
    # as ONE single-row-group file (measured: the whole self-join ran
    # single-task at bench scale — fingerprint, join and distinct all
    # serialized on one core). See session.spread_small_input.
    from lakeshack_spark.session import spread_small_input

    df = spread_small_input(df)
    fps = simhash(df, text_col, id_col).select(id_col, "simhash")
    seg = fps.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("seg_no"),
                        F.shiftrightunsigned(F.col("simhash"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("seg"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("s"),
    ).select(id_col, "simhash", "s.seg_no", "s.seg")
    a, b = seg.alias("a"), seg.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.seg_no") == F.col("b.seg_no"))
            & (F.col("a.seg") == F.col("b.seg"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


# ------------------------------------------------------- n-gram jaccard

def ngram_jaccard_pairs(
    left: DataFrame,
    right: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.0,
    block_col: str | None = None,
) -> DataFrame:
    """Exact Jaccard similarity of word k-gram shingle sets over document
    pairs (``id_a < id_b``). ``block_col`` restricts pairs to equal blocks
    (e.g. same source) — at scale always block or feed LSH candidates, the
    unblocked version is a cross join."""
    from lakeshack_spark.session import spread_small_input

    left = spread_small_input(left)  # shingle trees + the pair join
    # serialize on one core for a single-row-group table
    right = spread_small_input(right) if right is not None else left
    # Per-side shingle-set sizes (see minhash_verified_pairs): one set
    # intersection per pair, no per-pair array_union; identical values.
    cols = [
        F.col(id_col),
        shingles_col(text_col, k).alias("sh"),
    ]
    if block_col:
        cols.append(F.col(block_col))
    a = left.select(*cols).withColumn("__sz", F.size("sh")).alias("a")
    b = right.select(*cols).withColumn("__sz", F.size("sh")).alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.col("a.__sz") + F.col("b.__sz") - inter
    # size(NULL array) = -1: without the inter >= 0 guard a NULL-text doc
    # would produce a negative jaccard here (the old array_union form
    # yielded 0.0; NULL docs DO reach this join — no banding filter).
    jac = F.when(
        (inter >= 0) & (union > 0), inter.cast("double") / union
    ).otherwise(F.lit(0.0))
    out = (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            jac.alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold) if threshold > 0 else out


def ngram_containment_pairs(
    left: DataFrame,
    right: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.0,
    block_col: str | None = None,
) -> DataFrame:
    """Broder CONTAINMENT ``C(A,B) = |A∩B| / |A|`` of k-gram shingle
    sets, both directions per pair — the asymmetric quote/subset
    detector symmetric Jaccard misses: a short document fully quoted
    inside a long one has near-zero Jaccard (tiny union overlap) but
    containment 1.0 in the quote→host direction. The signal behind
    "is this doc embedded in that one" checks — boilerplate extraction,
    quote tracing, partial-duplicate auditing.

    Output: ``(id_a, id_b, containment_a_in_b, containment_b_in_a)``
    for pairs with ``max(both) ≥ threshold``. Same join/guard discipline
    as :func:`ngram_jaccard_pairs`: one set intersection per pair,
    per-side sizes precomputed, ``inter >= 0`` guarding the
    size(NULL) = -1 trap, and ``block_col`` required at scale (the
    unblocked form is a cross join — feed LSH candidates or a block)."""
    right = right if right is not None else left
    cols = [F.col(id_col), shingles_col(text_col, k).alias("sh")]
    if block_col:
        cols.append(F.col(block_col))
    a = left.select(*cols).withColumn("__sz", F.size("sh")).alias("a")
    b = right.select(*cols).withColumn("__sz", F.size("sh")).alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))

    def contain(sz: Column) -> Column:
        return F.when(
            (inter >= 0) & (sz > 0), inter.cast("double") / sz
        ).otherwise(F.lit(0.0))

    out = a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        contain(F.col("a.__sz")).alias("containment_a_in_b"),
        contain(F.col("b.__sz")).alias("containment_b_in_a"),
    )
    if threshold > 0:
        out = out.filter(
            F.greatest(
                F.col("containment_a_in_b"), F.col("containment_b_in_a")
            )
            >= threshold
        )
    return out


# -------------------------------------------------- incremental near-dedup


def minhash_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 64, bands: int = 16, k: int = 1,
) -> DataFrame:
    """The materializable LSH index of a corpus: ``(id, band, bucket)``
    rows (``bands`` per doc). Write it once next to the data (any sink);
    every future batch probes it without touching corpus text — the
    index, not the corpus, is what incremental dedup joins against.
    Parameters are part of the index identity: a probe MUST band with the
    same (num_hashes, bands, k) or buckets never collide."""
    return _band_rows(
        _perdoc_bands(
            df, text_col, id_col, num_hashes, bands, k, hex_buckets=True
        )
    )


def incremental_near_dups(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 1,
    threshold: float = 0.9,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Near-dedup a NEW batch against an EXISTING corpus without
    re-processing the corpus: ``(id_new, id_corpus, jaccard)`` for every
    cross pair with verified Jaccard ≥ ``threshold``.

    The O(batch) shape continuous ingest needs at 100 TB — the
    full-corpus operators (:func:`minhash_verified_pairs`,
    :func:`minhash_drop_set`) re-band everything on every run, which is
    a compaction-cadence cost, not a per-batch one. Here:

    - the corpus contributes only its (pre-materialized) LSH index
      (:func:`minhash_index`) — pass ``corpus_index`` to skip banding the
      corpus entirely; corpus TEXT is read only for docs that actually
      collide (semi-join first, shingle after, so the expensive shingle
      trees run on survivors only — the same point-lookup pattern the
      metastore serves);
    - the new batch is banded (O(batch × bands)) and equi-joined on
      (band, bucket) — probe cost tracks collision density, never
      |batch| × |corpus|;
    - exact shingle-set Jaccard verifies candidates with the per-side
      size identity (|∪| = |a|+|b|−|∩|), same as the batch verify.

    With the default 16 bands × 4 rows, a J ≥ 0.9 cross pair is missed
    with p ≈ (1−0.9⁴)¹⁶ ≈ 2e-8 — the banded result is provably equal to
    the all-cross-pairs answer (the :func:`minhash_verified_pairs`
    argument, transplanted), which is what makes this entry checkable
    against a SQL oracle."""
    if corpus_index is None:
        corpus_index = minhash_index(
            corpus_docs, text_col, id_col, num_hashes, bands, k
        )
    nb = _band_rows(
        _perdoc_bands(
            new_docs, text_col, id_col, num_hashes, bands, k, hex_buckets=True
        )
    ).select(F.col(id_col).alias("id_new"), "band", "bucket")
    idx = corpus_index.select(
        F.col(id_col).alias("id_corpus"), "band", "bucket"
    )
    # id_new != id_corpus: a doc is never a duplicate of itself — guards
    # overlap cases (e.g. a replayed ingest batch probing an index that
    # already contains its own previous write) from self-pairs.
    cands = (
        nb.join(idx, ["band", "bucket"])
        .filter(F.col("id_new") != F.col("id_corpus"))
        .select("id_new", "id_corpus")
        .distinct()
    )

    corpus_needed = corpus_docs.join(
        cands.select(F.col("id_corpus").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    )
    shc = corpus_needed.select(
        F.col(id_col).alias("id_corpus"),
        shingles_col(text_col, k).alias("__sh_c"),
    ).withColumn("__sz_c", F.size("__sh_c"))
    shn = new_docs.select(
        F.col(id_col).alias("id_new"),
        shingles_col(text_col, k).alias("__sh_n"),
    ).withColumn("__sz_n", F.size("__sh_n"))
    joined = cands.join(shn, "id_new").join(shc, "id_corpus")
    inter = F.size(F.array_intersect("__sh_n", "__sh_c"))
    union = F.col("__sz_n") + F.col("__sz_c") - inter
    # Size branch-skip (see minhash_verified_pairs): J ≤ min/max of the
    # set sizes, so size-refuted pairs return 0.0 without evaluating
    # array_intersect; output is threshold-filtered, so values are
    # identical. The 1e-9 slack only ever sends extra pairs to the exact
    # branch.
    size_cannot_verify = (
        F.least("__sz_n", "__sz_c").cast("double")
        < (F.lit(threshold) - F.lit(1e-9)) * F.greatest("__sz_n", "__sz_c")
    )
    jac = F.when(size_cannot_verify, F.lit(0.0)).when(
        (inter >= 0) & (union > 0), inter.cast("double") / union
    ).otherwise(F.lit(0.0))
    return (
        joined.select("id_new", "id_corpus", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# -------------------------------------------------- benchmark contamination


def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Flag training documents that share ≥ ``min_hits`` distinct word
    ``k``-grams with a benchmark/eval set (the standard decontamination
    test, e.g. GPT-3 appendix C / PaLM §7: 8-13-gram overlap).

    Returns ``(id_col, n_hits)`` for contaminated docs only. Physical
    plan: both sides explode to distinct (gram-hash) rows; benchmark
    grams are ``distinct()``-ed and the join is an equi-join on the hash
    — the benchmark side is tiny (eval sets), so AQE broadcasts it and
    the corpus side stays map-only: no corpus-sized shuffle at 100 TB.
    Hashes use the portable 63-bit md5 (:func:`_h64`), so a benchmark
    gram set exported from another engine matches bit-for-bit.
    """
    g = F.explode(shingles_col(text_col, k)).alias("gram")
    doc_grams = docs.select(F.col(id_col), g).select(
        id_col, _h64(F.col("gram")).alias("__gh")
    )
    bench_grams = (
        benchmark.select(g)
        .select(_h64(F.col("gram")).alias("__gh"))
        .distinct()
    )
    return (
        doc_grams.join(bench_grams, "__gh", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
    )


def _bucket_verify_group(ids, shs, threshold):
    """One bucket of the drop-set walk (module-level so it is directly
    unit-testable against a brute-force reference — see test_operators):
    ``ids`` in ascending order, ``shs`` their shingle sets. Returns the
    ids with at least one EARLIER member whose exact Jaccard is
    ``>= threshold`` — keep-earliest within the bucket. Pure Python,
    deterministic; exact for ``threshold > 0`` (the operator's sets are
    never empty, which makes it exact for any threshold there).

    - A set equal to an earlier member's is dropped at once (J = 1);
      every later doc then meets only the first member of each distinct
      set (its class representative) — J depends on the set alone, and
      the representative is the class's smallest id.
    - Each new class first tries the bucket's min id (the bucket-min
      candidate, which verifies for most near-duplicates), then probes a
      prefix-filter inverted index of the earlier representatives
      (Bayardo/Chaudhuri prefix principle): order the bucket's tokens by
      (class frequency, token); for J(a, b) >= t the order-minimal shared
      token lies in BOTH prefixes of length |s| − ⌈t·|s|⌉ + 1, so probing
      b's prefix cannot miss a qualifying earlier a.
    - Every probe is confirmed with the integer |∩|/|∪| double quotient,
      bit-identical to the expression verify of
      :func:`minhash_verified_pairs`."""
    import math

    dropped = []
    first_of: dict = {}
    reps: list = []  # (id, set) of each distinct set's first member
    for i, arr in zip(ids, shs):
        s = frozenset(arr)
        if s in first_of:
            if s and threshold <= 1.0:
                dropped.append(i)
        else:
            first_of[s] = i
            reps.append((i, s))
    freq: dict = {}
    for _, s in reps:
        for t in s:
            freq[t] = freq.get(t, 0) + 1
    rank = {t: r for r, t in enumerate(sorted(freq, key=lambda t: (freq[t], t)))}

    def prefix(s):
        # The verify accepts inter/union >= threshold in DOUBLE space, so
        # a pair whose true Jaccard is epsilon below the threshold can
        # still verify when the quotient rounds up (t=0.07, |∩|=7,
        # |∪|=100). ceil(t·n − 1e-9) only ever LENGTHENS the prefix, which
        # keeps it consistent with every pair the verify can accept.
        n = len(s)
        p = max(n - math.ceil(threshold * n - 1e-9) + 1, 0)
        return sorted(s, key=rank.__getitem__)[:p]

    def verifies(sa, sb):
        na, nb = len(sa), len(sb)
        # J <= min/max of the set sizes: size-refuted pairs skip the
        # intersection (the 1e-9 slack only sends extra pairs to it)
        if min(na, nb) < threshold * max(na, nb) - 1e-9:
            return False
        inter = len(sa & sb)
        union = na + nb - inter
        return union > 0 and inter / union >= threshold

    inv: dict = {}
    for pos, (b, sb) in enumerate(reps):
        pb = prefix(sb)
        hit = pos > 0 and verifies(reps[0][1], sb)
        tried = {0}
        for t in pb:
            if hit:
                break
            for a in inv.get(t, ()):
                if a not in tried:
                    tried.add(a)
                    if verifies(reps[a][1], sb):
                        hit = True
                        break
        if hit:
            dropped.append(b)
        for t in pb:
            inv.setdefault(t, []).append(pos)
    return dropped


def _drop_set_walk(banded: DataFrame, sh: DataFrame, id_col: str, threshold: float):
    """The drop set's one bucket-local walk (lazy; may repeat an id
    across buckets): the light ``(id, band, bucket)`` rows of buckets
    with at least two members get their shingle sets attached, are
    hash-partitioned on (band, bucket) and sorted by id within each
    bucket, and ONE mapInPandas pass runs :func:`_bucket_verify_group`
    per bucket. Singleton buckets — most of them — leave at the window,
    before any shingle array moves. A bucket may straddle two Arrow
    batches of one partition; partitions arrive whole and in order per
    task, so the walk carries the open bucket across the boundary."""
    from pyspark.sql import Window
    from pyspark.sql import types as T

    w = Window.partitionBy("band", "bucket")
    shared = (
        banded.select(id_col, "band", "bucket")
        .withColumn("__bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("__bsz") >= 2)
        .drop("__bsz")
    )
    par = max(banded.sparkSession.sparkContext.defaultParallelism, 1)
    members = (
        shared.join(sh, id_col)
        .repartition(par, "band", "bucket")
        .sortWithinPartitions("band", "bucket", id_col)
    )
    schema = T.StructType([T.StructField(id_col, sh.schema[id_col].dataType)])

    def walk(batches):
        import pandas as pd

        dropped: set = set()
        key, ids, shs, dtype = None, [], [], None
        for pdf in batches:
            dtype = pdf[id_col].dtype
            for band, bucket, i, arr in zip(
                pdf["band"], pdf["bucket"], pdf[id_col], pdf["__sh"]
            ):
                if (band, bucket) != key:
                    dropped.update(_bucket_verify_group(ids, shs, threshold))
                    key, ids, shs = (band, bucket), [], []
                ids.append(i)
                shs.append(arr)
        dropped.update(_bucket_verify_group(ids, shs, threshold))
        if dtype is not None:
            yield pd.DataFrame({id_col: pd.Series(list(dropped), dtype=dtype)})

    return members.mapInPandas(walk, schema)


def minhash_drop_set(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 1,
    threshold: float = 0.9,
    stage_stats: list | None = None,
) -> DataFrame:
    """The near-dedup DROP SET — ids that have at least one verified
    (Jaccard ≥ threshold) near-duplicate with a SMALLER id — without
    materializing a single candidate pair.

    ``minhash_verified_pairs`` materializes every candidate pair; a bucket
    holding a duplicate cluster of m docs contributes m²/2 of them — at
    web scale a single million-doc template cluster alone would be 5·10¹¹
    pairs. Keep-earliest dedup only needs "∃ earlier verified match in a
    shared bucket", which each bucket answers on its own: ONE per-doc
    frame ``(id, __buckets, __sh)`` (:func:`_perdoc_bands` with
    shingles) feeds both the banded rows (:func:`_band_rows`) and the
    shingle sets (a projection) of ONE bucket-local walk
    (:func:`_drop_set_walk`) that checks every doc of every multi-member
    bucket against that bucket's earlier members only.

    The result is EXACTLY the distinct ``id_b`` set of
    ``minhash_verified_pairs`` (pinned by test): a candidate pair there
    is two docs sharing a (band, bucket) with ``id_a < id_b``, and the
    walk visits each bucket's members in id order. Within a bucket,
    identical shingle sets verify with J = 1 and stand in for each other
    (so a cluster of m copies costs m set lookups, never m² verifies);
    every other earlier representative that could reach the threshold
    shares a prefix token with the doc, and every hit is the same
    integer-|∩|/|∪| double check (see :func:`_bucket_verify_group`).
    Returns a one-column DataFrame named ``id_col`` (its input type),
    eagerly materialized and persisted — callers unpersist it when done.
    On the Arrow arm (long ids) the per-doc frame is persisted and
    counted once, so the corpus is tokenized once, and unpersisted
    before return; the expression arm (non-long ids) is read lazily by
    both branches.

    ``stage_stats``: pass a list to receive ``(stage, wall_sec)`` tuples
    at the operator's job boundaries (the clean_corpus/round_stats
    convention) — ``banding_materialize`` (the Arrow tokenize+hash pass
    and its cache pin; plan construction only on the expression arm,
    which is not cached) and ``bucket_walk`` (window,
    shingle attach, walk and result pin). ``None`` (default) adds zero
    work and zero extra jobs.
    """
    import time as _time

    _t0 = _time.time()

    def _stat(name: str) -> None:
        nonlocal _t0
        if stage_stats is not None:
            stage_stats.append((name, round(_time.time() - _t0, 3)))
        _t0 = _time.time()

    perdoc = _perdoc_bands(
        df, text_col, id_col, num_hashes, bands, k, with_shingles=True
    )
    cached = _use_arrow_banding(df, id_col)
    if cached:
        # ONE corpus scan+tokenize pass: the banded rows and the shingle
        # frame are PROJECTIONS of the one cache (posexplode unpacks
        # in-row, no shuffle). Eager count: both branches read it, and
        # an unmaterialized cache re-computes the tokenize+hash lineage
        # per branch (CLAUDE.md). The expression arm (non-long ids) is
        # consumed lazily by both branches instead.
        perdoc = perdoc.persist()
        perdoc.count()
    _stat("banding_materialize")
    result = (
        _drop_set_walk(
            _band_rows(perdoc), perdoc.select(id_col, "__sh"), id_col, threshold
        )
        .distinct()
        .persist()
    )
    result.count()
    _stat("bucket_walk")
    if cached:
        perdoc.unpersist()
    return result
