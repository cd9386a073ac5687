"""Text-analysis operators over a document table: tokenization, language
ID, quality scoring, fingerprinting, term statistics.

Hot-path logic is built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage codegen) wherever codegen actually applies. The one
exception is the per-document signal kernel :func:`doc_signals`, behind
``lang_id``, ``quality_score`` and ``repetition_stats``: marker counts
and per-row n-gram modes only exist as interpreted higher-order
functions, so one ``mapInArrow`` pass with a word ``Counter`` per
document is measurably faster (~7× for the repetition modes alone; the
pure-SQL repetition fold remains as the parity-checked alternative).
Every operator is a map-only transform. Catalyst prunes and pushes
around the expression operators freely; the kernel is a plan barrier
that no ``Filter`` crosses. At 100 TB these run with no shuffle except
the final aggregations.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame, functions as F, types as T

#: Tiny marker vocabularies for the n-gram/keyword language-ID heuristic.
#: Deliberately simple + deterministic (the oracle re-expresses the same
#: arithmetic in SQL); swap for fastText/CLD3 via a Pandas UDF in a real
#: deployment.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of"),
    "es": ("el", "la", "de", "que"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "la", "et", "les"),
    "zh": ("de5", "le5", "shi4", "zai4"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "and", "of", "to", "in", "is")


def words_col(text: Column | str) -> Column:
    """Whitespace tokenization (single-space split; the corpus is
    space-normalized). For BPE-ish subword counts see
    :func:`token_count_regex`."""
    return F.split(F.col(text) if isinstance(text, str) else text, " ")


def gram_array(w: Column, k: int) -> Column:
    """Word k-grams of the token array ``w`` (ordered, WITH duplicates;
    empty when there are fewer than k tokens).

    Built from k shifted ``slice``s folded with ``zip_with`` — never
    ``element_at(w, i)`` inside a per-index lambda: higher-order functions
    evaluate interpreted with no common-subexpression elimination, so a
    lambda body referencing ``w`` re-evaluates the token split PER
    ELEMENT — O(n²) string work per row. Slices take ``w`` as an
    argument, evaluated once each: O(n·k) per row in any eval mode.
    """
    n = F.size(w)
    length = F.greatest(n - k + 1, F.lit(0))  # slice len must be >= 0

    def shifted(j: int) -> Column:
        return F.slice(w, j + 1, length)

    g = shifted(0)
    for j in range(1, k):
        g = F.zip_with(g, shifted(j), lambda a, b: F.concat(a, F.lit(" "), b))
    return g


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``n_tokens`` (whitespace tokens)."""
    return df.withColumn("n_tokens", F.size(words_col(text_col)))


def token_count_regex(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``n_subtokens``: a BPE-ish proxy that splits word-internal
    transitions (letter↔digit boundaries and punctuation) as well as
    whitespace. Regex engines differ across systems, so this operator is
    verified by unit test rather than a cross-engine oracle."""
    return df.withColumn(
        "n_subtokens",
        F.size(
            F.filter(
                F.split(F.col(text_col), r"\s+|(?<=[a-z])(?=[0-9])|(?<=[0-9])(?=[a-z])"),
                lambda t: t != F.lit(""),
            )
        ),
    )


#: The signals :func:`doc_signals` computes, in output order, with the
#: types and nullability the SQL forms give them: ``lang_pred`` is never
#: NULL; a NULL text gives NULL ``n_words`` and quality ratios (ANSI
#: ``size(NULL)``) and 0.0 repetition fractions.
SIGNAL_SCHEMA = T.StructType(
    [T.StructField("lang_pred", T.StringType(), False),
     T.StructField("n_words", T.IntegerType())]
    + [
        T.StructField(name, T.DoubleType())
        for name in (
            "avg_word_len", "stopword_ratio", "distinct_ratio", "quality",
            "max_word_frac", "top2gram_frac", "top3gram_frac", "dup_word_ratio",
        )
    ]
)

_LANGS = sorted(LANG_MARKERS)  # list order breaks argmax ties
_LANG_SETS = [frozenset(LANG_MARKERS[lang]) for lang in _LANGS]
_STOPSET = frozenset(STOPWORDS)


def doc_signals(
    df: DataFrame, text_col: str = "text", signals: tuple[str, ...] | None = None
) -> DataFrame:
    """Adds per-document text signals — every column of :func:`lang_id`,
    :func:`quality_score` and :func:`repetition_stats` — in ONE Arrow
    pass (``mapInArrow``): per document, one single-space split and one
    word ``Counter`` give all of them. ``signals`` picks a subset of
    ``SIGNAL_SCHEMA`` (default: all); a word 2/3-gram counter runs only
    when its ``top{k}gram_frac`` is picked.

    Input columns pass through as the Arrow arrays they arrived as. A
    signal named like an input column replaces it in place (the
    ``withColumn`` rule); the rest are appended in ``SIGNAL_SCHEMA``
    order.

    Why a kernel rather than column expressions: these signals are
    membership counts and per-row modes, which Spark only expresses as
    higher-order functions — interpreted, with no common-subexpression
    elimination (the language argmax re-filtered the token array about
    35 times per row). And a ``mapIn*`` node is a plan barrier: Catalyst
    pushes a ``Filter`` through ``spread_small_input``'s repartition but
    never through this node, so the kernel runs after the spread, on
    every core.

    The doubles are the same IEEE operations in the same order as the
    SQL forms the oracles use (an int/int true division is correctly
    rounded, like Spark's cast-to-double division), so they match
    bit-for-bit.
    """
    by_name = {f.name: f for f in SIGNAL_SCHEMA.fields}
    names = list(by_name) if signals is None else list(signals)
    unknown = [n for n in names if n not in by_name]
    if unknown:
        raise ValueError(f"unknown signals {unknown}; known: {list(by_name)}")
    names = [n for n in by_name if n in names]  # SIGNAL_SCHEMA order
    positions = {n: i for i, n in enumerate(by_name)}
    ks = tuple(k for k in (2, 3) if f"top{k}gram_frac" in names)
    cols = df.columns
    text_idx = cols.index(text_col)
    # Each output column: an input position (pass-through) or a signal name.
    sources: list[int | str] = [
        c if c in names else i for i, c in enumerate(cols)
    ] + [n for n in names if n not in cols]
    schema = T.StructType(
        [by_name[s] if isinstance(s, str) else df.schema.fields[s] for s in sources]
    )
    out_names = schema.fieldNames()

    def doc_signal_batches(batches):
        import pyarrow as pa

        arrow_types = {
            n: pa.int32() if n == "n_words" else pa.float64() for n in names
        }
        for batch in batches:
            texts = batch.column(text_idx)
            arrow_types["lang_pred"] = texts.type  # string or large_string
            rows = [_doc_signal_row(t, ks) for t in texts.to_pylist()]
            values = list(zip(*rows)) or [()] * len(positions)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(s) if isinstance(s, int)
                    else pa.array(values[positions[s]], type=arrow_types[s])
                    for s in sources
                ],
                names=out_names,
            )

    return df.mapInArrow(doc_signal_batches, schema)


def _doc_signal_row(t: str | None, ks: tuple[int, ...]) -> tuple:
    """All ``SIGNAL_SCHEMA`` values of one document, in that order;
    ``top{k}gram_frac`` is computed for k in ``ks`` and 0.0 otherwise."""
    if t is None:
        return ("und", None, None, None, None, None, 0.0, 0.0, 0.0, 0.0)
    words = t.split(" ")
    n, nc = len(words), len(t)
    counts = Counter(words)
    scores = [sum(counts[m] for m in markers) for markers in _LANG_SETS]
    best = max(scores)
    lang = _LANGS[scores.index(best)] if best > 0 else "und"
    avg_word_len = nc / n
    stopword_ratio = sum(counts[s] for s in _STOPSET) / n
    distinct_ratio = len(counts) / n
    quality = (
        min(avg_word_len / 8.0, 1.0) * 0.3
        + min(stopword_ratio * 5.0, 1.0) * 0.3
        + distinct_ratio * 0.4
    )
    top2, top3 = (_top_gram_frac(words, k, nc) if k in ks else 0.0 for k in (2, 3))
    return (
        lang, n, avg_word_len, stopword_ratio, distinct_ratio, quality,
        max(counts.values()) / n, top2, top3, 1.0 - distinct_ratio,
    )


def _top_gram_frac(words: list[str], k: int, nc: int) -> float:
    """Characters inside occurrences of the most frequent word k-gram
    (ties toward the longer gram) over ``nc`` characters; 0.0 with fewer
    than k words. k >= 2 words mean a space, so ``nc`` > 0 here."""
    if len(words) < k:
        return 0.0
    grams = Counter(zip(*(words[j:] for j in range(k))))
    top = max(grams.values())
    chars = max(sum(map(len, g)) for g, c in grams.items() if c == top) + k - 1
    return top * chars / nc


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``lang_pred``: argmax of per-language marker-hit counts (a
    token in a language's ``LANG_MARKERS`` counts once per occurrence)
    with ties to the alphabetically first language, 'und' when no marker
    hits at all. A projection of :func:`doc_signals`."""
    return doc_signals(df, text_col, ("lang_pred",))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds length/stopword/diversity quality signals and a composite
    ``quality`` in [0, ~1] (a projection of :func:`doc_signals`):

    - ``n_words``: tokens of the single-space split
    - ``avg_word_len`` = chars / words
    - ``stopword_ratio`` = stopword tokens / tokens
    - ``distinct_ratio`` = distinct tokens / tokens
    - ``quality`` = ``least(avg_word_len/8, 1)·0.3 +
      least(stopword_ratio·5, 1)·0.3 + distinct_ratio·0.4``

    A NULL text yields NULL for all five.
    """
    return doc_signals(
        df, text_col,
        ("n_words", "avg_word_len", "stopword_ratio", "distinct_ratio", "quality"),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``fp``: an order-insensitive document fingerprint — md5 of the
    sorted distinct token set (classic "fingerprint" key for clustering
    near-identical documents that differ only in word order/duplication)."""
    normalized = F.concat_ws(
        " ", F.array_sort(F.array_distinct(words_col(F.lower(F.col(text_col)))))
    )
    return df.withColumn("fp", F.md5(normalized))


def winnow_fingerprint(
    df: DataFrame, text_col: str = "text", k: int = 3, window: int = 4
) -> DataFrame:
    """Adds ``fps``: the document's winnowing fingerprint set — word
    k-gram hashes, min-selected over every sliding window of ``window``
    consecutive hashes (Schleimer/Wilkerson/Aiken, SIGMOD 2003). The
    guarantee: any match of ``window + k - 1`` consecutive tokens between
    two documents shares at least one selected fingerprint, at ~1/window
    the storage of the full hash sequence.

    Winnowing is the *selection* algorithm; the per-gram hash here is the
    repo's portable md5-derived integer (operators.dedup._h64) rather
    than a Rabin-Karp rolling product — on a column engine every gram is
    hashed in one vectorized pass either way, so the classic O(1) hash
    update buys nothing while breaking cross-engine reproducibility.
    Map-only; at scale pair with ``F.explode(fps)`` + groupBy for the
    posting-list (fingerprint → docs) inversion.
    """
    w = words_col(text_col)
    hashes = F.transform(gram_array(w, k), _winnow_h64)
    n_h = F.size(hashes)
    # Sliding-window min as a fold of `window` shifted slices (same
    # O(n·window) discipline as gram_array — `slice(hashes, i, window)`
    # inside a per-index lambda would rebuild + re-hash the gram array
    # per window position). greatest(.., 0) keeps the slice length legal
    # when the doc is shorter than one window.
    wlen = F.greatest(n_h - window + 1, F.lit(0))
    mins = F.slice(hashes, 1, wlen)
    for j in range(1, window):
        mins = F.zip_with(
            mins, F.slice(hashes, j + 1, wlen), lambda a, b: F.least(a, b)
        )
    fps = (
        F.when(n_h >= window, F.array_sort(F.array_distinct(mins)))
        # shorter than one window (but non-empty): degenerate single window
        .when(n_h >= 1, F.array(F.array_min(hashes)))
        .otherwise(F.array().cast("array<long>"))
    )
    return df.withColumn("fps", fps)


def _winnow_h64(col: Column) -> Column:
    from lakeshack_spark.operators import dedup  # deferred: dedup imports text

    return dedup._h64(col)


def repetition_stats(
    df: DataFrame, text_col: str = "text", impl: str = "arrow"
) -> DataFrame:
    """Adds Gopher-style (Rae et al. 2021, §A1.1) repetition signals —
    the standard pretraining filter for boilerplate/spam documents:

    - ``max_word_frac``: occurrences of the most frequent word / words
    - ``top2gram_frac``: characters inside occurrences of the most
      frequent word 2-gram / total characters
    - ``top3gram_frac``: same for 3-grams
    - ``dup_word_ratio``: 1 - distinct words / words

    A NULL text yields 0.0 for all four. Per-row, map-only in both
    implementations (the "mode of my own n-grams" never leaves the row —
    no explode → groupBy shuffle, which at 100 TB would shuffle the full
    token stream):

    - ``impl="arrow"`` (default): a projection of the :func:`doc_signals`
      Arrow kernel — Counter-based modes per document. This is the
      documented exception where a higher-order-function expression can't
      reach codegen, so the JVM holds no advantage: Spark's HOFs evaluate
      interpreted, and the measured gap is ~7× (5.3 s → 0.7 s steady on
      5000 sf0.1 docs).
    - ``impl="sql"``: pure-SQL single ``aggregate`` pass over each sorted
      gram array — engine-portable and dependency-free; kept as the
      cross-check (parity pinned in tests) and for contexts that cannot
      run Python workers. Never a nested ``filter(grams, ...)`` per
      distinct gram: a lambda body referencing the gram-array expression
      re-BUILDS that array per element under interpreted eval — O(n³)
      splits per row, a measured ~400× cliff once the optimizer
      substitutes these trees into a filter predicate.

    The corpus here is single-line; line-level dup ratios collapse to
    these word/gram forms.
    """
    if impl == "arrow":
        return doc_signals(
            df, text_col,
            ("max_word_frac", "top2gram_frac", "top3gram_frac", "dup_word_ratio"),
        )
    return _repetition_stats_sql(df, text_col)


def _repetition_stats_sql(df: DataFrame, text_col: str) -> DataFrame:
    w = words_col(text_col)
    n_words = F.size(w)
    n_chars = F.length(F.col(text_col))

    def mode_struct(arr: Column) -> Column:
        """One fold over array_sort(arr): longest run of equal adjacent
        elements, ties toward the longer element (count ``c``, element
        length ``len``). Accumulator: (prev, run, c, len)."""
        return F.aggregate(
            F.array_sort(arr),
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("c"),
                F.lit(0).alias("len"),
            ),
            lambda acc, g: _mode_step(acc, g),
        )

    def top_frac(k: int) -> Column:
        best = mode_struct(gram_array(w, k))
        return F.when(
            best["c"] > 0,
            (best["c"] * best["len"]).cast("double") / n_chars,
        ).otherwise(F.lit(0.0))

    max_word_frac = F.when(
        n_words > 0, mode_struct(w)["c"].cast("double") / n_words
    ).otherwise(F.lit(0.0))
    dup_word_ratio = F.when(
        n_words > 0,
        F.lit(1.0) - F.size(F.array_distinct(w)).cast("double") / n_words,
    ).otherwise(F.lit(0.0))
    return (
        df.withColumn("max_word_frac", max_word_frac)
        .withColumn("top2gram_frac", top_frac(2))
        .withColumn("top3gram_frac", top_frac(3))
        .withColumn("dup_word_ratio", dup_word_ratio)
    )


def _mode_step(acc: Column, g: Column) -> Column:
    """Fold step for :func:`repetition_stats`'s sorted-run mode scan."""
    run = F.when(acc["prev"].isNotNull() & (g == acc["prev"]), acc["run"] + 1).otherwise(
        F.lit(1)
    )
    better = (run > acc["c"]) | ((run == acc["c"]) & (F.length(g) > acc["len"]))
    return F.struct(
        g.alias("prev"),
        run.alias("run"),
        F.when(better, run).otherwise(acc["c"]).alias("c"),
        F.when(better, F.length(g)).otherwise(acc["len"]).alias("len"),
    )


#: Conservative PII patterns shared by the masker and its tests. Kept to
#: syntax that means the same thing in Java regex (Spark) and RE2-style
#: engines: character classes, bounded repeats, no backrefs/lookaround.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
    "phone": r"\+?[0-9]{3}[ .-][0-9]{3}[ .-][0-9]{4}",
}


def mask_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``text_masked`` with emails / SSN-ish / phone-ish spans
    replaced by ``<TYPE>`` tokens, plus per-type match counts
    (``n_email``, ``n_ssn``, ``n_phone``) for corpus-level PII audits.

    Pure ``regexp_replace`` / ``regexp_count`` — map-only, codegen,
    no Python. Order matters: SSN before phone, so the 3-2-4 digit shape
    isn't half-eaten by the looser phone pattern. These are scrub
    heuristics (pretraining hygiene), not a compliance guarantee — swap
    in an NER model via ``mapInPandas`` where recall matters.
    """
    masked = F.col(text_col)
    for name in ("email", "ssn", "phone"):
        masked = F.regexp_replace(masked, PII_PATTERNS[name], f"<{name.upper()}>")
    # One withColumns call: each chained withColumn re-analyses the plan.
    return df.withColumns(
        {"text_masked": masked}
        | {
            f"n_{name}": F.regexp_count(F.col(text_col), F.lit(PII_PATTERNS[name]))
            for name in ("email", "ssn", "phone")
        }
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    idf: str = "log",
) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF — the
    standard corpus-profiling / keyword-extraction pass a training-data
    pipeline runs after cleaning.

    Output: ``(id_col, term, tf, n_docs_with_term, score, rank)``, one
    row per kept term, ``rank`` 1-based by (score desc, term asc).

    ``idf`` selects the document-frequency weighting:

    - ``"log"`` (default): smoothed ``ln((N+1)/(df+1)) + 1`` — the
      sklearn-style production form.
    - ``"rational"``: ``(N+1)/(df+1)`` with no logarithm — not
      rank-equivalent to the log form in general, but every arithmetic
      step is exact IEEE int→double division/multiplication, making
      results reproducible bit-for-bit across engines. This is the
      variant the DuckDB hash gate pins (libm ``log`` may differ by
      1 ulp between engines, so the log form cannot be cell-exact
      cross-engine).

    Scale shape: one explode + two term-keyed aggregations + one
    term-keyed join (all hash-partitioned on high-cardinality keys), a
    broadcast of the 1-row corpus count, and a per-document window
    (parallelism = #docs, never #queries). Stopword-grade hot terms skew
    the term key at corpus scale — filter them first (they score ~0
    anyway) or salt the tf aggregation.
    """
    if idf not in ("log", "rational"):
        raise ValueError(f"idf must be 'log' or 'rational', got {idf!r}")
    pairs = df.select(
        F.col(id_col), F.explode(words_col(text_col)).alias("term")
    )
    tf = pairs.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = (
        tf.groupBy("term")
        .agg(F.count("*").alias("n_docs_with_term"))
    )
    n_docs = df.agg(F.count_distinct(F.col(id_col)).alias("__n_docs"))
    weight = (F.col("__n_docs") + F.lit(1)).cast("double") / (
        F.col("n_docs_with_term") + F.lit(1)
    ).cast("double")
    if idf == "log":
        weight = F.log(weight) + F.lit(1.0)
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.col("tf").cast("double") * weight)
        .drop("__n_docs")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "n_docs_with_term", "score", "rank")
    )


def unigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lm_counts: DataFrame | None = None,
    variant: str = "log",
) -> DataFrame:
    """Unigram language-model scoring — the perplexity-proxy quality
    filter every large pretraining pipeline runs (KenLM-style, one-gram
    order): score each document by how probable its tokens are under a
    reference unigram distribution.

    Output: ``(id_col, n_tokens, score)`` — one row per document with at
    least one token. ``variant`` selects the score:

    - ``"log"`` (production): mean negative log-probability
      ``-(1/n)·Σ ln p(tᵢ)`` — the cross-entropy whose ``exp`` is the
      unigram perplexity. Higher = rarer tokens = more likely junk (or
      novel content — use as a signal, not a verdict). libm ``log``
      differs by ulps across engines, so this variant is unit-tested
      against pure Python, not hash-gated.
    - ``"rational"``: mean token probability ``Σ n(tᵢ) / (T·n)`` — all
      integer sums followed by ONE int→double division, bit-reproducible
      in any IEEE engine. This is the variant the DuckDB gate pins (it
      orders documents oppositely to the log form but detects the same
      rare-token tails).

    ``lm_counts`` is an optional external reference model ``(term, n_t)``
    (e.g. counts from a trusted corpus): scoring then applies add-one
    smoothing ``p = (n_t + 1)/(T + V)`` so unseen tokens score finitely.
    When omitted, the model is the corpus itself (every token seen, no
    smoothing needed).

    Scale shape: the model is a vocabulary-sized relation — join on the
    term key (hash join; broadcast it yourself if the vocab is small),
    then one document-keyed aggregation. Two corpus scans (model build +
    scoring), both map-side before their single shuffle each.
    """
    if variant not in ("log", "rational"):
        raise ValueError(f"variant must be 'log' or 'rational', got {variant!r}")
    pairs = df.select(F.col(id_col), F.explode(words_col(text_col)).alias("term"))
    if lm_counts is None:
        counts = pairs.groupBy("term").agg(F.count("*").alias("n_t"))
        smooth = 0
    else:
        # Defensive re-group: a duplicate term in a caller-supplied model
        # would fan out the scoring join and silently inflate n_tokens.
        counts = (
            lm_counts.select("term", F.col("n_t").cast("long").alias("n_t"))
            .groupBy("term")
            .agg(F.sum("n_t").alias("n_t"))
        )
        smooth = 1
    totals = counts.agg(
        F.sum("n_t").alias("__T"), F.count("*").alias("__V")
    )
    joined = (
        pairs.join(counts, "term", "left")
        .na.fill({"n_t": 0})
        .crossJoin(F.broadcast(totals))
    )
    denom_total = F.col("__T") + F.lit(smooth) * F.col("__V")
    if variant == "rational":
        per_doc = joined.groupBy(id_col).agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.col("n_t") + F.lit(smooth)).alias("__s"),
            F.max(denom_total).alias("__d"),
        )
        score = F.col("__s").cast("double") / (
            F.col("__d") * F.col("n_tokens")
        ).cast("double")
    else:
        neg_log = -F.log(
            (F.col("n_t") + F.lit(smooth)).cast("double")
            / denom_total.cast("double")
        )
        per_doc = joined.groupBy(id_col).agg(
            F.count("*").alias("n_tokens"),
            F.sum(neg_log).alias("__s"),
        )
        score = F.col("__s") / F.col("n_tokens").cast("double")
    return per_doc.select(
        F.col(id_col), F.col("n_tokens"), score.alias("score")
    )


def bigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lm_counts: DataFrame | None = None,
    variant: str = "log",
) -> DataFrame:
    """Bigram language-model scoring — the order-2 step toward the KenLM
    perplexity filter CCNet runs (Wenzek et al. 2020): score each
    document by how probable its ADJACENT TOKEN PAIRS are under a
    reference bigram distribution. Context sensitivity is what the
    unigram filter lacks: "the the the" is full of common tokens but
    improbable bigrams.

    Output: ``(id_col, n_bigrams, score)`` — one row per document with
    ≥2 tokens (a 0/1-token doc has no bigrams and drops; callers wanting
    them keep ``unigram_lm_score``). ``variant`` as in
    :func:`unigram_lm_score`: ``"log"`` is the production mean negative
    log-probability (libm — unit-tested, not hash-gated); ``"rational"``
    is the mean corpus bigram probability ``Σ n(bᵢ) / (T·n)`` — integer
    sums then ONE division, the bit-reproducible gate form.

    ``lm_counts`` ``(w1, w2, n_b)`` optionally supplies an external
    reference model with add-one smoothing over its observed-bigram
    vocabulary; when omitted the corpus is its own model (every bigram
    seen).

    Scale shape: the bigram array is built once per row (two guarded
    slices zipped — no index sequence that could go negative on short
    docs), the model is a bigram-vocabulary-sized relation joined on the
    (w1, w2) key, then one document-keyed aggregation — the exact
    unigram topology, one shuffle per stage.
    """
    if variant not in ("log", "rational"):
        raise ValueError(f"variant must be 'log' or 'rational', got {variant!r}")
    w = words_col(text_col)
    n1 = F.greatest(F.size(w) - 1, F.lit(0))  # slice length, never negative
    bigrams = F.zip_with(
        F.slice(w, 1, n1),
        F.slice(w, 2, n1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    pairs = df.select(
        F.col(id_col), F.explode(bigrams).alias("__bg")
    ).select(
        id_col,
        F.col("__bg")["w1"].alias("w1"),
        F.col("__bg")["w2"].alias("w2"),
    )
    if lm_counts is None:
        counts = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n_b"))
        smooth = 0
    else:
        counts = (
            lm_counts.select(
                "w1", "w2", F.col("n_b").cast("long").alias("n_b")
            )
            .groupBy("w1", "w2")
            .agg(F.sum("n_b").alias("n_b"))
        )
        smooth = 1
    totals = counts.agg(F.sum("n_b").alias("__T"), F.count("*").alias("__V"))
    joined = (
        pairs.join(counts, ["w1", "w2"], "left")
        .na.fill({"n_b": 0})
        .crossJoin(F.broadcast(totals))
    )
    denom_total = F.col("__T") + F.lit(smooth) * F.col("__V")
    if variant == "rational":
        per_doc = joined.groupBy(id_col).agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.col("n_b") + F.lit(smooth)).alias("__s"),
            F.max(denom_total).alias("__d"),
        )
        score = F.col("__s").cast("double") / (
            F.col("__d") * F.col("n_bigrams")
        ).cast("double")
    else:
        neg_log = -F.log(
            (F.col("n_b") + F.lit(smooth)).cast("double")
            / denom_total.cast("double")
        )
        per_doc = joined.groupBy(id_col).agg(
            F.count("*").alias("n_bigrams"),
            F.sum(neg_log).alias("__s"),
        )
        score = F.col("__s") / F.col("n_bigrams").cast("double")
    return per_doc.select(
        F.col(id_col), F.col("n_bigrams"), score.alias("score")
    )


def chunk_tokens(
    df: DataFrame,
    window: int = 256,
    stride: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split every document into token-window chunks with optional
    overlap — the RAG/pretraining document splitter (sliding window when
    ``stride < window``, disjoint blocks when ``stride == window``, the
    default). Complements operators.packing (which assigns documents to
    global context windows; this cuts documents themselves).

    Output: one row per chunk — ``(id_col, chunk_id, chunk_start,
    n_chunk_tokens, chunk_text)`` with ``chunk_start`` the 0-based token
    offset and ``chunk_id = chunk_start / stride``. The final chunk may
    be shorter than ``window``.

    Map-only: token split, an arithmetic start-offset sequence, one
    posexplode, and per-chunk ``slice`` (slices take the token array as
    an argument — never per-index element_at lambdas, the interpreted-HOF
    O(n²) trap). No shuffle; Catalyst pushes row filters beneath it. The
    start sequence is guarded for empty docs because ``F.sequence``
    counts DOWN when its bounds invert (the repo's documented gotcha).
    """
    stride = stride or window
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    if stride > window:
        raise ValueError("stride must be <= window (gaps would drop tokens)")
    w = words_col(text_col)
    n = F.size(w)
    starts = F.when(
        n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    base = df.select(
        F.col(id_col), w.alias("__w"), F.explode(starts).alias("chunk_start")
    )
    chunk = F.slice(F.col("__w"), F.col("chunk_start") + 1, window)
    return base.select(
        F.col(id_col),
        (F.col("chunk_start") / F.lit(stride)).cast("int").alias("chunk_id"),
        F.col("chunk_start").cast("int").alias("chunk_start"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


def term_lift_by_group(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    min_group_count: int = 5,
) -> DataFrame:
    """Distribution-drift detection between corpus slices: for every
    (group, term) the *lift* of the term's in-group frequency over its
    corpus-wide frequency — the per-term signal behind "this source's
    token distribution is shifting" monitoring (and the unigram form of
    pointwise mutual information between group and term).

    ``lift = (n_gt / T_g) / (n_t / T) = (n_gt · T) / (T_g · n_t)`` where
    ``n_gt`` is the term's count in the group, ``T_g`` the group's token
    total, ``n_t`` the term's corpus count, ``T`` the corpus total.
    Output: ``(group_col, term, n_in_group, n_in_corpus, lift)`` for
    (group, term) pairs with ``n_gt ≥ min_group_count`` (bounds output
    and kills singleton noise). lift > 1: over-represented in the group.

    Cross-engine exactness: both sides of the division are exact int64
    products (< 2^53 up to ~petabyte token counts — past that, pre-scale
    the counts), so the single int→double division is bit-reproducible.

    Scale shape: one explode feeding three key-partitioned counts
    ((group, term), group, term — each with map-side partial combine),
    then joins on the group and term keys; the corpus total is one
    broadcast row. No per-row Python, no window.
    """
    pairs = df.select(
        F.col(group_col), F.explode(words_col(text_col)).alias("term")
    )
    n_gt = pairs.groupBy(group_col, "term").agg(
        F.count("*").alias("n_in_group")
    )
    t_g = n_gt.groupBy(group_col).agg(F.sum("n_in_group").alias("__tg"))
    n_t = n_gt.groupBy("term").agg(F.sum("n_in_group").alias("n_in_corpus"))
    total = n_t.agg(F.sum("n_in_corpus").alias("__t"))
    return (
        n_gt.filter(F.col("n_in_group") >= min_group_count)
        .join(t_g, group_col)
        .join(n_t, "term")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(group_col),
            F.col("term"),
            F.col("n_in_group"),
            F.col("n_in_corpus"),
            (
                (F.col("n_in_group") * F.col("__t")).cast("double")
                / (F.col("__tg") * F.col("n_in_corpus")).cast("double")
            ).alias("lift"),
        )
    )


def term_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Explodes tokens → ``(term, n)`` counts. The groupBy shuffles on the
    term (high cardinality → well-spread); at scale add a salt on very hot
    terms or use partial top-k per partition."""
    return (
        df.select(F.explode(words_col(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )


def repeated_passage_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-passage detection — the exact-substring
    analogue of "Deduplicating Training Data Makes Language Models
    Better" (Lee et al., ACL 2022) at word-k-gram granularity: a passage
    is "repeated" when the same k consecutive words appear in at least
    ``min_docs`` distinct documents (boilerplate, licence headers, quoted
    spam — the content MinHash-style whole-doc similarity misses when the
    rest of the document differs).

    Returns one row per input document: ``n_tokens``, ``n_dup_grams``
    (positions whose k-gram is shared), ``dup_tokens`` (tokens covered by
    the union of those [pos, pos+k) intervals — overlaps counted once),
    and ``dup_frac`` = dup_tokens / n_tokens. Downstream policy is the
    caller's: drop docs above a coverage threshold, or excise the spans.

    Scale shape (the suffix-array of the paper replaced by the MapReduce
    decomposition that distributes): ONE explode of O(total tokens) gram
    rows hashed to 8-byte longs map-side (`dedup._h64`, the repo's
    portable md5 domain), ONE groupBy on the gram hash with partial
    count-distinct combine, a semi join of positions against the flagged
    hash set (AQE broadcasts it when small), and ONE per-document
    aggregate whose interval-union fold is a single pass over the sorted
    position array. Nothing is ever pairwise in documents, and no
    full-text column crosses a shuffle — only (id, pos, hash64).
    """
    from lakeshack_spark.operators.dedup import _h64
    from lakeshack_spark.session import spread_small_input

    # The O(total tokens) gram explode serializes on one core when the
    # corpus is one single-row-group file (see session.spread_small_input).
    df = spread_small_input(df)
    base = df.select(F.col(id_col).alias("doc_id"), words_col(text_col).alias("__w"))
    grams = (
        base.select("doc_id", gram_array(F.col("__w"), k).alias("__g"))
        .select("doc_id", F.posexplode("__g").alias("pos", "__gram"))
        .select("doc_id", "pos", _h64(F.col("__gram")).alias("gh"))
    )
    flagged = (
        grams.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("gh")
    )
    hits = grams.join(flagged, "gh", "left_semi")
    acc0 = F.struct(
        F.lit(-k).cast("int").alias("prev"), F.lit(0).cast("long").alias("cov")
    )
    per_doc = hits.groupBy("doc_id").agg(
        F.count("*").alias("n_dup_grams"),
        F.aggregate(
            F.array_sort(F.collect_list("pos")),
            acc0,
            lambda acc, p: F.struct(
                p.alias("prev"),
                (acc["cov"] + F.least(F.lit(k), p - acc["prev"]).cast("long")).alias(
                    "cov"
                ),
            ),
            lambda acc: acc["cov"],
        ).alias("dup_tokens"),
    )
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.size(words_col(text_col)).alias("n_tokens"),
        )
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_grams", F.lit(0).cast("long")).alias("n_dup_grams"),
            F.coalesce("dup_tokens", F.lit(0).cast("long")).alias("dup_tokens"),
        )
        .withColumn("dup_frac", F.col("dup_tokens") / F.col("n_tokens"))
    )


def build_vocab(
    df: DataFrame, text_col: str = "text", max_size: int = 1000
) -> DataFrame:
    """Frequency-ranked vocabulary: the ``max_size`` most frequent
    tokens, ids assigned in (count DESC, term ASC) order — the
    deterministic tie rule that makes the id assignment reproducible
    across engines and runs. The vocab is bounded by definition, so the
    ranked head is collected once into a local relation (the
    sample_centroids convention): every consumer needs it broadcast
    anyway, and keeping it lazy would replay the global top-N per
    consumer. Returns (term, token_id, n)."""
    from pyspark.sql import types as T

    counts = term_counts(df, text_col)
    rows = (
        counts.orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(max_size)
        .collect()
    )
    schema = T.StructType(
        [
            T.StructField("term", T.StringType(), False),
            T.StructField("token_id", T.IntegerType(), False),
            T.StructField("n", T.LongType(), False),
        ]
    )
    spark = df.sparkSession
    return spark.createDataFrame(
        [(r.term, i, r.n) for i, r in enumerate(rows)], schema
    )


def encode_with_vocab(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_id: int = -1,
) -> DataFrame:
    """Tokenize-to-ids — the LLM-pipeline encode step at whitespace
    granularity: each document's token sequence maps through the vocab
    (OOV → ``oov_id``), summarized as scalars that survive the hash
    gate: ``n_tokens``, ``n_oov``, and ``ids_fp`` — md5 of the
    comma-joined id sequence IN ORDER, which pins the full encoded
    sequence (ordering included) through one string cell.

    Scale shape: one posexplode of O(total tokens) rows, a broadcast
    left join against the bounded vocab, and one per-doc aggregate
    whose order restoration is an ``array_sort`` of (pos, id) structs —
    never a window, never a driver loop. The decoded arrays themselves
    stay available upstream of the final select for callers that want
    them (``array`` columns just can't cross the driver's hash gate).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(words_col(text_col)).alias("pos", "term"),
    )
    joined = toks.join(
        F.broadcast(vocab.select("term", "token_id")), "term", "left"
    ).select(
        "doc_id",
        "pos",
        F.coalesce(F.col("token_id"), F.lit(oov_id)).alias("tid"),
    )
    seq = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "tid"))),
        lambda x: x["tid"].cast("string"),
    )
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum((F.col("tid") == oov_id).cast("long")).alias("n_oov"),
        F.md5(F.concat_ws(",", seq)).alias("ids_fp"),
    )


def hashed_linear_score(
    df: DataFrame,
    n_buckets: int = 256,
    weight_span: int = 8,
    seed: str = "hls",
    threshold: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Linear text classifier over HASHED bag-of-words features — the
    fastText-style quality-filter shape (Joulin et al. 2016; the
    CCNet/RefinedWeb "model-based filtering" stage) with a fixed,
    deterministic weight vector: ``(doc_id, n_tokens, score, keep)``.

    Each token hashes into one of ``n_buckets`` feature buckets (the
    hashing trick — no vocab table, O(1) memory at any corpus size),
    and each bucket carries an integer weight in
    ``[-weight_span, weight_span]`` derived from the portable md5 hash
    of ``seed:bucket`` — a stand-in for trained coefficients that keeps
    the whole score in EXACT int64 arithmetic, so the classifier is
    bit-reproducible cross-engine (a float dot product would not hash-
    gate; swap md5-derived weights for a broadcast weight table when
    serving a real model — same plan shape, one extra broadcast join).

    ``score`` = Σ_tokens weight(bucket(token)); ``keep`` = score ≥
    ``threshold``. Scale shape: one explode of O(total tokens) rows and
    one doc-keyed aggregation — map-side partial combine applies, no
    joins, no Python. The bucket and weight expressions are two md5
    calls per token inside the exploded projection; at 100 TB swap the
    outer md5 for ``xxhash64`` (hash-independent result only if the
    weight table is re-derived — documented, not default, mirroring the
    bloom-probe lesson).
    """
    from lakeshack_spark.operators.dedup import _h64

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(words_col(text_col)).alias("term"),
    )
    bucket = _h64(F.concat(F.lit("b:"), F.col("term"))) % F.lit(n_buckets)
    weight = _h64(
        F.concat(F.lit(seed + ":"), bucket.cast("string"))
    ) % F.lit(2 * weight_span + 1) - F.lit(weight_span)
    scored = toks.select("doc_id", weight.alias("w"))
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("w").alias("score"),
        (F.sum("w") >= F.lit(threshold)).alias("keep"),
    )
