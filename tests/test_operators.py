"""Operator unit tests: the non-SQL-expressible dedup operators are pinned
against independent pure-Python reference implementations (the oracle-backed
operators are covered by tools/selfcheck.py and the driver's gate).
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from lakeshack_spark.operators import dedup, similarity, text
from lakeshack_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


# ----------------------------------------------------- python references

def py_shingles(txt: str, k: int = 3) -> set[str]:
    w = txt.split(" ")
    if len(w) < k:
        return set()
    return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}


def py_h64(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def py_minhash_sig(txt: str, num_hashes: int = 32, k: int = 3) -> list[int] | None:
    sh = py_shingles(txt, k)
    if not sh:
        return None
    base = [py_h64(s) % dedup._MERSENNE31 for s in sh]
    sig = []
    for a, b in dedup._permutation_params(num_hashes):
        sig.append(min((a * h + b) % dedup._MERSENNE31 for h in base))
    return sig


def py_simhash(txt: str) -> int:
    tokens = list(dict.fromkeys(txt.split(" ")))
    fp = 0
    for j in range(63):
        s = sum(1 if py_h64(t) & (1 << j) else -1 for t in tokens)
        if s > 0:
            fp |= 1 << j
    return fp


# ----------------------------------------------------------------- tests

@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").filter(F.col("doc_id") < 40)


def test_minhash_signature_matches_python(spark, docs):
    rows = dedup.minhash_signature(docs, num_hashes=16).select(
        "doc_id", "text", "sig"
    ).collect()
    assert rows
    for r in rows[:10]:
        expect = py_minhash_sig(r["text"], num_hashes=16)
        if expect is None:
            continue
        assert list(r["sig"]) == expect, f"doc {r['doc_id']}"


def test_minhash_lsh_finds_exact_duplicates(spark, docs):
    """A duplicated document must always be an LSH candidate pair."""
    dup = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 10_000)
    both = docs.unionByName(dup)
    pairs = dedup.minhash_lsh_pairs(both).collect()
    found = {(p["id_a"], p["id_b"]) for p in pairs}
    for r in docs.limit(3).collect():
        assert (r["doc_id"], r["doc_id"] + 10_000) in found


def test_simhash_matches_python(spark, docs):
    rows = dedup.simhash(docs).select("doc_id", "text", "simhash").collect()
    for r in rows[:10]:
        assert r["simhash"] == py_simhash(r["text"]), f"doc {r['doc_id']}"


def test_simhash_arrow_expr_parity(spark, docs):
    """The Arrow fingerprint (default) and the pure-expression twin are
    bit-identical — on corpus docs AND the edge shapes (NULL, empty
    string, repeated tokens, consecutive spaces, unicode)."""
    edges = spark.createDataFrame(
        [
            (101, None),
            (102, ""),
            (103, " "),
            (104, "a a a"),
            (105, "a  b"),
            (106, "héllo wörld héllo"),
        ],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").unionByName(edges)
    arrow = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash(both, impl="arrow").collect()
    }
    expr = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash(both, impl="expr").collect()
    }
    assert arrow == expr


def test_simhash_null_text_is_zero_fingerprint(spark):
    """NULL text must fingerprint to 0 (empty token set), never NULL — a
    NULL simhash silently drops the doc from simhash_near_pairs' banded
    equi-join."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    assert got[1] == 0
    # "" splits to one empty token in BOTH engines — parity, not zero.
    assert got[2] == py_simhash("")
    assert got[3] == py_simhash("a b") != 0


def test_simhash_identical_docs_zero_hamming(spark, docs):
    dup = docs.limit(2).withColumn("doc_id", F.col("doc_id") + 10_000)
    both = docs.unionByName(dup)
    pairs = dedup.simhash_near_pairs(both, max_hamming=0).collect()
    found = {(p["id_a"], p["id_b"]) for p in pairs}
    for r in docs.limit(2).collect():
        assert (r["doc_id"], r["doc_id"] + 10_000) in found


def test_ngram_jaccard_self_pair_is_one(spark, docs):
    dup = docs.limit(2).withColumn("doc_id", F.col("doc_id") + 10_000)
    both = docs.unionByName(dup).withColumn("blk", F.lit(1))
    pairs = dedup.ngram_jaccard_pairs(both, block_col="blk", threshold=0.999).collect()
    found = {(p["id_a"], p["id_b"]): p["jaccard"] for p in pairs}
    for r in docs.limit(2).collect():
        assert found.get((r["doc_id"], r["doc_id"] + 10_000)) == 1.0


def test_lsh_pairs_band0_prededup_equals_plain_distinct(spark):
    """minhash_lsh_pairs' band-0 pre-dedup must emit EXACTLY the distinct
    pair set of the plain formulation — including pairs whose signatures
    collide only at LATER bands (band-0 buckets differ), the path where
    the residual distinct still does the dedup. A half-shared-vocabulary
    corpus at 2 rows/band produces plenty of partial-band collisions; the
    test asserts that regime is actually exercised (some pair collides at
    a band > 0 without colliding at band 0) before comparing."""
    base = [f"tok{i}" for i in range(12)]
    rows = []
    for i in range(120):
        mine = [f"u{i}_{j}" for j in range(6)]
        shared = base[(i % 4):(i % 4) + 6]
        rows.append((i, " ".join(shared + mine)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(num_hashes=16, bands=8, k=1)

    got = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, **kw).collect()
    }
    # plain reference: join + unconditional distinct over the same banding
    banded = dedup._perdoc_bands(docs, "text", "doc_id", 16, 8, 1).select(
        "doc_id", F.posexplode("__buckets").alias("band", "bucket")
    )
    a, b = banded.alias("a"), banded.alias("b")
    want_df = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    want = {(r.id_a, r.id_b) for r in want_df.distinct().collect()}
    assert got == want and len(got) > 0
    # the later-band-only regime is present: some colliding pair's band-0
    # buckets differ (so it was deduped by the residual distinct, not the
    # band-0 filter)
    bk = {
        (r.doc_id, r.band): r.bucket for r in banded.collect()
    }
    later_only = [
        p for p in want if bk[(p[0], 0)] != bk[(p[1], 0)]
    ]
    assert later_only, "corpus failed to exercise later-band-only collisions"


def test_ngram_jaccard_null_text_is_zero_never_negative(spark):
    """Regression (round-5 self-review): with per-side set sizes,
    size(NULL array) = -1 would make a NULL-text pair's jaccard NEGATIVE
    (-1/|b|) unless guarded — the old array_union form yielded 0.0.
    NULL/empty docs must pair at exactly 0.0, and never emit j < 0."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, ""), (4, "alpha beta gamma epsilon")],
        "doc_id long, text string",
    ).withColumn("blk", F.lit(1))
    pairs = dedup.ngram_jaccard_pairs(
        docs, block_col="blk", threshold=0.0, k=1
    ).collect()
    got = {(p["id_a"], p["id_b"]): p["jaccard"] for p in pairs}
    assert all(j >= 0.0 for j in got.values()), got
    assert got[(1, 2)] == 0.0 and got[(2, 3)] == 0.0 and got[(2, 4)] == 0.0
    assert got[(1, 4)] == 0.6  # |{a,b,g}∩| 3 / |{a,b,g,d,e}| 5


def test_ivf_full_probe_equals_bruteforce(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cents = similarity.sample_centroids(emb, 8)
    bf = similarity.cosine_topk(emb, queries, k=3).select(
        "query_id", "neighbor_id", "rank"
    )
    ivf = similarity.ivf_topk(emb, queries, cents, k=3, nprobe=8).select(
        "query_id", "neighbor_id", "rank"
    )
    assert bf.exceptAll(ivf).count() == 0 and ivf.exceptAll(bf).count() == 0


def test_ivf_low_probe_is_subset_with_decent_recall(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cents = similarity.sample_centroids(emb, 8)
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(emb, queries, cents, k=5, nprobe=4).collect()
    }
    recall = len(bf & approx) / len(bf)
    assert recall >= 0.5, f"recall {recall}"


def test_cosine_pandas_matches_fold_ranks(spark):
    """NumPy path must produce the same (query, neighbor, rank) triples as
    the exact expression-fold path; cosine values agree to ~1e-12."""
    from lakeshack_spark.sources.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    fold = similarity.cosine_topk(emb, queries, k=5).collect()
    fast = similarity.cosine_topk_pandas(emb, queries, k=5).collect()
    key = lambda r: (r["query_id"], r["rank"])
    fold_m = {key(r): r for r in fold}
    fast_m = {key(r): r for r in fast}
    assert fold_m.keys() == fast_m.keys()
    for kk in fold_m:
        assert fold_m[kk]["neighbor_id"] == fast_m[kk]["neighbor_id"]
        assert abs(fold_m[kk]["cosine"] - fast_m[kk]["cosine"]) < 1e-9


def test_spread_small_input_short_circuits_complex_plans(spark):
    """ADVICE r8: the partition probe (df.rdd) forces a full physical
    planning pass, so spread_small_input must only probe simple scan
    chains. Complex trees (joins/aggregates — a shuffle already set
    their partition count) must pass through IDENTICALLY (same object:
    no probe, no repartition); scan chains still get probed and spread."""
    from lakeshack_spark import session as lss_session

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    chain = emb.select("vec_id").filter("vec_id >= 0").limit(100)
    assert lss_session._is_simple_scan(chain)
    out = lss_session.spread_small_input(chain)
    assert out.count() == chain.count()
    agg = emb.groupBy((F.col("vec_id") % 7).alias("g")).count()
    assert not lss_session._is_simple_scan(agg)
    assert lss_session.spread_small_input(agg) is agg
    joined = emb.alias("a").join(
        emb.select("vec_id").alias("b"), "vec_id"
    )
    assert not lss_session._is_simple_scan(joined)
    assert lss_session.spread_small_input(joined) is joined
    # Union introduces NO shuffle — a union of single-row-group scans is
    # still the hazard shape and MUST stay probed/spread (the bench's
    # planted-rows unions serialized when Union was rejected here).
    unioned = emb.unionByName(emb.filter("vec_id < 10"))
    assert lss_session._is_simple_scan(unioned)
    # union over a shuffle-bearing branch is not simple
    mixed = emb.select("vec_id").unionByName(
        emb.groupBy().count().select(F.col("count").alias("vec_id"))
    )
    assert not lss_session._is_simple_scan(mixed)
    # the raw scan is the hazard case: single-row-group file → 1
    # partition → must actually spread (values unaffected)
    if emb.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        spread = lss_session.spread_small_input(emb)
        assert spread is not emb
        assert spread.count() == emb.count()


def test_spread_budget_exhaustion_fails_open_on_wide_unions(spark):
    """VERDICT r9 #4: a >64-node union of Project+Filter-over-scan
    chains exhausts the classifier's node budget. All nodes are allowed
    shapes and Union adds no shuffle, so the tree is EXACTLY the
    single-row-group serialization hazard — budget exhaustion must
    return True (probe) not False (silently skip the spread)."""
    from lakeshack_spark import session as lss_session

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    branch = emb.select("vec_id").filter("vec_id >= 0")
    wide = branch
    for i in range(40):  # ≥120 nodes: 40×(Union+Project+Filter)+leaves
        wide = wide.unionByName(branch.filter(f"vec_id != -{i + 1}"))
    assert lss_session._is_simple_scan(wide)
    out = lss_session.spread_small_input(wide)
    par = spark.sparkContext.defaultParallelism
    if wide.rdd.getNumPartitions() < par:
        assert out is not wide
        assert out.rdd.getNumPartitions() == par
    # shuffle-bearing trees keep their fast-path pass-through even when
    # wide: the first disallowed node still vetoes before the budget
    agg_branch = emb.groupBy("vec_id").count()
    assert lss_session.spread_small_input(agg_branch) is agg_branch


def test_cosine_pandas_query_cap_guard(spark, monkeypatch):
    """VERDICT_r8 item 5: the collected-and-closed-over query matrix is
    driver-memory bounded, so past COSINE_TOPK_MAX_QUERIES the operator
    must refuse (pointing at the distributed IVF/PQ tiers) instead of
    silently collecting an unbounded frame. At the cap it still runs."""
    from lakeshack_spark.sources.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    monkeypatch.setattr(similarity, "COSINE_TOPK_MAX_QUERIES", 3)
    with pytest.raises(ValueError, match="COSINE_TOPK_MAX_QUERIES"):
        similarity.cosine_topk_pandas(emb, emb.filter("vec_id < 4"), k=2)
    ok = similarity.cosine_topk_pandas(emb, emb.filter("vec_id < 3"), k=2)
    assert ok.count() == 3 * 2


def test_sketches_within_tolerance(spark):
    """The bounds-as-booleans contract: every within-ε flag must be TRUE
    (they are what the driver hash-checks against literal TRUEs) and the
    exact scalars must agree with an independent exact aggregation."""
    from lakeshack_spark.queries import SPECS

    rows = SPECS["sketch_distinct_and_quantiles"][0](spark, SF).collect()
    from lakeshack_spark.sources.catalog import load_table

    o = load_table(spark, SF, "orders")
    exact = {
        r["o_orderstatus"]: r["n"]
        for r in o.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert len(rows) == 3
    for r in rows:
        assert r["n_customers"] == exact[r["o_orderstatus"]]
        assert r["p50"] < r["p90"] < r["p99"]
        assert r["distinct_ok"] and r["p50_ok"] and r["p90_ok"] and r["p99_ok"]


def test_token_count_regex(spark):
    df = spark.createDataFrame([(1, "abc123 def x9y")], "id int, text string")
    row = text.token_count_regex(df).collect()[0]
    # abc|123, def, x|9|y → 6 subtokens
    assert row["n_subtokens"] == 6


def test_lang_id_marker_sanity(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the hat"), (2, "el gato de la casa"), (3, "xyz qrs")],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r["lang_pred"] for r in text.lang_id(df).collect()}
    assert rows[1] == "en" and rows[2] == "es" and rows[3] == "und"


def test_winnow_fingerprint_matches_reference_impl(spark):
    """Winnowing pinned against an independent pure-Python implementation
    (same md5-derived gram hash, classic min-per-window selection)."""
    import hashlib

    from lakeshack_spark.operators.text import winnow_fingerprint

    texts = [
        "a b c d e f g h i j",
        "the quick brown fox jumps over the lazy dog again and again",
        "x y",                # no k-gram at all (k=3)
        "solo",               # no k-gram at all (k=3)
        "p q r s t",          # 3 grams: non-empty but under one window
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: list(r["fps"])
        for r in winnow_fingerprint(df, k=3, window=4).collect()
    }

    def h64(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    for i, t in enumerate(texts):
        words = t.split(" ")
        grams = [" ".join(words[j : j + 3]) for j in range(len(words) - 2)]
        hashes = [h64(g) for g in grams]
        if len(hashes) >= 4:
            want = sorted({min(hashes[j : j + 4]) for j in range(len(hashes) - 3)})
        elif hashes:
            want = [min(hashes)]
        else:
            want = []
        assert got[i] == want, (i, t)


def test_winnow_guarantee_shared_fingerprint(spark):
    """Two docs sharing >= window+k-1 consecutive tokens must share at
    least one selected fingerprint (the winnowing guarantee)."""
    from lakeshack_spark.operators.text import winnow_fingerprint

    shared = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [
            (0, f"alpha beta {shared} gamma"),
            (1, f"{shared} delta epsilon zeta"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: set(r["fps"]) for r in
            winnow_fingerprint(df, k=3, window=4).collect()}
    assert rows[0] & rows[1]


# --------------------------------------- pipeline hygiene: repetition/PII


def py_repetition(txt: str):
    w = txt.split(" ")
    n_words, n_chars = len(w), len(txt)
    from collections import Counter

    def top_frac(k):
        grams = [" ".join(w[i : i + k]) for i in range(len(w) - k + 1)]
        if not grams:
            return 0.0
        cnt = Counter(grams)
        best = max(cnt.items(), key=lambda kv: (kv[1], len(kv[0])))
        return best[1] * len(best[0]) / n_chars

    return {
        "max_word_frac": max(Counter(w).values()) / n_words,
        "top2gram_frac": top_frac(2),
        "top3gram_frac": top_frac(3),
        "dup_word_ratio": 1.0 - len(set(w)) / n_words,
    }


def test_repetition_stats_matches_python(spark):
    texts = [
        "spam spam spam spam spam",
        "the quick brown fox jumps over the lazy dog",
        "buy now buy now buy now limited offer",
        "a b a b a b a b c",
        "unique words only here today",
        "solo",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.asDict() for r in text.repetition_stats(df).collect()
    }
    for i, t in enumerate(texts):
        want = py_repetition(t)
        for key, val in want.items():
            assert got[i][key] == pytest.approx(val), (i, key)


def test_repetition_stats_arrow_equals_sql(spark, docs):
    """The Arrow (default) and pure-SQL implementations must agree
    exactly — real corpus rows plus the NULL/empty/whitespace/single-word
    edges where the tie and guard semantics live."""
    edge = spark.createDataFrame(
        [(10_001, None), (10_002, ""), (10_003, " "), (10_004, "solo"),
         (10_005, "a a a"), (10_006, "x y x y x y")],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").unionByName(edge)
    cols = ["max_word_frac", "top2gram_frac", "top3gram_frac", "dup_word_ratio"]
    a = {r.doc_id: [r[c] for c in cols]
         for r in text.repetition_stats(both, impl="arrow").collect()}
    s = {r.doc_id: [r[c] for c in cols]
         for r in text.repetition_stats(both, impl="sql").collect()}
    assert a.keys() == s.keys()
    for k in a:
        assert a[k] == pytest.approx(s[k], abs=1e-12), k


def test_repetition_stats_flags_the_spammy_docs(spark, docs):
    out = text.repetition_stats(docs)
    # real corpus rows: all signals defined, in range, and not all equal
    rows = out.select("max_word_frac", "top2gram_frac", "dup_word_ratio").collect()
    assert all(0.0 <= r.max_word_frac <= 1.0 for r in rows)
    assert all(0.0 <= r.top2gram_frac <= 1.0 for r in rows)
    assert len({round(r.dup_word_ratio, 6) for r in rows}) > 1


def test_mask_pii_masks_and_counts(spark):
    rows = [
        (0, "contact bob.smith+x@example.co.uk or call 555-123-4567 now"),
        (1, "ssn 123-45-6789 should vanish"),
        (2, "no pii here just words and numbers 12345"),
        (3, "two mails a@b.io c@d.org and +1 212.555.0199 is not matched"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in text.mask_pii(df).collect()}
    assert got[0].text_masked == "contact <EMAIL> or call <PHONE> now"
    assert (got[0].n_email, got[0].n_phone, got[0].n_ssn) == (1, 1, 0)
    assert got[1].text_masked == "ssn <SSN> should vanish"
    assert got[1].n_ssn == 1 and got[1].n_phone == 0
    assert got[2].text_masked == got[2].text and got[2].n_email == 0
    assert got[3].n_email == 2
    # 212.555.0199 matches the 3-3-4 phone shape
    assert "<EMAIL>" in got[3].text_masked and "<PHONE>" in got[3].text_masked


def test_contamination_flags_planted_overlap(spark, docs):
    k = 8
    sample = [r.text for r in docs.orderBy("doc_id").limit(3).collect()]
    # benchmark: an 8-gram lifted verbatim from doc 0 and 2, plus noise
    bench_rows = []
    for j, t in enumerate(sample):
        w = t.split(" ")
        if j != 1 and len(w) >= k:
            bench_rows.append((j, " ".join(w[2 : 2 + k])))
    bench_rows.append((99, "totally novel benchmark prompt nothing shares this"))
    bench = spark.createDataFrame(bench_rows, "qid long, text string")

    flagged = {
        r.doc_id: r.n_hits
        for r in dedup.contamination_flags(docs, bench, k=k).collect()
    }
    lifted = {j for j, _ in enumerate(sample) if j != 1 and len(sample[j].split(" ")) >= k}
    for j in lifted:
        assert flagged.get(j, 0) >= 1, f"doc {j} shares a planted {k}-gram"
    # doc 1 contributed nothing to the benchmark: it can only be flagged
    # via an accidental real 8-gram collision, which the corpus does not
    # contain for these first docs
    assert 1 not in flagged


def test_contamination_min_hits_threshold(spark):
    doc = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    docs = spark.createDataFrame([(0, doc)], "doc_id long, text string")
    bench = spark.createDataFrame([(0, doc)], "qid long, text string")
    out = dedup.contamination_flags(docs, bench, k=8, min_hits=5)
    got = out.collect()
    assert len(got) == 1 and got[0].n_hits == 5  # 12 words → 5 distinct 8-grams
    assert (
        dedup.contamination_flags(docs, bench, k=8, min_hits=6).count() == 0
    )


# ------------------------------------------------ SRP-LSH embedding dedup


def py_srp_bits(vec, n_bits=16):
    planes = similarity._srp_hyperplanes(n_bits, len(vec))
    out = []
    for row in planes:
        acc = 0.0
        for x, h in zip(vec, row):
            acc += float(x) * h
        out.append(1 if acc >= 0 else 0)
    return out


@pytest.fixture(scope="module")
def vecs_with_dups(spark):
    base = load_table(spark, SF, "embeddings").select("vec_id", "embedding").limit(40)
    rows = base.collect()
    planted = []
    for r in rows[:10]:
        v = list(r.embedding)
        v[0] = float(v[0]) + 0.01  # cosine vs original ≈ 0.9999
        planted.append((int(r.vec_id) + 10_000, v))
    dup = spark.createDataFrame(planted, base.schema)
    return base.unionByName(dup)


def test_srp_signature_matches_python(spark, vecs_with_dups):
    got = {
        r.vec_id: list(r.srp_bits)
        for r in similarity.srp_signature(vecs_with_dups, n_bits=16).collect()
    }
    for r in vecs_with_dups.limit(5).collect():
        assert got[r.vec_id] == py_srp_bits(list(r.embedding)), r.vec_id


def test_srp_signature_arrow_equals_expr(spark, vecs_with_dups):
    """r14 (VERDICT_r13 item 6): the Arrow SRP twin must be BIT-identical
    to the expression form — float→double casts are exact and
    _seq_block_dot reproduces the sequential IEEE fold — including the
    NULL/ragged edge rows whose expression dot folds to NULL and every
    bit lands in otherwise(0). The auto dispatch keeps the bench's
    narrow dims on expr and flips to arrow at SRP_ARROW_MIN_DIM."""
    from pyspark.sql import types as T

    dim = len(vecs_with_dups.select("embedding").first()[0])
    edge = spark.createDataFrame(
        [
            (90_001, None),
            (90_002, [float(i) for i in range(dim - 1)]),  # ragged short
            (90_003, [float(i) for i in range(dim + 1)]),  # ragged long
            (90_004, [0.0] * dim),  # zero vector: dot 0.0 >= 0 -> bit 1
        ],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    for frame in (vecs_with_dups, edge):
        e = {
            r.vec_id: list(r.srp_bits)
            for r in similarity.srp_signature(
                frame, n_bits=16, dim=dim, impl="expr"
            ).collect()
        }
        a = {
            r.vec_id: list(r.srp_bits)
            for r in similarity.srp_signature(
                frame, n_bits=16, dim=dim, impl="arrow"
            ).collect()
        }
        assert a == e and len(e) > 0
    # dispatch: narrow dims stay on the expression plan (no Python node)
    narrow = similarity.srp_signature(vecs_with_dups, n_bits=16, dim=dim)
    assert "ArrowEvalPython" not in narrow._jdf.queryExecution().executedPlan().toString() or dim >= similarity.SRP_ARROW_MIN_DIM
    wide = spark.createDataFrame(
        [(1, [0.5] * similarity.SRP_ARROW_MIN_DIM)],
        "vec_id long, embedding array<double>",
    )
    auto_wide = similarity.srp_signature(
        wide, n_bits=8, dim=similarity.SRP_ARROW_MIN_DIM
    )
    assert "ArrowEvalPython" in auto_wide._jdf.queryExecution().executedPlan().toString()


def test_srp_near_dup_finds_planted_pairs(spark, vecs_with_dups):
    srp = {
        (r.id_a, r.id_b)
        for r in similarity.srp_near_dup_pairs(
            vecs_with_dups, threshold=0.99, n_bits=16, bands=4
        ).collect()
    }
    brute = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dup_pairs(
            vecs_with_dups, threshold=0.99
        ).collect()
    }
    # verify stage makes SRP precision exact: strictly a subset
    assert srp <= brute
    # every planted near-identical pair must be discovered (per-bit match
    # probability ≈ 1 - arccos(.9999)/pi ≈ 0.996 → miss p ≈ 2e-7)
    planted = {
        (r.vec_id, r.vec_id + 10_000)
        for r in vecs_with_dups.filter(F.col("vec_id") < 10).collect()
    }
    planted = {p for p in planted if p in brute}
    assert planted and planted <= srp


def test_srp_cosines_match_bruteforce_exactly(spark, vecs_with_dups):
    srp = {
        (r.id_a, r.id_b): r.cosine
        for r in similarity.srp_near_dup_pairs(
            vecs_with_dups, threshold=0.99, n_bits=16, bands=4
        ).collect()
    }
    brute = {
        (r.id_a, r.id_b): r.cosine
        for r in similarity.embedding_near_dup_pairs(
            vecs_with_dups, threshold=0.99
        ).collect()
    }
    for pair, cos in srp.items():
        assert cos == brute[pair], pair  # same fold order → bit-identical


def test_semantic_dedup_keep_earliest(spark, vecs_with_dups):
    """SemDeDup drop report ≡ the independently computed within-cell
    pair relation; survivors partition the input with drops; witness
    stats exact; keep-earliest means no surviving within-cell pair is
    above threshold."""
    cents = similarity.sample_centroids(vecs_with_dups, 4)
    drops = similarity.semantic_dedup_drops(vecs_with_dups, cents, threshold=0.99)
    drop_rows = {r.vec_id: r for r in drops.collect()}
    assigned = {
        r.vec_id: r.cell
        for r in similarity.ivf_assign(vecs_with_dups, cents).collect()
    }
    pairs = [
        (r.id_a, r.id_b, r.cosine)
        for r in similarity.embedding_near_dup_pairs(
            vecs_with_dups, threshold=0.99
        ).collect()
        if assigned[r.id_a] == assigned[r.id_b]
    ]
    want = {b for _, b, _ in pairs}
    # planted near-identical dups land in their original's cell → drops
    assert set(drop_rows) == want and want
    for b, r in drop_rows.items():
        ws = [(a, c) for a, bb, c in pairs if bb == b]
        assert r.n_witnesses == len(ws)
        assert r.min_witness == min(a for a, _ in ws)
        assert r.max_cosine == max(c for _, c in ws)
        assert r.cell == assigned[b]
    surv = {
        r.vec_id
        for r in similarity.semantic_dedup(
            vecs_with_dups, cents, threshold=0.99
        ).collect()
    }
    assert surv | set(drop_rows) == set(assigned)
    assert surv.isdisjoint(drop_rows)


def test_mask_pii_plan_matches_chained_columns(spark):
    """mask_pii builds its four columns in one withColumns call; the
    optimized plan and schema equal the four chained withColumn calls."""
    import re

    df = spark.createDataFrame([(0, "mail a@b.io")], "doc_id long, text string")
    masked = F.col("text")
    for name in ("email", "ssn", "phone"):
        masked = F.regexp_replace(
            masked, text.PII_PATTERNS[name], f"<{name.upper()}>"
        )
    chained = df.withColumn("text_masked", masked)
    for name in ("email", "ssn", "phone"):
        chained = chained.withColumn(
            f"n_{name}", F.regexp_count(F.col("text"), F.lit(text.PII_PATTERNS[name]))
        )
    got = text.mask_pii(df)

    def optimized(frame):
        return re.sub(r"#\d+", "#", frame._jdf.queryExecution().optimizedPlan().toString())

    assert got.schema == chained.schema
    assert optimized(got) == optimized(chained)
    assert got.collect() == chained.collect()


# -------------------------------------------- doc_signals: the Arrow kernel

_SIGNALS = (
    "lang_pred", "n_words", "avg_word_len", "stopword_ratio", "distinct_ratio",
    "quality", "max_word_frac", "top2gram_frac", "top3gram_frac",
    "dup_word_ratio",
)

#: Outputs of the column-expression forms the kernel replaced (lang_id's
#: marker argmax, quality_score's five columns, repetition_stats' Arrow
#: UDF), recorded before they were deleted. Floats are exact reprs.
_RECORDED_SIGNALS = [
    (None, ("und", None, None, None, None, None, 0.0, 0.0, 0.0, 0.0)),
    ("", ("und", 1, 0.0, 0.0, 1.0, 0.4, 1.0, 0.0, 0.0, 0.0)),
    ("solo", ("und", 1, 4.0, 0.0, 1.0, 0.55, 1.0, 0.0, 0.0, 0.0)),
    ("aaaaaaaaa", ("und", 1, 9.0, 0.0, 1.0, 0.7, 1.0, 0.0, 0.0, 0.0)),
    # doubled / leading / trailing spaces: empty tokens
    ("a  b", ("en", 3, 1.3333333333333333, 0.3333333333333333, 1.0, 0.75,
              0.3333333333333333, 0.5, 1.0, 0.0)),
    (" ", ("und", 2, 0.5, 0.0, 0.5, 0.21875, 1.0, 1.0, 0.0, 0.5)),
    ("  ", ("und", 3, 0.6666666666666666, 0.0, 0.3333333333333333,
            0.15833333333333333, 1.0, 1.0, 1.0, 0.6666666666666667)),
    (" lead trail ", ("und", 4, 3.0, 0.0, 0.75, 0.41250000000000003, 0.5,
                      0.8333333333333334, 0.9166666666666666, 0.25)),
    # cross-language marker ties go to the alphabetically first language
    ("la", ("es", 1, 2.0, 0.0, 1.0, 0.47500000000000003, 1.0, 0.0, 0.0, 0.0)),
    ("la la", ("es", 2, 2.5, 0.0, 0.5, 0.29375, 1.0, 1.0, 0.0, 0.5)),
    ("de la", ("es", 2, 2.5, 0.0, 1.0, 0.49375, 0.5, 1.0, 0.0, 0.0)),
    ("the el der le de5", ("de", 5, 3.4, 0.2, 1.0, 0.8275, 0.2,
                           0.35294117647058826, 0.5882352941176471, 0.0)),
    ("und et the", ("de", 3, 3.3333333333333335, 0.3333333333333333, 1.0,
                    0.825, 0.3333333333333333, 0.6, 1.0, 0.0)),
    ("et le zai4 shi4", ("fr", 4, 3.75, 0.0, 1.0, 0.540625, 0.25, 0.6, 0.8, 0.0)),
    ("le la de et", ("fr", 4, 2.75, 0.0, 1.0, 0.503125, 0.25,
                     0.45454545454545453, 0.7272727272727273, 0.0)),
    ("the the the the", ("en", 4, 3.75, 1.0, 0.25, 0.540625, 1.0, 1.4,
                         1.4666666666666666, 0.75)),
    ("the a and of el la de que", ("en", 8, 3.125, 0.5, 1.0, 0.8171875, 0.125,
                                   0.24, 0.36, 0.0)),
    # non-ASCII and astral characters: Spark length == Python len (code points)
    ("héllo wörld ü", ("und", 3, 4.333333333333333, 0.0, 1.0, 0.5625,
                       0.3333333333333333, 0.8461538461538461, 1.0, 0.0)),
    ("\U0001F600 \U0001F600 a", ("en", 3, 1.6666666666666667, 0.3333333333333333,
                                 0.6666666666666666, 0.6291666666666667,
                                 0.6666666666666666, 0.6, 1.0,
                                 0.33333333333333337)),
    ("ñ\U0001F600x de", ("es", 2, 3.0, 0.0, 1.0, 0.5125, 0.5, 1.0, 0.0, 0.0)),
    ("\U00010348\U00010348 \U00010348", ("und", 2, 2.0, 0.0, 1.0,
                                         0.47500000000000003, 0.5, 1.0, 0.0, 0.0)),
]


def test_doc_signals_match_recorded_expression_outputs(spark):
    """Every signal, bit for bit, on the edges where the replaced column
    expressions' semantics live: NULL text (ANSI size(NULL) is NULL),
    empty tokens, marker ties and multi-byte characters. The projections
    keep the old types, nullability and column order."""
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(_RECORDED_SIGNALS)],
        "doc_id long, text string",
    )
    out = text.repetition_stats(text.quality_score(text.lang_id(df)))
    assert [(f.name, f.dataType.simpleString(), f.nullable)
            for f in out.schema.fields] == [
        ("doc_id", "bigint", True), ("text", "string", True),
        ("lang_pred", "string", False), ("n_words", "int", True),
    ] + [(c, "double", True) for c in _SIGNALS[2:]]
    got = {r.doc_id: tuple(r[c] for c in _SIGNALS) for r in out.collect()}
    assert got == {i: want for i, (_, want) in enumerate(_RECORDED_SIGNALS)}
    # the one-pass form gives the same values
    one = {r.doc_id: tuple(r[c] for c in _SIGNALS)
           for r in text.doc_signals(df).collect()}
    assert one == got


def test_doc_signals_replaces_existing_columns_in_place(spark):
    df = spark.createDataFrame(
        [(1, 0.5, "the cat")], "doc_id long, quality double, text string"
    )
    out = text.doc_signals(df, signals=("quality", "lang_pred"))
    assert out.columns == ["doc_id", "quality", "text", "lang_pred"]
    row = out.collect()[0]
    assert (row.quality, row.lang_pred) == (py_signals("the cat")[5], "en")
    with pytest.raises(ValueError, match="unknown signals"):
        text.doc_signals(df, signals=("nope",))


def py_signals(t):
    """Independent reference for text.doc_signals: plain loops over the
    token list, no Counter."""
    if t is None:
        return ("und", None, None, None, None, None, 0.0, 0.0, 0.0, 0.0)
    w = t.split(" ")
    n = len(w)
    scores = {
        lang: sum(1 for x in w if x in markers)
        for lang, markers in text.LANG_MARKERS.items()
    }
    best = max(scores.values())
    lang = "und" if best <= 0 else min(k for k, v in scores.items() if v == best)
    avg = len(t) / n
    sr = sum(1 for x in w if x in text.STOPWORDS) / n
    dr = len(set(w)) / n
    quality = min(avg / 8.0, 1.0) * 0.3 + min(sr * 5.0, 1.0) * 0.3 + dr * 0.4
    rep = py_repetition(t)
    return (lang, n, avg, sr, dr, quality, rep["max_word_frac"],
            rep["top2gram_frac"], rep["top3gram_frac"], rep["dup_word_ratio"])


# ------------------------------- property: repetition mode-scan vs python


from hypothesis import given, settings, strategies as st

_words = st.lists(
    st.sampled_from(["a", "bb", "ccc", "dd", "e", "spam", "x1"]),
    min_size=1,
    max_size=12,
)


@settings(max_examples=5, deadline=None)
@given(batch=st.lists(_words, min_size=1, max_size=20))
def test_repetition_stats_property(spark, batch):
    texts = [" ".join(w) for w in batch]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.doc_id: r.asDict() for r in text.repetition_stats(df).collect()}
    for i, t in enumerate(texts):
        want = py_repetition(t)
        for key, val in want.items():
            assert got[i][key] == pytest.approx(val), (t, key)


_signal_docs = st.lists(
    st.one_of(
        st.none(),
        st.lists(
            st.sampled_from(
                ["the", "a", "la", "de", "der", "le", "et", "el", "de5", "is",
                 "", "spam", "\u00fc", "\U0001F600x", "wörd"]
            ),
            min_size=1,
            max_size=10,
        ).map(" ".join),
    ),
    min_size=1,
    max_size=20,
)


@settings(max_examples=5, deadline=None)
@given(batch=_signal_docs)
def test_doc_signals_property(spark, batch):
    """Every signal equals the pure-Python reference exactly, with NULLs,
    empty tokens, marker ties and astral characters in the mix."""
    df = spark.createDataFrame(
        list(enumerate(batch)), "doc_id long, text string"
    )
    got = {r.doc_id: tuple(r[c] for c in _SIGNALS)
           for r in text.doc_signals(df).collect()}
    assert got == {i: py_signals(t) for i, t in enumerate(batch)}


def test_minhash_drop_set_equals_pairwise_drop_set(spark, docs):
    pairs = dedup.minhash_verified_pairs(
        docs, num_hashes=32, bands=8, k=1, threshold=0.9
    )
    want = {r.id_b for r in pairs.select("id_b").distinct().collect()}
    got = {
        r.doc_id
        for r in dedup.minhash_drop_set(
            docs, num_hashes=32, bands=8, k=1, threshold=0.9
        ).collect()
    }
    assert got == want and len(want) > 0


def test_verified_pairs_fused_equals_lazy(spark, docs):
    """r14 (VERDICT_r13 item 3): the fused per-doc route of
    minhash_verified_pairs must be BIT-identical to the lazy two-pass
    shape — same candidate set (same _h64 long buckets + band-0
    pre-dedup), same exact-Jaccard doubles — on the docs fixture, on a
    planted exact-duplicate cluster, and on the adversarial frame. The
    auto dispatch must keep small inputs on the lazy route (no
    construction-time checkpoint job), and fused=True must reject
    non-long ids."""
    dup = docs.limit(4).withColumn("doc_id", F.col("doc_id") + 10_000)
    planted = docs.unionByName(dup)
    adversarial = spark.createDataFrame(
        [
            (1, ""),
            (2, " "),
            (3, "a  b "),
            (4, "héllo wörld héllo"),
            (5, "x x x"),
            (6, None),
            (7, "one two three four five"),
            (8, "one"),
            (9, "one two three four five"),  # exact dup of 7
        ],
        "doc_id long, text string",
    )
    for frame, kw in (
        (docs, dict(num_hashes=16, bands=8, k=1, threshold=0.5)),
        (planted, dict(num_hashes=32, bands=8, k=1, threshold=0.9)),
        (adversarial, dict(num_hashes=16, bands=4, k=1, threshold=0.5)),
    ):
        lazy = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in dedup.minhash_verified_pairs(
                frame, fused=False, **kw
            ).collect()
        )
        fused = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in dedup.minhash_verified_pairs(
                frame, fused=True, **kw
            ).collect()
        )
        assert fused == lazy and len(lazy) > 0
    # auto dispatch: a tiny input's Catalyst size estimate is far below
    # the cutover, so the plan must stay lazy (no checkpointed
    # LogicalRDD from a construction-time job)
    auto = dedup.minhash_verified_pairs(docs)
    assert "LogicalRDD" not in auto._jdf.queryExecution().optimizedPlan().toString()
    # forced fused on a non-long id column is a contract error
    sdocs = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    with pytest.raises(ValueError, match="long-typed id.*'doc_id' is string"):
        dedup.minhash_verified_pairs(sdocs, fused=True)


def _adversarial_docs(spark):
    """Empty text, leading/trailing/double spaces incl. empty tokens,
    unicode, duplicate tokens, NULL text, fewer-than-k tokens, and
    exact-duplicate texts plus shared vocabulary, which exercise the
    Arrow arm's text and gram memos."""
    return spark.createDataFrame(
        [
            (1, ""),
            (2, " "),
            (3, "a  b "),
            (4, "héllo wörld héllo"),
            (5, "x x x"),
            (6, None),
            (7, "one two three four five"),
            (8, "one"),
            (9, "same exact duplicate text"),
            (10, "same exact duplicate text"),
            (11, "same exact duplicate text"),
            (12, "duplicate exact same text"),  # same k=1 set, other order
        ],
        "doc_id long, text string",
    )


def _sorted_rows(df):
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    )


def test_drop_set_bucket_dtypes(spark, docs):
    """The drop set's per-doc frame carries LONG buckets (8 bytes
    through every (band, bucket) exchange) on both arms, with exactly
    (id, __buckets, __sh), while the public minhash_index keeps the
    md5-hex STRING bucket — a materialized, engine-portable index
    schema."""
    from pyspark.sql import types as T

    for impl in ("arrow", "expr"):
        perdoc = dedup._perdoc_bands(
            docs, "text", "doc_id", 16, 4, 1, with_shingles=True, impl=impl
        )
        assert perdoc.columns == ["doc_id", "__buckets", "__sh"], impl
        assert isinstance(
            perdoc.schema["__buckets"].dataType.elementType, T.LongType
        ), impl
    idx = dedup.minhash_index(docs)
    assert idx.columns == ["doc_id", "band", "bucket"]
    assert isinstance(idx.schema["bucket"].dataType, T.StringType)


def test_banded_arrow_equals_expr(spark, docs):
    """The banding builder's Arrow arm must be BIT-identical to its
    expression arm — same md5 base hashes, same int64 permutation mins,
    same band-slice decimal rendering, same bucket hash — for hex, long
    and long + shingles buckets at k=1/k=3, on the docs fixture and on
    the adversarial frame."""
    for frame in (docs, _adversarial_docs(spark)):
        for k in (1, 3):
            for kw in (dict(hex_buckets=True), {}, dict(with_shingles=True)):
                a = _sorted_rows(dedup._perdoc_bands(
                    frame, "text", "doc_id", 16, 4, k, impl="arrow", **kw
                ))
                e = _sorted_rows(dedup._perdoc_bands(
                    frame, "text", "doc_id", 16, 4, k, impl="expr", **kw
                ))
                assert a == e and len(a) > 0, (k, kw)


def test_banded_sig_key_parity_and_semantics(spark):
    """The per-doc bucket array is a signature identity on both arms:
    equal for identical shingle sets regardless of token order /
    duplication (k=1), distinct for different sets, and the same
    doc-for-doc across the arms."""
    frame = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "gamma alpha beta alpha"),  # same k=1 shingle set as 1
            (3, "alpha beta delta"),  # different set
        ],
        "doc_id long, text string",
    )
    got = {}
    for impl in ("arrow", "expr"):
        got[impl] = {
            r["doc_id"]: tuple(r["__buckets"])
            for r in dedup._perdoc_bands(
                frame, "text", "doc_id", 16, 4, 1, impl=impl
            ).collect()
        }
        keys = got[impl]
        assert keys[1] == keys[2] != keys[3], impl
    assert got["arrow"] == got["expr"]


def test_banded_perdoc_fused_layout_parity(spark, docs):
    """The per-doc frame must carry exactly the information of the
    exploded band rows and the shingle sets: ``_band_rows`` gives
    ``bands`` rows per doc whose buckets are ``__buckets`` in band
    order, and ``__sh`` is the sorted ``shingles_col`` set doc-for-doc
    (sorted is safe: every drop-set consumer is order-insensitive).
    Checked on both arms, so the memoized Arrow paths the adversarial
    frame exercises agree with the memo-free expression arm."""
    for frame in (docs, _adversarial_docs(spark)):
        for k in (1, 3):
            want_sh = {
                r["doc_id"]: sorted(r["s"])
                for r in frame.select(
                    "doc_id", dedup.shingles_col("text", k).alias("s")
                ).collect()
                if r["s"] is not None and len(r["s"]) > 0
            }
            for impl in ("arrow", "expr"):
                perdoc = dedup._perdoc_bands(
                    frame, "text", "doc_id", 16, 4, k,
                    with_shingles=True, impl=impl,
                )
                got = perdoc.collect()
                assert {r["doc_id"]: list(r["__sh"]) for r in got} == want_sh
                exploded = {
                    tuple(r) for r in dedup._band_rows(perdoc).collect()
                }
                want = {
                    (r["doc_id"], band, bucket)
                    for r in got
                    for band, bucket in enumerate(r["__buckets"])
                }
                assert exploded == want and len(want) == 4 * len(got), impl


def test_banded_non_long_id_falls_back_to_expr(spark):
    """A string id column must route to the expression arm (the Arrow
    arm requires int64 ids) and still band correctly."""
    df = spark.createDataFrame(
        [("a", "x y z"), ("b", "x y z")], "doc_id string, text string"
    )
    rows = dedup._band_rows(
        dedup._perdoc_bands(df, "text", "doc_id", 8, 4, 1)
    ).collect()
    assert {r.doc_id for r in rows} == {"a", "b"}
    assert len(rows) == 8  # 2 docs × 4 bands


def test_minhash_drop_set_exact_duplicates(spark):
    """Exact-duplicate copies drop and their earliest copy stays, on a
    corpus where every candidate is an exact duplicate."""
    df = spark.createDataFrame(
        [(i, f"w{i}a w{i}b w{i}c") for i in range(6)]
        + [(100 + i, f"w{i}a w{i}b w{i}c") for i in range(3)],
        "doc_id long, text string",
    )
    drops = dedup.minhash_drop_set(df, num_hashes=8, bands=4, k=1)
    got = {r.doc_id for r in drops.collect()}
    drops.unpersist()
    assert got == {100, 101, 102}


def test_minhash_drop_set_planted_cluster_and_lookalikes(spark):
    """A planted cluster of docs with one token set in rotated orders
    (k=1 Jaccard 1.0) drops every member but the earliest. Unique docs
    stay, and so do look-alikes sharing 8 of the cluster's 12 tokens:
    Jaccard 0.5 collides in some bands but never verifies at 0.9."""
    template = [f"tok{i}" for i in range(12)]
    m = 20
    rows = [
        (i, " ".join(template[(i + j) % 12] for j in range(12)))
        for i in range(m)
    ]
    rows += [
        (m + i, " ".join(f"u{j}_{i}" for j in range(12))) for i in range(20)
    ]
    rows += [
        (1000 + i, " ".join(template[:8] + [f"la{j}_{i}" for j in range(4)]))
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    drops = dedup.minhash_drop_set(
        df, num_hashes=32, bands=8, k=1, threshold=0.9
    )
    got = {r.doc_id for r in drops.collect()}
    drops.unpersist()
    assert got == set(range(1, m))


def test_minhash_drop_set_string_ids(spark):
    """Non-long id columns route through the expression banding twin
    and the walk: the drop set keeps the input's id type, and a
    near-duplicate that does not verify stays."""
    from pyspark.sql import types as T

    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    df = spark.createDataFrame(
        [
            ("a", "x y z w"),
            ("b", "x y z w"),
            ("c", "p q r s"),
            ("d", base),
            ("e", base + " extra1"),  # J = 10/11 with d
        ],
        "doc_id string, text string",
    )
    for threshold, want in ((0.9, {"b", "e"}), (0.95, {"b"})):
        drops = dedup.minhash_drop_set(
            df, num_hashes=8, bands=4, k=1, threshold=threshold
        )
        assert isinstance(drops.schema["doc_id"].dataType, T.StringType)
        got = {r.doc_id for r in drops.collect()}
        drops.unpersist()
        assert got == want, threshold


def _keep_earliest_drops(ids, shs, threshold):
    """Brute-force reference of one bucket: ids with an earlier member
    whose Jaccard (integer |∩|/|∪| double, 0 on an empty union) is at
    least ``threshold``."""
    want = []
    for pos, b in enumerate(ids):
        sb = set(shs[pos])
        for sa in map(set, shs[:pos]):
            inter = len(sa & sb)
            union = len(sa) + len(sb) - inter
            if union > 0 and inter / union >= threshold:
                want.append(b)
                break
    return want


@given(
    data=st.lists(
        st.tuples(
            st.integers(-50, 50),  # id (negative ids included)
            st.sets(st.sampled_from("abcdefgh"), max_size=6),  # shingles
        ),
        min_size=0,
        max_size=12,
        unique_by=lambda d: d[0],
    ),
    threshold=st.sampled_from([0.07, 0.3, 0.5, 0.8, 0.9, 1.0]),
)
def test_bucket_verify_group_property(data, threshold):
    """The bucket walk's per-bucket core (pure Python, no Spark) must
    equal brute-force keep-earliest on arbitrary bucket contents: the
    tiny token universe ('a'..'h') forces heavy overlap, identical sets,
    empty sets and near-misses; ids are negative as well as positive."""
    data = sorted(data)
    ids = [d[0] for d in data]
    shs = [sorted(d[1]) for d in data]
    got = sorted(dedup._bucket_verify_group(ids, shs, threshold))
    assert got == sorted(_keep_earliest_drops(ids, shs, threshold)), (
        data, threshold,
    )


def test_bucket_verify_group_identical_and_empty_sets():
    """Identical non-empty sets drop with J = 1; identical EMPTY sets
    never verify (empty union); the earliest copy always stays."""
    shs = [["a", "b"], [], ["a", "b"], [], ["b", "a"], ["c"]]
    ids = [-3, -1, 0, 2, 5, 9]
    assert dedup._bucket_verify_group(ids, shs, 0.9) == [0, 5]
    assert dedup._bucket_verify_group(ids, shs, 0.9) == _keep_earliest_drops(
        ids, shs, 0.9
    )


def test_bucket_verify_group_prefix_boundary_sweep():
    """Deterministic sweep over the double-rounding boundary classes:
    every (threshold, union size) where the true Jaccard (⌈t·n⌉−1)/n
    sits BELOW t yet rounds up to the t double — i.e. the verify accepts
    a pair whose intersection is one below the prefix proof's integer
    minimum. For each such class, build the minimal witness (rep = the
    shared tokens, later doc = shared + unique filler, shared tokens
    ranked last by local frequency) behind an unrelated bucket-min doc,
    so only the prefix probe — not the bucket-min check — can find it,
    and require the slacked prefix to catch the drop. The hypothesis
    property test cannot reach these (its sets are ≤6 tokens)."""
    import math

    cases = 0
    for n in (20, 25, 40, 50, 75, 100, 125, 200):
        for t in (0.07, 0.11, 0.13, 0.14, 0.21, 0.28, 0.56, 0.9):
            # One below the integer minimum the unslacked prefix proof
            # assumed; the witness is a boundary case exactly when the
            # double-space verify still accepts inter/n >= t.
            inter = math.ceil(t * n) - 1
            if inter < 1 or not (inter / n >= t):
                continue
            shared = [f"s{i}" for i in range(inter)]
            unique = [f"u{i}" for i in range(n - inter)]
            got = dedup._bucket_verify_group(
                [0, 1, 2],
                [["z"], sorted(shared), sorted(shared + unique)],
                t,
            )
            assert got == [2], (t, n, inter)
            cases += 1
    assert cases >= 3  # the sweep actually exercised boundary classes


def test_bucket_verify_group_prefix_boundary():
    """ADVICE r8 (medium): the verify accepts inter/union >= threshold in
    DOUBLE space, so at threshold=0.07 a 7-token set that is a subset of
    a 100-token later doc verifies (7/100 rounds to the 0.07 double),
    yet the UNSLACKED prefix p = n - ceil(t*n) + 1 = 93 excludes all 7
    shared tokens (they rank last — local frequency 2 vs 1 for the 93
    unique tokens), silently missing the drop. The slacked prefix
    ceil(t*n - 1e-9) admits it. The bucket min (id 0) shares nothing,
    so the bucket-min check cannot stand in for the prefix probe."""
    shared = [f"s{i}" for i in range(7)]
    unique = [f"u{i}" for i in range(93)]
    shs = [["z"], sorted(shared), sorted(shared + unique)]
    assert dedup._bucket_verify_group([0, 1, 2], shs, 0.07) == [2]
    # sanity: the pair really does verify in double space
    assert 7 / 100 >= 0.07


def _verified_drop_set(docs, **kw):
    pairs = dedup.minhash_verified_pairs(docs, **kw)
    return {r.id_b for r in pairs.select("id_b").distinct().collect()}


def test_drop_set_local_carryover_across_arrow_batches(spark, docs):
    """The bucket-local walk runs over sorted (band, bucket) runs across
    Arrow batch boundaries; a bucket straddling two batches must still
    verify as ONE bucket. Force tiny batches so nearly every bucket
    straddles, and pin the result against the pairwise drop set."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    kw = dict(num_hashes=8, bands=4, k=1, threshold=0.5)
    try:
        spark.conf.set(key, "3")
        drops = dedup.minhash_drop_set(docs, **kw)
        got = {r.doc_id for r in drops.collect()}
        drops.unpersist()
    finally:
        spark.conf.set(key, old)
    want = _verified_drop_set(docs, **kw)
    assert got == want and len(want) > 0


def test_minhash_drop_set_walk_equals_verified_pairs_low_threshold(spark, docs):
    """Under a low threshold and few hashes (many LSH collisions, most
    of them sub-threshold look-alikes) the walk returns EXACTLY the
    pairwise drop set."""
    kw = dict(num_hashes=8, bands=4, k=1, threshold=0.5)
    drops = dedup.minhash_drop_set(docs, **kw)
    got = {r.doc_id for r in drops.collect()}
    drops.unpersist()
    want = _verified_drop_set(docs, **kw)
    assert got == want and len(want) > 0


def test_minhash_drop_set_job_count(spark, docs):
    """Job-count pin: banding plus one bucket walk stays within 12 Spark
    jobs (11 on this fixture), counted through a job group."""
    sc = spark.sparkContext
    group = "test_minhash_drop_set_job_count"
    sc.setJobGroup(group, group)
    try:
        drops = dedup.minhash_drop_set(
            docs, num_hashes=32, bands=8, k=1, threshold=0.9
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    drops.unpersist()
    assert 0 < n_jobs <= 12, n_jobs


def test_contamination_matches_duckdb_oracle(spark, docs):
    """Cross-engine pin: the gram-hash semi-join must produce exactly the
    doc_id -> n_hits map a direct string-overlap computation gives (the
    md5-60bit hash is injective on any realistic gram set)."""
    import duckdb

    k = 8
    rows = docs.select("doc_id", "text").orderBy("doc_id").limit(60).collect()
    pdf = __import__("pandas").DataFrame(
        [(r.doc_id, r.text) for r in rows], columns=["doc_id", "text"]
    )
    bench_rows = []
    for j, r in enumerate(rows[:8]):
        w = r.text.split(" ")
        if len(w) >= k + 2:
            bench_rows.append((j, " ".join(w[1 : 1 + k])))
    bench_pdf = __import__("pandas").DataFrame(
        bench_rows, columns=["qid", "text"]
    )

    sdocs = spark.createDataFrame(pdf)
    sbench = spark.createDataFrame(bench_pdf)
    got = {
        r.doc_id: r.n_hits
        for r in dedup.contamination_flags(sdocs, sbench, k=k).collect()
    }

    con = duckdb.connect()
    con.register("docs", pdf)
    con.register("bench", bench_pdf)
    want = {
        int(r[0]): int(r[1])
        for r in con.execute(
            """
            WITH dg AS (
              SELECT DISTINCT doc_id, unnest(
                [array_to_string(w[i:i+7], ' ') for i in range(1, len(w)-6)]
              ) AS gram
              FROM (SELECT doc_id, string_split(text, ' ') AS w FROM docs)
              WHERE len(w) >= 8
            ), bg AS (
              SELECT DISTINCT unnest(
                [array_to_string(w[i:i+7], ' ') for i in range(1, len(w)-6)]
              ) AS gram
              FROM (SELECT string_split(text, ' ') AS w FROM bench)
              WHERE len(w) >= 8
            )
            SELECT doc_id, COUNT(*) AS n_hits
            FROM dg JOIN bg USING (gram)
            GROUP BY doc_id
            """
        ).fetchall()
    }
    assert got == want and len(want) > 0


def test_srp_signature_empty_input_raises(spark):
    from pyspark.sql import types as T

    empty = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    with pytest.raises(ValueError, match="no rows"):
        similarity.srp_signature(empty)


def test_srp_signature_dim_param_launches_no_job(spark, vecs_with_dups):
    """With ``dim`` given (argument or schema metadata) plan construction
    must not run a Spark job — proven on an EMPTY input, where the
    ``first()`` fallback would raise: plan construction succeeds and the
    bits match the inferred-dim path on real data."""
    from pyspark.sql import types as T

    empty = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    assert similarity.srp_signature(empty, dim=8).count() == 0

    dim = len(vecs_with_dups.select("embedding").first()[0])
    explicit = {
        r.vec_id: list(r.srp_bits)
        for r in similarity.srp_signature(vecs_with_dups, dim=dim).collect()
    }
    inferred = {
        r.vec_id: list(r.srp_bits)
        for r in similarity.srp_signature(vecs_with_dups).collect()
    }
    assert explicit == inferred

    # Schema-metadata route: a `dim` key on the vector column works too.
    tagged = vecs_with_dups.withMetadata("embedding", {"dim": dim})
    empty_tagged = empty.withMetadata("embedding", {"dim": 8})
    assert similarity.srp_signature(empty_tagged).count() == 0
    via_meta = {
        r.vec_id: list(r.srp_bits)
        for r in similarity.srp_signature(tagged).collect()
    }
    assert via_meta == inferred


def test_minhash_drop_set_releases_caches(spark, docs):
    """The drop set is returned materialized; its heavyweight
    intermediates (banded signatures, first-candidate verifies) must be
    unpersisted before return so long sessions don't accumulate executor
    cache across invocations."""
    jsc = spark.sparkContext._jsc.sc()
    n_before = jsc.getPersistentRDDs().size()
    drops = dedup.minhash_drop_set(docs, num_hashes=8, bands=4)
    n_after = jsc.getPersistentRDDs().size()
    # exactly one new persisted plan: the returned drop set itself
    assert n_after - n_before <= 1
    drops.unpersist()


def test_drop_set_class_key_immune_to_separator_tokens(spark):
    """Docs whose tokens contain would-be separator bytes must not merge
    into one shingle class: 'a\\x1fb' (one token) and 'a b' (two tokens)
    have different shingle sets, and a near-dup of the latter must still
    drop via its class rep."""
    rows = [
        (0, "a\x1fb"),          # single weird token
        (1, "a b"),              # two tokens — different class than 0
        (2, "a b"),              # exact dup of 1 → must drop
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    drops = dedup.minhash_drop_set(df, num_hashes=16, bands=4, k=1, threshold=0.9)
    got = sorted(r["doc_id"] for r in drops.collect())
    drops.unpersist()
    assert got == [2], got


def test_tfidf_top_terms_log_variant(spark):
    """The production log-idf variant: a term unique to one doc must
    outrank corpus-wide terms, scores decrease with rank, and the
    rational variant agrees on tf/df bookkeeping."""
    rows = [
        (0, "shared shared shared zebra"),
        (1, "shared common words here"),
        (2, "shared common words there"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.tfidf_top_terms(df, k=2, idf="log")
    got = {(r.doc_id, r.rank): r for r in out.collect()}
    # doc 0: 'shared' has tf=3 but df=3; 'zebra' tf=1 df=1.
    # log idf: shared = 3*(ln(4/4)+1)=3.0; zebra = 1*(ln(4/2)+1)≈1.69.
    assert got[(0, 1)].term == "shared" and got[(0, 1)].score == pytest.approx(3.0)
    assert got[(0, 2)].term == "zebra"
    assert got[(0, 1)].score > got[(0, 2)].score
    # every doc got exactly k=2 ranked rows, ranks contiguous from 1
    for d in (0, 1, 2):
        assert {(r) for (doc, r) in got if doc == d} == {1, 2}
    # bookkeeping identical between variants (same tf/df, scores differ)
    rat = {
        (r.doc_id, r.term): (r.tf, r.n_docs_with_term)
        for r in text.tfidf_top_terms(df, k=4, idf="rational").collect()
    }
    assert rat[(0, "zebra")] == (1, 1)
    assert rat[(0, "shared")] == (3, 3)
    with pytest.raises(ValueError):
        text.tfidf_top_terms(df, idf="nope")


def test_incremental_near_dups_equals_cross_pairs(spark, docs):
    """Probing the corpus index finds exactly the cross-side pairs the
    full-corpus verified join finds (same banding recall argument), and
    a supplied index skips banding the corpus entirely."""
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    got = {
        (r.id_new, r.id_corpus, r.jaccard)
        for r in dedup.incremental_near_dups(
            new, corpus, num_hashes=64, bands=16, k=1, threshold=0.9
        ).collect()
    }
    full = dedup.minhash_verified_pairs(
        docs, num_hashes=64, bands=16, k=1, threshold=0.9
    )
    expect = {
        (r.id_a, r.id_b, r.jaccard) if r.id_a % 2 == 1 else (r.id_b, r.id_a, r.jaccard)
        for r in full.collect()
        if r.id_a % 2 != r.id_b % 2  # cross pairs only
    }
    assert got == expect and got, f"{len(got)} vs {len(expect)}"

    # with a prebuilt index, only the NEW side is banded
    calls = []
    orig = dedup._perdoc_bands

    def counting(df, *a, **kw):
        calls.append(df)
        return orig(df, *a, **kw)

    index = dedup.minhash_index(corpus, num_hashes=64, bands=16, k=1)
    try:
        dedup._perdoc_bands = counting
        again = dedup.incremental_near_dups(
            new, corpus, num_hashes=64, bands=16, k=1, threshold=0.9,
            corpus_index=index,
        )
        got2 = {(r.id_new, r.id_corpus, r.jaccard) for r in again.collect()}
    finally:
        dedup._perdoc_bands = orig
    assert got2 == expect
    assert len(calls) == 1, "corpus must not be re-banded when index is supplied"


def test_quantize_embeddings_bounds_and_zero_vector(spark):
    from lakeshack_spark.operators import similarity

    rows = [
        (0, [1.0, -2.0, 0.5]),
        (1, [0.0, 0.0, 0.0]),        # zero vector: codes 0, scale 0
        (2, [-1e-30, 1e-30, 0.0]),   # tiny amax: still finite codes
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r for r in similarity.quantize_embeddings(df).collect()}
    assert got[1].codes == [0, 0, 0] and got[1].scale == 0.0
    for r in got.values():
        assert all(-127 <= c <= 127 for c in r.codes)
        xs = [float(x) for x in r.embedding]
        for c, x in zip(r.codes, xs):
            assert abs(c * r.scale - x) <= 2 * r.scale + 1e-300
    # the max-magnitude (negative) element clamps exactly at -qmax
    assert got[0].codes[1] == -127


def test_check_expectations_detects_violations(spark):
    from lakeshack_spark.operators import quality
    from lakeshack_spark.plans import explain_str

    rows = [
        (1, 10.0, "A"),
        (1, -5.0, "B"),     # duplicate key, negative value
        (2, 3.0, None),     # null category
        (None, 1.0, "A"),   # null key
    ]
    df = spark.createDataFrame(rows, "k long, v double, cat string")
    out = quality.check_expectations(
        df,
        [
            quality.expect.not_null("k"),
            quality.expect.unique("k"),
            quality.expect.non_negative("v"),
            quality.expect.isin("cat", ["A", "B"]),
            quality.expect.max_null_fraction("cat", 0.5),
            quality.expect.min_rows(10),
        ],
    )
    got = {r.constraint: (r.passed, r.observed) for r in out.collect()}
    assert got["not_null(k)"] == (False, 1)
    assert got["unique(k)"] == (False, 1)          # 3 non-null, 2 distinct
    assert got["non_negative(v)"] == (False, 1)
    # NULL cat: `cat NOT IN (...)` is NULL, not TRUE -> not counted as a
    # set violation (it is the null-fraction constraint's job)
    assert got["isin(cat,A,B)"] == (True, 0)
    assert got["max_null_fraction(cat,0.5)"] == (True, 1)
    assert got["min_rows(10)"] == (False, 4)
    # the whole suite is ONE aggregation pass: a single scan leaf in the
    # final plan tree (cut the AQE initial-plan copy and the details
    # section, both of which repeat node names)
    tree = explain_str(out).split("== Initial Plan ==")[0]
    assert tree.count("Scan") == 1, tree


def test_project_embeddings_matches_python_fold(spark):
    from lakeshack_spark.operators import similarity

    rows = [(0, [1.0, -2.0, 0.25, 4.0]), (1, [0.0, 0.5, -0.5, 1.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r.vec_id: [r.proj_0, r.proj_1]
        for r in similarity.project_embeddings(df, out_dim=2, dim=4).collect()
    }
    mat = similarity.projection_matrix(2, 4)
    assert mat == similarity.projection_matrix(2, 4)  # deterministic
    assert all(abs(abs(e) - 1 / 2**0.5) < 1e-15 for row in mat for e in row)
    for vid, vec in rows:
        xs = [float(x) for x in (spark.createDataFrame([(vec,)], "v array<float>")
                                 .select(F.col("v").cast("array<double>"))
                                 .first()[0])]
        for j in range(2):
            acc = 0.0
            for x, m in zip(xs, mat[j]):
                acc += x * m
            assert out[vid][j] == acc, (vid, j)

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError):
        similarity.project_embeddings(empty, out_dim=2)


def test_check_expectations_empty_table_gives_verdicts(spark):
    """SUM over zero rows is NULL — an empty table must still yield real
    booleans: trivial constraints pass, min_rows fails."""
    from lakeshack_spark.operators import quality

    empty = spark.createDataFrame([], "k long, v double")
    got = {
        r.constraint: (r.passed, r.observed)
        for r in quality.check_expectations(
            empty,
            [
                quality.expect.not_null("k"),
                quality.expect.non_negative("v"),
                quality.expect.min_rows(1),
            ],
        ).collect()
    }
    assert got["not_null(k)"] == (True, 0)
    assert got["non_negative(v)"] == (True, 0)
    assert got["min_rows(1)"] == (False, 0)


def test_incremental_near_dups_drops_self_pairs(spark, docs):
    """Probing a corpus against an index of ITSELF (the replayed-batch
    overlap case) must never emit id_new == id_corpus rows."""
    index = dedup.minhash_index(docs, num_hashes=64, bands=16, k=1)
    out = dedup.incremental_near_dups(
        docs, docs, num_hashes=64, bands=16, k=1, corpus_index=index
    )
    assert out.filter(F.col("id_new") == F.col("id_corpus")).count() == 0
    # symmetric cross pairs still reported (both orientations of a dup)
    rows = {(r.id_new, r.id_corpus) for r in out.collect()}
    assert rows and all((b, a) in rows for (a, b) in rows)


def test_pack_token_windows_offsets_and_partition_invariance(spark):
    from lakeshack_spark.operators.packing import pack_token_windows

    rows = [
        (0, "a b c"),          # 3 tokens, offset 0, chunks 0-0
        (1, None),             # 0 tokens, offset 3, no chunk
        (2, "d e f g"),        # 4 tokens, offset 3, spans chunk 0-1 (w=4)
        (3, ""),               # "" splits to 1 empty token, offset 7
        (4, "h i"),            # offset 8, chunk 2-2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def run(np_):
        out = pack_token_windows(df, window=4, n_partitions=np_)
        return {
            r.doc_id: (r.n_tokens, r.start_offset, r.chunk_first, r.chunk_last)
            for r in out.collect()
        }

    got = run(2)
    assert got[0] == (3, 0, 0, 0)
    assert got[1] == (0, 3, None, None)
    assert got[2] == (4, 3, 0, 1)
    assert got[3] == (1, 7, 1, 1)
    assert got[4] == (2, 8, 2, 2)
    # the two-pass decomposition is partition-count invariant
    assert run(1) == got == run(5)

    with pytest.raises(ValueError):
        pack_token_windows(df, window=0)


def test_robust_outlier_stats(spark):
    """Median/MAD/outlier counts vs hand-computed values; median and MAD
    interpolate exactly on integer inputs."""
    from lakeshack_spark.operators import quality

    rows = (
        # group a: 1..8 plus one huge outlier
        [("a", v) for v in (1, 2, 3, 4, 5, 6, 7, 8, 1000)]
        # group b: constant → mad 0, any deviation is an outlier
        + [("b", 5), ("b", 5), ("b", 5), ("b", 9)]
    )
    df = spark.createDataFrame(rows, "grp string, v long")
    got = {
        r.grp: (r.n, r.med, r.mad, r.n_outliers)
        for r in quality.robust_outlier_stats(df, "grp", "v").collect()
    }
    # a: med=5 (9 values), |dev| = 4,3,2,1,0,1,2,3,995 → mad=2
    #    threshold 4.4478*2 = 8.8956 → only 995 exceeds
    assert got["a"] == (9, 5.0, 2.0, 1)
    # b: med=5, devs 0,0,0,4 → mad=0 → threshold 0 → the 9 is an outlier
    assert got["b"] == (4, 5.0, 0.0, 1)
    # even-count interpolation is exact: group of 1,2 → med 1.5
    df2 = spark.createDataFrame([("c", 1), ("c", 2)], "grp string, v long")
    r2 = quality.robust_outlier_stats(df2, "grp", "v").collect()[0]
    assert (r2.med, r2.mad) == (1.5, 0.5)


def test_kmeans_update_means_and_empty_cells(spark):
    """One Lloyd iteration: member means per cell, empty cells keep
    their previous centroid with n_members=0."""
    from lakeshack_spark.operators import similarity

    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [0.1, 0.9]),
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, 0.0])],
        "centroid_id long, centroid array<double>",
    )
    out = {
        r.centroid_id: (list(r.centroid), r.n_members)
        for r in similarity.kmeans_update(vecs, cents).collect()
    }
    assert out[0] == ([0.95, 0.05], 2)
    assert out[1] == ([0.05, 0.95], 2)
    assert out[2] == ([-1.0, 0.0], 0)


def test_cell_means_exact_on_int_codes(spark):
    from lakeshack_spark.operators import similarity

    df = spark.createDataFrame(
        [(0, [1, 2]), (0, [3, 5]), (1, [10, 20])],
        "cell long, codes array<int>",
    )
    got = {
        (r.cell, r.dim): (r.n_members, r.sum_val, r.mean_val)
        for r in similarity.cell_means(df).collect()
    }
    assert got[(0, 0)] == (2, 4, 2.0)
    assert got[(0, 1)] == (2, 7, 3.5)
    assert got[(1, 1)] == (1, 20, 20.0)


def test_term_lift_by_group(spark):
    """Lift = in-group frequency over corpus frequency, exact division;
    min_group_count bounds the output."""
    rows = [
        ("a", "x x x x y"),   # group a: 4 x, 1 y   (T_a=5)
        ("b", "y y y y x"),   # group b: 4 y, 1 x   (T_b=5)
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {
        (r.source, r.term): (r.n_in_group, r.n_in_corpus, r.lift)
        for r in text.term_lift_by_group(df, min_group_count=1).collect()
    }
    # corpus: T=10, x:5, y:5 → lift(a,x) = (4*10)/(5*5) = 1.6
    assert out[("a", "x")] == (4, 5, 1.6)
    assert out[("a", "y")] == (1, 5, 0.4)
    assert out[("b", "y")] == (4, 5, 1.6)
    # min_group_count prunes
    pruned = {
        (r.source, r.term)
        for r in text.term_lift_by_group(df, min_group_count=4).collect()
    }
    assert pruned == {("a", "x"), ("b", "y")}


def test_chunk_tokens_windows_and_overlap(spark):
    """Disjoint and sliding chunking: offsets, clamped lengths, text."""
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x"), (3, None)], "doc_id long, text string"
    )
    out = {
        (r.doc_id, r.chunk_id): (r.chunk_start, r.n_chunk_tokens, r.chunk_text)
        for r in text.chunk_tokens(df, window=2, stride=2).collect()
    }
    assert out[(1, 0)] == (0, 2, "a b")
    assert out[(1, 1)] == (2, 2, "c d")
    assert out[(1, 2)] == (4, 1, "e")  # final chunk clamps
    assert out[(2, 0)] == (0, 1, "x")
    assert not any(d == 3 for d, _ in out)  # NULL text emits no chunks
    # 50% overlap
    ov = {
        (r.doc_id, r.chunk_id): r.chunk_text
        for r in text.chunk_tokens(df, window=4, stride=2).collect()
    }
    assert ov[(1, 0)] == "a b c d"
    assert ov[(1, 1)] == "c d e"
    assert ov[(1, 2)] == "e"
    with pytest.raises(ValueError):
        text.chunk_tokens(df, window=2, stride=3)
    with pytest.raises(ValueError):
        text.chunk_tokens(df, window=0)


def test_ngram_containment_asymmetric(spark):
    """A short doc fully inside a long one: containment 1.0 one way,
    partial the other, while Jaccard stays low."""
    rows = [
        (1, "a b c d e f g h i j k l"),   # host
        (2, "a b c d"),                   # fully-contained quote
        (3, "x y z"),                     # unrelated
        (4, None),                        # NULL text: guarded, c = 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.id_a, r.id_b): (r.containment_a_in_b, r.containment_b_in_a)
        for r in dedup.ngram_containment_pairs(df, k=2).collect()
    }
    # quote (3 bigram shingles: ab,bc,cd) fully inside host (11 shingles)
    assert out[(1, 2)] == (3 / 11, 1.0)
    assert out[(1, 3)] == (0.0, 0.0)
    assert out[(1, 4)] == (0.0, 0.0)
    # threshold keeps only the contained pair
    kept = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_containment_pairs(df, k=2, threshold=0.9).collect()
    }
    assert kept == {(1, 2)}
    # jaccard on the same pair is low — the asymmetry is the point
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(df, k=2).collect()
    }
    assert jac[(1, 2)] == 3 / 11


# ------------------------------------------------- repeated passages


def test_repeated_passages_shared_span_and_coverage(spark):
    """Two docs sharing one 8-token run: exactly one flagged gram each,
    8 covered tokens; the unrelated doc stays clean."""
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l"),
            (2, "a b c d e f g h x y z w"),
            (3, "q r s t u v w x y z aa bb"),
        ],
        ["doc_id", "text"],
    )
    from lakeshack_spark.operators import text

    out = {
        r.doc_id: r
        for r in text.repeated_passage_stats(df, k=8, min_docs=2).collect()
    }
    assert out[1].n_dup_grams == 1 and out[1].dup_tokens == 8
    assert out[2].n_dup_grams == 1 and out[2].dup_tokens == 8
    assert out[3].n_dup_grams == 0 and out[3].dup_tokens == 0
    assert out[3].dup_frac == 0.0


def test_repeated_passages_hot_quote_closed_form(spark):
    """One quote shared by every 4th doc (a hot gram posting) over bodies
    of per-doc-disjoint vocabulary: each quote doc's covered span is
    exactly the quote, and every other doc stays clean."""
    from lakeshack_spark.operators import text

    n, body, every = 40, 12, 4
    quote = " ".join(f"qt{j}" for j in range(10))
    rows = []
    for i in range(n):
        txt = " ".join(f"d{j}_{i}" for j in range(body))
        rows.append((i, f"{txt} {quote}" if i % every == 0 else txt))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.dup_tokens)
        for r in text.repeated_passage_stats(df, k=8).collect()
    }
    assert got == {
        i: (body + 10, 10) if i % every == 0 else (body, 0) for i in range(n)
    }


def test_repeated_passages_overlapping_grams_count_tokens_once(spark):
    """A 10-token shared run yields 3 overlapping 8-grams but covers
    exactly 10 tokens — the interval-union fold must not double count."""
    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    df = spark.createDataFrame(
        [(1, shared + " t1 t2"), (2, shared + " u1 u2")],
        ["doc_id", "text"],
    )
    from lakeshack_spark.operators import text

    out = {
        r.doc_id: r
        for r in text.repeated_passage_stats(df, k=8, min_docs=2).collect()
    }
    assert out[1].n_dup_grams == 3 and out[1].dup_tokens == 10
    assert out[1].dup_frac == 10 / 12


def test_repeated_passages_within_doc_repeat_not_flagged(spark):
    """A k-gram repeated twice inside ONE doc is not a cross-document
    passage: the threshold counts DISTINCT docs."""
    run = "r1 r2 r3 r4 r5 r6 r7 r8"
    df = spark.createDataFrame(
        [(1, run + " mid " + run), (2, "z1 z2 z3 z4 z5 z6 z7 z8 z9")],
        ["doc_id", "text"],
    )
    from lakeshack_spark.operators import text

    out = {
        r.doc_id: r
        for r in text.repeated_passage_stats(df, k=8, min_docs=2).collect()
    }
    assert out[1].n_dup_grams == 0 and out[1].dup_tokens == 0


def test_repeated_passages_disjoint_spans_sum(spark):
    """Two disjoint shared runs in one doc: coverage adds exactly."""
    a = "a1 a2 a3 a4 a5 a6 a7 a8"
    b = "b1 b2 b3 b4 b5 b6 b7 b8"
    df = spark.createDataFrame(
        [
            (1, a + " x1 x2 x3 " + b),
            (2, a + " only here"),
            (3, b + " elsewhere too"),
        ],
        ["doc_id", "text"],
    )
    from lakeshack_spark.operators import text

    out = {
        r.doc_id: r
        for r in text.repeated_passage_stats(df, k=8, min_docs=2).collect()
    }
    assert out[1].n_dup_grams == 2 and out[1].dup_tokens == 16
    assert out[2].dup_tokens == 8 and out[3].dup_tokens == 8


def test_repeated_passages_short_docs_zero_grams(spark):
    """Docs shorter than k produce no grams and survive with zeros."""
    df = spark.createDataFrame(
        [(1, "too short"), (2, "also tiny")], ["doc_id", "text"]
    )
    from lakeshack_spark.operators import text

    rows = text.repeated_passage_stats(df, k=8, min_docs=2).collect()
    assert {r.doc_id for r in rows} == {1, 2}
    assert all(r.n_dup_grams == 0 and r.dup_frac == 0.0 for r in rows)


# ------------------------------------------------- product quantization


def test_pq_seed_vectors_encode_to_themselves(spark):
    from lakeshack_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = sim.pq_codebooks(emb, m=4, n_codes=16)
    out = sim.pq_encode(emb, books)
    for r in out.orderBy("vec_id").limit(16).collect():
        assert (r.code_0, r.code_1, r.code_2, r.code_3) == (
            r.vec_id,
        ) * 4
        assert r.recon_sqerr == 0.0


def test_pq_matches_python_brute_force(spark):
    """Codes and error equal an independent per-subspace argmin in
    Python (same expanded-identity distance, same tie rule)."""
    from lakeshack_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = sim.pq_codebooks(emb, m=4, n_codes=8)
    got = {
        r.vec_id: r
        for r in sim.pq_encode(emb, books).filter("vec_id < 60").collect()
    }
    raw = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.filter("vec_id < 60").collect()
    }
    for vid, vec in raw.items():
        total = 0.0
        for j, entries in enumerate(books):
            x = vec[j * 16 : (j + 1) * 16]
            xx = 0.0
            for t in x:
                xx += t * t
            best = None
            for code, c, cc in entries:
                xc = 0.0
                for a, b in zip(x, c):
                    xc += a * b
                d2 = xx - 2.0 * xc + cc
                if best is None or d2 < best[0] or (d2 == best[0] and code < best[1]):
                    best = (d2, code)
            assert got[vid][f"code_{j}"] == best[1], (vid, j)
            total += best[0]
        assert got[vid].recon_sqerr == total, vid


def test_pq_rejects_indivisible_dim(spark):
    from lakeshack_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="not divisible"):
        sim.pq_codebooks(emb, m=5, n_codes=4)


def test_pq_adc_planted_duplicate_ranks_first(spark):
    """A planted exact duplicate of the query vector must rank 1 with
    adc_dist equal to the duplicate's own reconstruction error (the
    query's tables evaluated at the duplicate's codes ARE that error)."""
    from pyspark.sql import functions as F

    from lakeshack_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    mx = emb.agg(F.max("vec_id")).first()[0]
    dup = emb.filter("vec_id = 40").select(
        (F.col("vec_id") + mx + 1).alias("vec_id"), "embedding", "label"
    )
    planted = emb.unionByName(dup)
    books = sim.pq_codebooks(planted, m=4, n_codes=16)
    enc = sim.pq_encode(planted, books)
    q = planted.filter("vec_id = 40")
    top = (
        sim.pq_adc_topk(enc, q, books, k=3)
        .filter("rank = 1")
        .collect()[0]
    )
    assert top.neighbor_id == mx + 41
    err = enc.filter(f"vec_id = {mx + 41}").collect()[0].recon_sqerr
    assert abs(top.adc_dist - err) < 1e-9


def test_pq_adc_matches_python_tables(spark):
    """ADC distances equal an independent Python table-lookup scan."""
    from lakeshack_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = sim.pq_codebooks(emb, m=4, n_codes=8)
    enc = sim.pq_encode(emb, books)
    q = emb.filter("vec_id < 2")
    got = {
        (r.query_id, r.neighbor_id): r.adc_dist
        for r in sim.pq_adc_topk(enc, q, books, k=4).collect()
    }
    codes = {
        r.vec_id: (r.code_0, r.code_1, r.code_2, r.code_3)
        for r in enc.collect()
    }
    qvecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in q.collect()
    }
    for (qid, nid), dist in got.items():
        total = 0.0
        for j, entries in enumerate(books):
            x = qvecs[qid][j * 16 : (j + 1) * 16]
            xx = 0.0
            for t in x:
                xx += t * t
            code, c, cc = entries[codes[nid][j]]
            xc = 0.0
            for a, b in zip(x, c):
                xc += a * b
            total += xx - 2.0 * xc + cc
        assert dist == total, (qid, nid)


def test_pq_adc_literal_and_join_paths_identical(spark):
    """The large-query-set switchover (VERDICT_r5 item 8): forcing the
    broadcast-join table distribution (literal_max_queries=0) returns
    EXACTLY the literal path's rows — same ids, ranks, and bit-identical
    adc_dist, since both paths share _adc_tables and the %.17e literal
    render round-trips doubles exactly. Also pins that the default
    threshold actually switches: a query set above it plans a broadcast
    join, not a giant literal."""
    from lakeshack_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = sim.pq_codebooks(emb, m=4, n_codes=8)
    enc = sim.pq_encode(emb, books)
    q = emb.filter("vec_id < 6")
    lit_rows = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.adc_dist)
        for r in sim.pq_adc_topk(enc, q, books, k=4).collect()
    )
    join_rows = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.adc_dist)
        for r in sim.pq_adc_topk(
            enc, q, books, k=4, literal_max_queries=0
        ).collect()
    )
    assert lit_rows == join_rows and len(lit_rows) == 6 * 4

    big_q = emb.filter(f"vec_id < {sim.PQ_ADC_LITERAL_MAX_QUERIES + 1}")
    df = sim.pq_adc_topk(enc, big_q, books, k=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "named_struct" not in plan


def test_pq_adc_distributed_tables_path_identical(spark):
    """The distributed-table-build switchover (VERDICT_r7 item 3):
    forcing executor-side table construction (driver_tables_max_queries
    =0) returns EXACTLY the literal and driver-broadcast paths' rows —
    bit-identical adc_dist, since the mapInPandas builder calls the
    same _adc_tables fold per row. Three-way pin."""
    from lakeshack_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = sim.pq_codebooks(emb, m=4, n_codes=8)
    enc = sim.pq_encode(emb, books)
    q = emb.filter("vec_id < 6")
    lit_rows = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.adc_dist)
        for r in sim.pq_adc_topk(enc, q, books, k=4).collect()
    )
    driver_rows = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.adc_dist)
        for r in sim.pq_adc_topk(
            enc, q, books, k=4, literal_max_queries=0
        ).collect()
    )
    dist_rows = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.adc_dist)
        for r in sim.pq_adc_topk(
            enc,
            q,
            books,
            k=4,
            literal_max_queries=0,
            driver_tables_max_queries=0,
        ).collect()
    )
    assert lit_rows == driver_rows == dist_rows
    assert len(dist_rows) == 6 * 4


def test_ivfpq_search_distributed_tables_path_identical(spark):
    """ivfpq_search's executor-side table builder (VERDICT_r7 item 3)
    returns EXACTLY the driver path's rows — both builders call
    _ivfpq_query_rows, so probe choice and residual tables are
    bit-identical."""
    from lakeshack_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = sim.sample_centroids(emb, 8)
    books = sim.pq_codebooks(emb, m=4, n_codes=8)
    enc = sim.ivfpq_encode(emb, cents, books)
    q = emb.filter("vec_id < 6")
    driver_rows = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.adc_dist)
        for r in sim.ivfpq_search(
            enc, q, cents, books, k=4, nprobe=3
        ).collect()
    )
    dist_rows = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.adc_dist)
        for r in sim.ivfpq_search(
            enc,
            q,
            cents,
            books,
            k=4,
            nprobe=3,
            driver_tables_max_queries=0,
        ).collect()
    )
    assert driver_rows == dist_rows and len(dist_rows) == 6 * 4


def test_pq_train_reduces_reconstruction_error(spark):
    """Lloyd-refined codebooks must not lose to the raw seed on the
    training distribution (deterministic: no RNG anywhere)."""
    from pyspark.sql import functions as F

    from lakeshack_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seed = sim.pq_codebooks(emb, m=4, n_codes=8)
    trained = sim.pq_train(emb, m=4, n_codes=8, sample_n=256, iters=5)
    err_seed = (
        sim.pq_encode(emb, seed).agg(F.avg("recon_sqerr")).first()[0]
    )
    err_trained = (
        sim.pq_encode(emb, trained).agg(F.avg("recon_sqerr")).first()[0]
    )
    assert err_trained < err_seed
    # determinism: same call, bit-identical books
    again = sim.pq_train(emb, m=4, n_codes=8, sample_n=256, iters=5)
    assert again == trained


def _pq_py_d2(vec, book, code, j, ds=16):
    """Python d2 of one subspace/code — the near-tie referee for the
    Arrow-vs-expression parity tests (the two paths may legitimately
    pick different codes when two entries are equidistant to rounding;
    the driver regenerates testdata between rounds, so an exact-codes
    assert would be a latent flake)."""
    x = vec[j * ds : (j + 1) * ds]
    _c, sub, cc = book[code]
    xx = 0.0
    for t in x:
        xx += t * t
    xc = 0.0
    for a, b in zip(x, sub):
        xc += a * b
    return xx - 2.0 * xc + cc


def _assert_codes_agree_or_near_tie(vecs, books, a, b, ds=16):
    for vid in a:
        for j in range(len(books)):
            ca, cb = a[vid][f"code_{j}"], b[vid][f"code_{j}"]
            if ca != cb:
                da = _pq_py_d2(vecs[vid], books[j], ca, j, ds)
                db = _pq_py_d2(vecs[vid], books[j], cb, j, ds)
                assert abs(da - db) <= 1e-9 * (1.0 + abs(da)), (vid, j)
        assert abs(a[vid].recon_sqerr - b[vid].recon_sqerr) <= 1e-9 * (
            1.0 + abs(a[vid].recon_sqerr)
        )


def test_pq_encode_arrow_matches_expression_path(spark):
    """The Arrow encoder agrees with the fold-order expression path:
    identical codes except provable near-ties, errors to rounding."""
    from lakeshack_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = sim.pq_train(emb, m=4, n_codes=16, sample_n=200, iters=4)
    a = {
        r.vec_id: r
        for r in sim.pq_encode(emb, books).collect()
    }
    b = {
        r.vec_id: r
        for r in sim.pq_encode_arrow(emb, books).collect()
    }
    assert set(a) == set(b)
    vecs = {
        r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()
    }
    _assert_codes_agree_or_near_tie(vecs, books, a, b)


def test_pq_search_full_shortlist_is_exact(spark):
    """shortlist >= corpus: pq_search must equal exact brute-force L2
    ranking (the quantizer can no longer lose anything)."""
    from pyspark.sql import functions as F

    from lakeshack_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    books = sim.pq_train(emb, m=4, n_codes=8, sample_n=128, iters=3)
    enc = sim.pq_encode(emb, books)
    q = emb.filter("vec_id < 2")
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.l2_sq)
        for r in sim.pq_search(emb, enc, q, books, k=5, shortlist=n).collect()
    }
    # independent exact ranking
    qv = {r.vec_id: [float(x) for x in r.embedding] for r in q.collect()}
    cv = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}
    for qid, qvec in qv.items():
        dists = []
        for nid, c in cv.items():
            if nid == qid:
                continue
            cc = 0.0
            for x in c:
                cc += x * x
            qc = 0.0
            for a, b in zip(qvec, c):
                qc += a * b
            qq = 0.0
            for a in qvec:
                qq += a * a
            dists.append((cc - 2.0 * qc + qq, nid))
        dists.sort()
        for rank, (d, nid) in enumerate(dists[:5], start=1):
            assert got[(qid, rank)] == (nid, d), (qid, rank)


def test_pq_search_planted_duplicate_rank1_zero_error(spark):
    from pyspark.sql import functions as F

    from lakeshack_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    mx = emb.agg(F.max("vec_id")).first()[0]
    dup = emb.filter("vec_id = 7").select(
        (F.col("vec_id") + mx + 1).alias("vec_id"), "embedding", "label"
    )
    planted = emb.unionByName(dup)
    books = sim.pq_codebooks(planted, m=4, n_codes=16)
    enc = sim.pq_encode(planted, books)
    q = planted.filter("vec_id = 7")
    top = (
        sim.pq_search(planted, enc, q, books, k=3, shortlist=50)
        .filter("rank = 1")
        .collect()[0]
    )
    assert top.neighbor_id == mx + 8
    assert top.l2_sq == 0.0


def test_pq_encode_rejects_wrong_dimension(spark):
    """Encoding vectors whose dim != m*ds must raise, not emit garbage
    codes (review finding: empty slices silently picked code 0)."""
    from pyspark.sql import functions as F

    from lakeshack_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = sim.pq_codebooks(emb, m=4, n_codes=8)
    short = emb.select("vec_id", F.slice("embedding", 1, 32).alias("embedding"))
    with pytest.raises(Exception, match="dim"):
        sim.pq_encode(short, books).collect()


def test_pq_codebooks_rejects_small_corpus(spark):
    from lakeshack_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="smaller than"):
        sim.pq_codebooks(emb.filter("vec_id < 4"), m=4, n_codes=16)


# ------------------------------------------------------------- IVF-PQ


def test_ivfpq_residual_error_beats_raw_pq_on_clusters(spark):
    """On clustered data, PQ over residuals must reconstruct strictly
    better than PQ over raw vectors with the same code budget."""
    import numpy as np
    from pyspark.sql import functions as F, types as T

    from lakeshack_spark.operators import similarity as sim

    rng = np.random.default_rng(7)
    # 64 clusters >> the 8-code budget: raw PQ cannot model the macro
    # structure, the coarse quantizer's job. Centroids are Lloyd-refined
    # (member MEANS — a raw sample_centroids seed is a cluster member,
    # whose residuals carry twice the noise energy).
    centers = rng.normal(size=(64, 16))
    pts = centers[rng.integers(0, 64, size=1200)] + 0.2 * rng.normal(
        size=(1200, 16)
    )
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(pts)], schema
    )
    cents = sim.sample_centroids(df, 64)
    for _ in range(3):
        cents = sim.kmeans_update(df, cents).select(
            "centroid_id", "centroid"
        )
    res = sim.ivf_residuals(df, cents)
    books_res = sim.pq_train(res, m=4, n_codes=8, sample_n=1200, iters=5,
                             vec_col="__res")
    books_raw = sim.pq_train(df, m=4, n_codes=8, sample_n=1200, iters=5)
    err_res = (
        sim.ivfpq_encode(df, cents, books_res)
        .agg(F.avg("recon_sqerr"))
        .first()[0]
    )
    err_raw = (
        sim.pq_encode(df, books_raw).agg(F.avg("recon_sqerr")).first()[0]
    )
    assert err_res < err_raw


def test_ivfpq_search_matches_python_and_prunes_cells(spark):
    """Distances equal a Python recomputation over the probed cells, and
    candidates outside probed cells never appear."""
    from pyspark.sql import functions as F

    from lakeshack_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = sim.sample_centroids(emb, 8)
    res = sim.ivf_residuals(emb, cents)
    books = sim.pq_train(res, m=4, n_codes=8, sample_n=200, iters=3,
                         vec_col="__res")
    enc = sim.ivfpq_encode(emb, cents, books)
    q = emb.filter("vec_id = 5")
    nprobe = 3
    out = sim.ivfpq_search(enc, q, cents, books, k=50, nprobe=nprobe)
    rows = out.collect()
    assert rows, "search returned nothing"
    # probed cells per the documented cosine rule
    entries = sim._centroid_entries(cents)
    import math

    qv = [float(x) for x in q.collect()[0].embedding]
    qn = math.sqrt(sum(a * a for a in qv))
    sims = sorted(
        (-(sum(a * b for a, b in zip(qv, cv)) / (qn * cn)), cid)
        for cid, cv, cn in entries
    )
    probed = {cid for _s, cid in sims[:nprobe]}
    cells = {
        r.vec_id: r.cell for r in enc.select("vec_id", "cell").collect()
    }
    codes = {
        r.vec_id: (r.code_0, r.code_1, r.code_2, r.code_3)
        for r in enc.collect()
    }
    cent_by_id = {cid: cv for cid, cv, _n in entries}
    for r in rows:
        assert cells[r.neighbor_id] in probed
        # recompute the ADC distance in Python
        cell = cells[r.neighbor_id]
        resid = [a - b for a, b in zip(qv, cent_by_id[cell])]
        total = 0.0
        for j, book in enumerate(books):
            x = resid[j * 4 : (j + 1) * 4]
            xx = 0.0
            for t in x:
                xx += t * t
            _code, c, cc = book[codes[r.neighbor_id][j]]
            xc = 0.0
            for a, b in zip(x, c):
                xc += a * b
            total += xx - 2.0 * xc + cc
        assert abs(r.adc_dist - total) < 1e-9


def test_ivfpq_encode_arrow_equals_expr(spark):
    """The Arrow composition path (JVM cell assignment + NumPy residual
    subtraction/encode) equals the expression path: cells identical,
    codes identical, errors to rounding."""
    from lakeshack_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = sim.sample_centroids(emb, 8)
    cents = spark.createDataFrame(cents.collect(), cents.schema)
    res = sim.ivf_residuals(emb, cents)
    books = sim.pq_train(res, m=4, n_codes=8, sample_n=200, iters=3,
                         vec_col="__res")
    a = {r.vec_id: r for r in
         sim.ivfpq_encode(emb, cents, books, impl="expr").collect()}
    b = {r.vec_id: r for r in
         sim.ivfpq_encode(emb, cents, books, impl="arrow").collect()}
    assert set(a) == set(b)
    for vid in a:
        assert a[vid].cell == b[vid].cell, vid
    cent_by_id = {cid: cv for cid, cv, _n in sim._centroid_entries(cents)}
    resids = {
        r.vec_id: [
            float(x) - c
            for x, c in zip(r.embedding, cent_by_id[a[r.vec_id].cell])
        ]
        for r in emb.collect()
    }
    _assert_codes_agree_or_near_tie(resids, books, a, b)


# ----------------------------------------------------------- fuzzy join


def test_fuzzy_join_equals_naive_cross_join(spark):
    """Lossless prefilter: result equals the cross-join answer on a
    corpus mixing long strings (pigeonhole path) and short strings
    (length-band path), including inserts/deletes/substitutions."""
    from lakeshack_spark.operators.fuzzy import fuzzy_join

    lrows = [
        (1, "kitten"),
        (2, "ab"),
        (3, "red widget"),
        (4, "x"),
        (5, "small rong"),
        (6, "gizmo"),
    ]
    rrows = [
        (10, "sitting"),
        (11, "kitten"),
        (12, "abd"),
        (13, "red widgt"),
        (14, "small ring"),
        (15, "gizmos"),
        (16, "zzzzzzzzzz"),
        (17, ""),
        (18, "xy"),
    ]
    l = spark.createDataFrame(lrows, ["lid", "s"])
    r = spark.createDataFrame(rrows, ["rid", "t"])
    got = {
        (x.lid, x.rid, x.dist)
        for x in fuzzy_join(l, r, "s", "t", "lid", "rid", max_dist=2).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    want = {
        (lid, rid, lev(a, b))
        for lid, a in lrows
        for rid, b in rrows
        if lev(a, b) <= 2
    }
    assert got == want


def test_fuzzy_join_no_matches(spark):
    from lakeshack_spark.operators.fuzzy import fuzzy_join

    l = spark.createDataFrame([(1, "aaaaaaaaaa")], ["lid", "s"])
    r = spark.createDataFrame([(2, "bbbbbbbbbb")], ["rid", "t"])
    assert fuzzy_join(l, r, "s", "t", "lid", "rid", max_dist=2).count() == 0


def test_fuzzy_join_short_string_stratum_exact_and_subquadratic(spark):
    """The VERDICT_r5 stratum fix, both halves:

    1. CORRECTNESS on a short-string-heavy corpus (every string below the
       q-gram pigeonhole threshold lmin = k*q+q = 6): result still equals
       the naive cross-join answer — the 1-gram pigeonhole tier is
       lossless for len > k, and the tiny tier covers len <= k.
    2. SCALE: the candidate set no longer squares. 300×300 length-5
       strings over 30 disjoint 3-letter alphabets; the old exact-length-
       only band made all 90_000 pairs candidates, the shared-char tier
       admits only same-alphabet pairs (300 strings / 30 alphabets → 10×10
       per alphabet ≈ 3_000) plus nothing from the empty tiny tier.
    """
    from lakeshack_spark.operators import fuzzy
    from pyspark.sql import functions as F

    def word(g: int, i: int) -> str:
        # length-5 word from alphabet group g (3 letters per group,
        # disjoint across groups — chr(97+3g .. 99+3g) stays in letters
        # for g < 30 via the 97..186 codepoint run, all distinct)
        a = [chr(97 + 3 * g + j) for j in range(3)]
        return "".join(a[(i >> (2 * j)) & 1] for j in range(5))

    n, groups = 300, 30
    lrows = [(i, word(i % groups, i)) for i in range(n)]
    rrows = [(i + 10_000, word(i % groups, i + 7)) for i in range(n)]
    l = spark.createDataFrame(lrows, ["lid", "s"])
    r = spark.createDataFrame(rrows, ["rid", "t"])

    # scale half: candidate count is alphabet-bucketed, not band-complete
    lf = l.select(
        F.col("lid").alias("__lid"), F.col("s").alias("__ls")
    ).withColumn("__ll", F.length("__ls"))
    rf = r.select(
        F.col("rid").alias("__rid"), F.col("t").alias("__rs")
    ).withColumn("__rl", F.length("__rs"))
    n_cand = fuzzy._candidates(lf, rf, 2, 2).count()
    assert n_cand <= (n // groups) ** 2 * groups  # 3_000, vs 90_000 banded

    # correctness half on a small slice (naive verify is O(n²) in the test)
    lsub = [row for row in lrows if row[0] < 60]
    rsub = [row for row in rrows if row[0] - 10_000 < 60]
    got = {
        (x.lid, x.rid, x.dist)
        for x in fuzzy.fuzzy_join(
            spark.createDataFrame(lsub, ["lid", "s"]),
            spark.createDataFrame(rsub, ["rid", "t"]),
            "s", "t", "lid", "rid", max_dist=2,
        ).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    want = {
        (lid, rid, lev(a, b))
        for lid, a in lsub
        for rid, b in rsub
        if lev(a, b) <= 2
    }
    assert got == want and len(want) > 0


# ------------------------------------------------------------ gap fill


def test_gap_fill_forward_fill_semantics(spark):
    from lakeshack_spark.operators.timeseries import gap_fill

    obs = spark.createDataFrame(
        [
            (1, 10, 100),
            (1, 12, 120),
            (2, 11, 200),
            (2, 9, 900),   # before the window: excluded from grid AND fill
            (3, 20, 300),  # after the window: key appears, all NULL
        ],
        ["k", "t", "v"],
    )
    out = {
        (r.k, r.t): (r.value, r.is_gap)
        for r in gap_fill(obs, "k", "t", "v", 10, 13).collect()
    }
    assert len(out) == 3 * 4
    assert out[(1, 10)] == (100, False)
    assert out[(1, 11)] == (100, True)   # forward-filled
    assert out[(1, 12)] == (120, False)
    assert out[(1, 13)] == (120, True)
    assert out[(2, 10)] == (None, True)  # leading gap: NULL, not 900
    assert out[(2, 11)] == (200, False)
    assert out[(2, 12)] == (200, True)
    assert all(out[(3, t)] == (None, True) for t in range(10, 14))


# --------------------------------------------------------- vocab encode


def test_vocab_build_rank_rule_and_encode(spark):
    from lakeshack_spark.operators import text

    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "a b zz"), (3, "qq")],
        ["doc_id", "text"],
    )
    vocab = {r.term: (r.token_id, r.n) for r in
             text.build_vocab(docs, max_size=3).collect()}
    # counts: a=3, b=2, c=1, zz=1, qq=1 -> top3 by (n desc, term asc)
    assert vocab == {"a": (0, 3), "b": (1, 2), "c": (2, 1)}
    out = {r.doc_id: r for r in
           text.encode_with_vocab(
               docs, text.build_vocab(docs, max_size=3)).collect()}
    import hashlib

    assert out[1].n_tokens == 4 and out[1].n_oov == 0
    assert out[1].ids_fp == hashlib.md5(b"0,1,0,2").hexdigest()
    assert out[2].n_tokens == 3 and out[2].n_oov == 1
    assert out[2].ids_fp == hashlib.md5(b"0,1,-1").hexdigest()
    assert out[3].n_tokens == 1 and out[3].n_oov == 1


def test_ivfpq_encode_rejects_bad_impls(spark):
    from lakeshack_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = sim.sample_centroids(emb, 4)
    res = sim.ivf_residuals(emb, cents)
    books = sim.pq_train(res, m=4, n_codes=4, sample_n=64, iters=2,
                         vec_col="__res")
    with pytest.raises(ValueError, match="impl"):
        sim.ivfpq_encode(emb, cents, books, impl="Arrow")


# ----------------------------------------------------------- table diff


def test_table_diff_classifies_and_ignores_identical(spark):
    from lakeshack_spark.operators.diff import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        ["k", "s", "v"],
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (5, "e", 50), (4, "", 40)],
        ["k", "s", "v"],
    )
    out = {r.k: r.status for r in table_diff(old, new, ["k"]).collect()}
    # key 1 identical -> absent; 2 changed; 3 removed; 5 added;
    # 4: NULL -> '' must register as changed (concat_ws would hide it)
    assert out == {2: "changed", 3: "removed", 5: "added", 4: "changed"}


def test_table_diff_fingerprint_no_boundary_collision(spark):
    """('ab', 'c') must differ from ('a', 'bc') — the length prefix
    prevents separator-sliding collisions."""
    from lakeshack_spark.operators.diff import table_diff

    old = spark.createDataFrame([(1, "ab", "c")], ["k", "x", "y"])
    new = spark.createDataFrame([(1, "a", "bc")], ["k", "x", "y"])
    assert {r.status for r in table_diff(old, new, ["k"]).collect()} == {
        "changed"
    }


def test_table_diff_null_keys_match_null_safely(spark):
    """A NULL-keyed row present on both sides must compare as the SAME
    key (changed/identical), not a spurious added+removed pair."""
    from lakeshack_spark.operators.diff import table_diff

    old = spark.createDataFrame([(None, "a"), (1, "x")], "k int, s string")
    new = spark.createDataFrame([(None, "b"), (1, "x")], "k int, s string")
    rows = table_diff(old, new, ["k"]).collect()
    assert len(rows) == 1
    assert rows[0].k is None and rows[0].status == "changed"


def test_pagerank_matches_python_reference(spark):
    """Integer fixed-point PageRank ≡ an exact Python recurrence on a
    small asymmetric graph (star + path + triangle): every rank equal,
    every iteration count respected, no float anywhere."""
    from lakeshack_spark.operators.graph import pagerank

    raw = [(1, 2), (1, 3), (1, 4), (4, 5), (5, 6), (7, 8), (8, 9), (9, 7)]
    pairs = spark.createDataFrame(raw, ["id_a", "id_b"])
    scale, d = 10**9, 85
    # symmetrize exactly as the operator does
    edges = set()
    for a, b in raw:
        edges |= {(a, b), (b, a)}
    nodes = sorted({x for e in edges for x in e})
    out = {u: sum(1 for s, _ in edges if s == u) for u in nodes}
    rank = {u: scale for u in nodes}
    for _ in range(4):
        msg = {u: 0 for u in nodes}
        for s, t in edges:
            msg[t] += (d * rank[s]) // (100 * out[s])
        rank = {u: (100 - d) * scale // 100 + msg[u] for u in nodes}
    got = {r.node: r.rank for r in pagerank(pairs, n_iter=4).collect()}
    assert got == rank
    # hub (node 1, degree 3) must outrank every leaf
    assert got[1] > max(got[2], got[3], got[6])


def test_pagerank_rejects_bad_damping(spark):
    from lakeshack_spark.operators.graph import pagerank

    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    with pytest.raises(ValueError):
        pagerank(pairs, n_iter=1, damping_pct=100)


def _py_bpe(word_counts, n_merges, min_count=2):
    """Reference BPE: greedy argmax with (count desc, left, right)
    tie-break; left-to-right non-overlapping merge."""
    vocab = {w: list(w) for w in word_counts}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + word_counts[w]
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), n = best
        if n < min_count:
            break
        merges.append((l, r, n))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def test_bpe_train_matches_python_reference(spark):
    """Distributed BPE ≡ the canonical greedy trainer: same merge
    sequence (incl. counts) and same final symbolization, on a corpus
    with overlap traps ('aaaa'), ties, and repeated words."""
    from lakeshack_spark.operators import bpe

    texts = [
        "low low low lower lowest",
        "new newer newest new new",
        "aaaa aa baa aab",
        "low new wide wider",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    wc = {}
    for t in texts:
        for w in t.split(" "):
            wc[w] = wc.get(w, 0) + 1
    want_merges, want_vocab = _py_bpe(wc, 8)
    got_merges, got_vocab = bpe.bpe_train(docs, 8, checkpoint_every=3)
    assert got_merges == want_merges
    got_syms = {r.w: list(r.syms) for r in got_vocab.collect()}
    assert got_syms == want_vocab
    got_counts = {r.w: r.wc for r in got_vocab.collect()}
    assert got_counts == wc
    got_vocab.unpersist()


def test_bpe_apply_merge_overlap_rule(spark):
    """'aaa' + (a,a) -> [aa, a]; 'aaaa' -> [aa, aa] (left-to-right
    non-overlapping, the canonical scan)."""
    from lakeshack_spark.operators import bpe

    docs = spark.createDataFrame([(0, "aaa aaaa ab")], "doc_id long, text string")
    vocab = bpe.initial_symbols(bpe.word_histogram(docs, "text"))
    merged = bpe.apply_merge(vocab, "a", "a")
    got = {r.w: list(r.syms) for r in merged.collect()}
    assert got == {"aaa": ["aa", "a"], "aaaa": ["aa", "aa"], "ab": ["a", "b"]}


def test_merge_upsert_full_semantics(spark):
    """MERGE: matched update, matched delete, unmatched-target keep,
    not-matched insert, delete-flagged unmatched source ignored."""
    from lakeshack_spark.operators.diff import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        ["k", "s", "v"],
    )
    source = spark.createDataFrame(
        [
            (2, "B", 99, False),   # matched -> update
            (3, "c", 30, True),    # matched -> delete
            (5, "e", 50, False),   # unmatched -> insert
            (6, "f", 60, True),    # unmatched delete -> ignored
        ],
        ["k", "s", "v", "is_delete"],
    )
    got = {
        r.k: (r.s, r.v)
        for r in merge_upsert(target, source, ["k"], delete_col="is_delete").collect()
    }
    assert got == {1: ("a", 10), 2: ("B", 99), 4: ("d", 40), 5: ("e", 50)}


def test_merge_upsert_update_subset_and_no_insert(spark):
    """Explicit update_cols leaves other columns at their target values;
    insert=False drops unmatched source rows and tolerates a source
    missing target columns."""
    from lakeshack_spark.operators.diff import merge_upsert

    target = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], ["k", "s", "v"])
    source = spark.createDataFrame([(1, 99), (7, 70)], ["k", "v"])
    got = {
        r.k: (r.s, r.v)
        for r in merge_upsert(
            target, source, ["k"], update_cols=["v"], insert=False
        ).collect()
    }
    assert got == {1: ("a", 99), 2: ("b", 20)}


def test_merge_upsert_insert_requires_full_schema(spark):
    from lakeshack_spark.operators.diff import merge_upsert

    target = spark.createDataFrame([(1, "a", 10)], ["k", "s", "v"])
    source = spark.createDataFrame([(1, 99)], ["k", "v"])
    with pytest.raises(ValueError, match="missing"):
        merge_upsert(target, source, ["k"])


def test_merge_upsert_null_safe_keys(spark):
    """A NULL-keyed source row must MATCH a NULL-keyed target row (one
    updated survivor), not insert a duplicate."""
    from lakeshack_spark.operators.diff import merge_upsert

    target = spark.createDataFrame([(None, "a"), (1, "x")], "k int, s string")
    source = spark.createDataFrame([(None, "A")], "k int, s string")
    rows = merge_upsert(target, source, ["k"]).collect()
    got = {r.k: r.s for r in rows}
    assert len(rows) == 2 and got == {None: "A", 1: "x"}


def test_ivf_assign_reassign_and_zero_centroid(spark):
    """Re-assigning an already-assigned frame replaces the cell column;
    a zero-norm centroid raises (cosine against it is undefined)."""
    from pyspark.sql import functions as F

    from lakeshack_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = sim.sample_centroids(emb, 4)
    cents = spark.createDataFrame(cents.collect(), cents.schema)
    once = sim.ivf_assign(emb, cents)
    twice = sim.ivf_assign(once, cents)
    assert twice.columns.count("cell") == 1
    a = {r.vec_id: r.cell for r in once.select("vec_id", "cell").collect()}
    b = {r.vec_id: r.cell for r in twice.select("vec_id", "cell").collect()}
    assert a == b
    zero = cents.withColumn(
        "centroid",
        F.when(
            F.col("centroid_id") == 0,
            F.expr("transform(centroid, x -> CAST(0.0 AS DOUBLE))"),
        ).otherwise(F.col("centroid")),
    )
    with pytest.raises(Exception, match="zero-norm centroid"):
        sim.ivf_assign(emb, zero).collect()


def test_ivf_index_probe_equals_in_query_ivf(spark, tmp_path):
    """Persisted cell-partitioned index probe ≡ in-query ivf_topk at the
    same nprobe, and the scan prunes to the probed cells' partitions."""
    from lakeshack_spark.plans.audit import explain_str

    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    cents = similarity.sample_centroids(emb, 8)
    path = str(tmp_path / "ivf_index")
    similarity.ivf_index_write(emb, cents, path)
    got = similarity.ivf_index_probe(
        spark, path, queries, cents, k=4, nprobe=2
    )
    want = similarity.ivf_topk(emb, queries, cents, k=4, nprobe=2)
    g = sorted((r.query_id, r.neighbor_id, r.rank) for r in got.collect())
    w = sorted((r.query_id, r.neighbor_id, r.rank) for r in want.collect())
    assert g == w and len(g) > 0
    # partition pruning: the index scan carries a PartitionFilters entry
    # on cell; full-probe would read all 8 dirs, nprobe=2 reads <= 8
    plan = explain_str(got)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan[:2000]


def test_incremental_agg_maintain_equals_recompute(spark):
    """view ⊕ delta ≡ full re-aggregate of the merged table, covering
    update-in-group, group-MOVING update, delete, insert into a NEW
    group, and delete-to-empty group removal."""
    from lakeshack_spark.operators.diff import (
        incremental_agg_maintain,
        merge_upsert,
    )

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40)],
        "k long, g string, v long",
    )
    view = base.groupBy("g").agg(
        F.count("*").alias("n"), F.sum("v").alias("sum_v")
    )
    changes = spark.createDataFrame(
        [
            (1, "a", 15, False),   # update, same group
            (2, "b", 20, False),   # update, moves a -> b
            (4, "c", 40, True),    # delete -> group c empties
            (9, "d", 99, False),   # insert into a brand-new group
            (8, "a", 1, True),     # delete of an absent key: no-op
        ],
        "k long, g string, v long, is_delete boolean",
    )
    got = {
        r.g: (r.n, r.sum_v)
        for r in incremental_agg_maintain(
            view, base, changes,
            key_cols=["k"], group_cols=["g"],
            sum_cols={"sum_v": "v"}, delete_col="is_delete",
        ).collect()
    }
    merged = merge_upsert(
        base, changes.select("k", "g", "v", "is_delete"),
        ["k"], delete_col="is_delete",
    )
    want = {
        r.g: (r.n, r.sum_v)
        for r in merged.groupBy("g")
        .agg(F.count("*").alias("n"), F.sum("v").alias("sum_v"))
        .collect()
    }
    assert got == want == {"a": (1, 15), "b": (2, 50), "d": (1, 99)}


def test_incremental_agg_maintain_before_images(spark):
    """A CDC feed that ships before-images skips the base join: passing
    old_rows explicitly must give the same answer as deriving them."""
    from lakeshack_spark.operators.diff import incremental_agg_maintain

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k long, g string, v long"
    )
    view = base.groupBy("g").agg(
        F.count("*").alias("n"), F.sum("v").alias("sum_v")
    )
    changes = spark.createDataFrame(
        [(1, "a", 11, False)], "k long, g string, v long, is_delete boolean"
    )
    old = spark.createDataFrame([(1, "a", 10)], "k long, g string, v long")
    derived = incremental_agg_maintain(
        view, base, changes, ["k"], ["g"], {"sum_v": "v"},
        delete_col="is_delete",
    )
    shipped = incremental_agg_maintain(
        view, base, changes, ["k"], ["g"], {"sum_v": "v"},
        delete_col="is_delete", old_rows=old,
    )
    a = sorted((r.g, r.n, r.sum_v) for r in derived.collect())
    b = sorted((r.g, r.n, r.sum_v) for r in shipped.collect())
    assert a == b == [("a", 1, 11), ("b", 1, 20)]


def test_hashed_linear_score_shape_and_determinism(spark):
    """Same token -> same weight everywhere; score is the plain sum of
    per-token weights (verified against a per-token probe); keep obeys
    the threshold."""
    docs = spark.createDataFrame(
        [(0, "x y x"), (1, "y"), (2, "z z z z")], "doc_id long, text string"
    )
    out = {
        r.doc_id: (r.n_tokens, r.score, r.keep)
        for r in text.hashed_linear_score(
            docs, n_buckets=16, weight_span=4, seed="t", threshold=1
        ).collect()
    }
    # per-token weights via single-token docs
    singles = spark.createDataFrame(
        [(10, "x"), (11, "y"), (12, "z")], "doc_id long, text string"
    )
    w = {
        r.doc_id: r.score
        for r in text.hashed_linear_score(
            singles, n_buckets=16, weight_span=4, seed="t", threshold=1
        ).collect()
    }
    wx, wy, wz = w[10], w[11], w[12]
    assert all(-4 <= v <= 4 for v in (wx, wy, wz))
    assert out[0] == (3, 2 * wx + wy, (2 * wx + wy) >= 1)
    assert out[1] == (1, wy, wy >= 1)
    assert out[2] == (4, 4 * wz, (4 * wz) >= 1)


def test_hashed_distribution_drift_zero_for_identical_slices(spark):
    """A group whose text is an exact replica of the corpus profile
    drifts by exactly 0.0 (shares are identical doubles, so every
    chi-square term is (x-x)^2 = 0); a skewed group drifts positive."""
    from lakeshack_spark.operators.quality import hashed_distribution_drift

    balanced = "scan filter join merge window batch"
    docs = spark.createDataFrame(
        [
            (0, "a", balanced),
            (1, "b", balanced),
            (2, "c", "scan scan scan scan scan scan"),
        ],
        "doc_id long, source string, text string",
    )
    out = {
        r.source: (r.n_tokens, r.chi2)
        for r in hashed_distribution_drift(docs, "source", n_buckets=8).collect()
    }
    assert out["a"][0] == out["b"][0] == out["c"][0] == 6
    assert out["a"][1] == out["b"][1] and out["a"][1] > 0.0  # vs mixed corpus
    assert out["c"][1] > out["a"][1]  # the skewed slice drifts most


def test_bpe_encode_matches_python_reference(spark):
    """Tokenizer APPLY: encode a corpus (including unseen-at-training
    docs with OOV words) with a trained merge table — per-doc subword
    counts and the ordered-sequence fingerprint must equal a canonical
    Python encoder applying the same merges, with OOV words falling
    back to character symbols."""
    import hashlib as _hl

    from lakeshack_spark.operators import bpe

    train_texts = [
        "low low low lower lowest",
        "new newer newest new new",
        "low new wide wider",
    ]
    train = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train_texts)], "doc_id long, text string"
    )
    merges, vocab = bpe.bpe_train(train, 6, checkpoint_every=3)

    # encode BOTH training docs and a new doc with OOV words — incl.
    # OOV words the trained merges DO fire inside ("slowest", "newly":
    # the canonical apply merges unseen words too, so char-fallback
    # semantics would diverge here)
    enc_texts = train_texts + ["low slowest newly unknown zzz new"]
    enc = spark.createDataFrame(
        [(i, t) for i, t in enumerate(enc_texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_words, r.n_tokens, r.tokens_fp)
        for r in bpe.bpe_encode(enc, vocab, merges).collect()
    }
    vocab.unpersist()

    def py_encode(word):
        syms = list(word)
        for l, r, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    for doc_id, text in enumerate(enc_texts):
        words = [w for w in text.split(" ") if w]
        seqs = [py_encode(w) for w in words]
        fp = _hl.md5(
            "\x1e".join("\x1f".join(s) for s in seqs).encode()
        ).hexdigest()
        assert got[doc_id] == (len(words), sum(len(s) for s in seqs), fp), (
            doc_id,
            text,
        )


# ---------------------------------------------------------------- rollups


def test_rollup_cascade_equals_direct(spark):
    """Merging materialized finer buckets must reproduce the direct
    coarse aggregate bit-for-bit (counts + scaled-int sums associative,
    one finalize division) — including at a non-divisor factor."""
    from pyspark.sql import Row

    from lakeshack_spark.operators.timeseries import (
        bucket_rollup,
        rollup_finalize,
        rollup_merge,
    )

    rows = [
        Row(ts=i * 977 + (i % 7) * 13, grp=f"g{i % 3}", value=(i * 0.37) % 11)
        for i in range(500)
    ]
    ev = spark.createDataFrame(rows)
    fine = bucket_rollup(
        ev, 100, time_col="ts", group_cols=("grp",), value_col="value"
    )
    for factor in (10, 7):  # 7 does not divide the coarse width evenly
        cascade = rollup_finalize(
            rollup_merge(fine, factor, group_cols=("grp",))
        )
        direct = rollup_finalize(
            bucket_rollup(
                ev, 100 * factor, time_col="ts",
                group_cols=("grp",), value_col="value",
            )
        )
        a = {(r.bucket, r.grp): (r.n, r.sum_value) for r in cascade.collect()}
        b = {(r.bucket, r.grp): (r.n, r.sum_value) for r in direct.collect()}
        assert a == b


# ------------------------------------------------------------- MMR re-rank


class TestMMRRerank:
    def _df(self, spark, rows):
        from pyspark.sql import Row

        return spark.createDataFrame(
            [Row(vec_id=i, codes=c) for i, c in rows]
        )

    def test_diversification_skips_near_duplicate(self, spark):
        """Docs 1 and 2 are identical and most relevant; pure top-2 would
        return both, MMR must interleave the diverse doc 3."""
        from lakeshack_spark.operators import similarity

        q = self._df(spark, [(100, [10, 0, 0])])
        docs = self._df(
            spark,
            [(1, [9, 0, 0]), (2, [9, 0, 0]), (3, [5, 5, 0]), (4, [0, 1, 0])],
        )
        out = similarity.mmr_rerank(docs, q, k=3, shortlist=4).collect()
        picked = [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])]
        # rank1: doc 1 (rel 90, tie with 2 → smaller id)
        # rank2: doc2 score 7*90-3*81=387 vs doc3 7*50-3*45=215 → doc 2?
        # 387 > 215: lambda=0.7 favors relevance here; verify exact math
        assert picked[0] == 1
        r = {x["doc_id"]: x for x in out}
        assert r[1]["mmr_num"] == 7 * 90
        if 2 in r and r[2]["rank"] == 2:
            assert r[2]["mmr_num"] == 7 * 90 - 3 * 81
        # with a sharper diversity weight the duplicate must lose:
        # after doc1, doc2 scores 1·90−9·81=−639, doc3 1·50−9·45=−355,
        # doc4 (orthogonal) 1·0−9·0=0 → picks 4 then 3; the duplicate
        # doc2 comes dead last
        out2 = similarity.mmr_rerank(
            docs, q, k=3, shortlist=4, lam_num=1, lam_den=10
        ).collect()
        picked2 = [x["doc_id"] for x in sorted(out2, key=lambda r: r["rank"])]
        assert picked2 == [1, 4, 3]

    def test_matches_python_reference(self, spark):
        import hashlib

        from lakeshack_spark.operators import similarity

        def h(i, j):
            return (
                int.from_bytes(
                    hashlib.md5(f"{i}:{j}".encode()).digest()[:2], "big"
                )
                % 21
                - 10
            )

        docs = [(i, [h(i, j) for j in range(8)]) for i in range(30)]
        qs = [(100 + i, [h(100 + i, j) for j in range(8)]) for i in range(3)]
        out = similarity.mmr_rerank(
            self._df(spark, docs), self._df(spark, qs), k=4, shortlist=6
        ).collect()
        got = {
            (r["query_id"], r["rank"]): (r["doc_id"], r["rel"], r["mmr_num"])
            for r in out
        }

        def dot(a, b):
            return sum(x * y for x, y in zip(a, b))

        want = {}
        for qid, qc in qs:
            rel = sorted(
                ((dot(qc, dc), d) for d, dc in docs),
                key=lambda t: (-t[0], t[1]),
            )[:6]
            sel = []
            cand = [(d, r) for r, d in rel]
            codes = dict(docs)
            for rank in range(1, 5):
                best = None
                for d, r in cand:
                    if d in [s[0] for s in sel]:
                        continue
                    ms = max(
                        (dot(codes[d], codes[s[0]]) for s in sel), default=0
                    )
                    score = 7 * r - 3 * ms
                    key = (-score, d)
                    if best is None or key < best[0]:
                        best = (key, d, r, score)
                sel.append((best[1], best[2], best[3]))
                want[(qid, rank)] = (best[1], best[2], best[3])
        assert got == want

    def test_k_exceeds_candidates_and_validation(self, spark):
        import pytest as _pytest

        from lakeshack_spark.operators import similarity

        q = self._df(spark, [(9, [1, 1])])
        docs = self._df(spark, [(1, [1, 0]), (2, [0, 1])])
        out = similarity.mmr_rerank(docs, q, k=10, shortlist=5).collect()
        assert len(out) == 2
        with _pytest.raises(ValueError):
            similarity.mmr_rerank(docs, q, lam_num=10, lam_den=10)


def test_interpolate_fill_semantics(spark):
    """Linear interpolation: gap values exactly on the line between
    anchors; observation rows exact; leading/trailing gaps NULL."""
    from pyspark.sql import Row

    from lakeshack_spark.operators.timeseries import interpolate_fill

    obs = spark.createDataFrame(
        [
            Row(k="a", t=11, v=10),
            Row(k="a", t=14, v=40),   # gap 12,13 -> 20, 30
            Row(k="a", t=16, v=41),   # gap 15 -> 40.5 (exact half)
            Row(k="b", t=12, v=7),    # t=10,11 leading; 13.. trailing
            Row(k="c", t=99, v=1),    # outside window: key vanishes? no:
        ],                             # keys come from observations —
        # c's only obs is out of range, so its spine rows are all NULL
    )
    out = {
        (r.k, r.t): (r.value, r.is_gap)
        for r in interpolate_fill(obs, "k", "t", "v", 10, 16).collect()
    }
    assert out[("a", 11)] == (10.0, False)
    assert out[("a", 12)] == (20.0, True)
    assert out[("a", 13)] == (30.0, True)
    assert out[("a", 14)] == (40.0, False)
    assert out[("a", 15)] == (40.5, True)   # exact half, bit-stable
    assert out[("a", 16)] == (41.0, False)
    assert out[("a", 10)] == (None, True)   # leading: no left anchor
    assert out[("b", 12)] == (7.0, False)
    assert out[("b", 10)] == (None, True) and out[("b", 15)] == (None, True)
    # out-of-range observation feeds neither grid values nor anchors
    assert all(out[("c", t)] == (None, True) for t in range(10, 17))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="start"):
        interpolate_fill(obs, "k", "t", "v", 5, 4)


# ------------------------- r13: bit-exact Arrow twins (cosine family)

def _edge_vec_frames(spark):
    """Clean + NULL + ragged vectors, and a 2-centroid set: the frame the
    expression-path edge semantics were pinned on (NULL/ragged rows get
    NULL cosine in scoring and the smallest cid in assignment)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [1.0, 1.0, 0.0]),
        (3, None),
        (4, [1.0, 2.0]),
    ]
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        T.StructType(
            [
                T.StructField("centroid_id", T.LongType()),
                T.StructField("centroid", T.ArrayType(T.FloatType())),
            ]
        ),
    )
    return spark.createDataFrame(rows, schema), cents


def test_cosine_topk_arrow_is_bit_exact_twin(spark):
    """impl='arrow' must equal impl='expr' in EVERY cell — cosine doubles
    to the last bit (the sequential-fold contract that keeps the
    hash-gated entries oracle-exact), ranks, and the NULL cosines of
    NULL/ragged candidates (NULL, not NaN: NULL ranks last under desc
    while NaN would rank first)."""
    df, _ = _edge_vec_frames(spark)
    q = df.filter(F.col("vec_id") < 2)
    e = sorted(map(tuple, similarity.cosine_topk(df, q, k=10, impl="expr").collect()))
    a = sorted(map(tuple, similarity.cosine_topk(df, q, k=10, impl="arrow").collect()))
    assert e == a and len(e) == 8

    emb = load_table(spark, SF, "embeddings")
    q3 = emb.filter(F.col("vec_id") < 3)
    e = sorted(map(tuple, similarity.cosine_topk(emb, q3, k=5, impl="expr").collect()))
    a = sorted(map(tuple, similarity.cosine_topk(emb, q3, k=5, impl="arrow").collect()))
    assert e == a and len(e) == 15


def test_ivf_assign_arrow_exact_twin_and_ties(spark):
    """Assignment parity on the edge frame: NULL and ragged vectors take
    the smallest cid (all-NULL sims tie in the expression path's
    array_max, which then maxes neg_cid), equidistant vectors tie toward
    the smaller cid, and real-table assignments agree cell-for-cell."""
    df, cents = _edge_vec_frames(spark)
    e = sorted(
        (r["vec_id"], r["cell"])
        for r in similarity.ivf_assign(df, cents, impl="expr").collect()
    )
    a = sorted(
        (r["vec_id"], r["cell"])
        for r in similarity.ivf_assign(df, cents, impl="arrow").collect()
    )
    assert e == a == [(0, 0), (1, 1), (2, 0), (3, 0), (4, 0)]

    emb = load_table(spark, SF, "embeddings")
    cents8 = similarity.sample_centroids(emb, 8)
    e = sorted(
        (r["vec_id"], r["cell"])
        for r in similarity.ivf_assign(emb, cents8, impl="expr").collect()
    )
    a = sorted(
        (r["vec_id"], r["cell"])
        for r in similarity.ivf_assign(emb, cents8, impl="arrow").collect()
    )
    assert e == a


def test_ivfpq_encode_arrow_is_one_map_in_pandas(spark):
    """Assignment, residual and PQ codes run in ONE Arrow pass: the
    vectors cross the Python boundary once."""
    emb = load_table(spark, SF, "embeddings")
    cents = similarity.sample_centroids(emb, 4)
    res = similarity.ivf_residuals(emb, cents)
    books = similarity.pq_train(res, m=4, n_codes=4, sample_n=64, iters=2,
                                vec_col="__res")
    enc = similarity.ivfpq_encode(emb, cents, books, impl="arrow")
    plan = enc._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert plan.count("MapInPandas") == 1, plan


def test_ivf_residuals_collects_centroids_once(spark):
    """Building the residual frame collects the centroid set once: the
    same entries assign the cells and build the centroid map, so the
    build runs exactly one Spark job."""
    emb = load_table(spark, SF, "embeddings")
    cents = similarity.sample_centroids(emb, 4)
    sc = spark.sparkContext
    group = "test_ivf_residuals_collects_centroids_once"
    sc.setJobGroup(group, group)
    try:
        similarity.ivf_residuals(emb, cents)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_ivfpq_encode_arrow_cells_exact_and_edges(spark):
    """The one-pass encode assigns exactly ivf_assign's cells and equals
    the residual frame's PQ encode in every column (sf0.001 and the
    edge frame's clean rows, equidistant tie included). NULL or ragged
    vectors raise naming the cause; zero-norm inputs and centroids keep
    the ANSI-twin zero-norm error."""
    emb = load_table(spark, SF, "embeddings")
    cents = similarity.sample_centroids(emb, 8)
    cents = spark.createDataFrame(cents.collect(), cents.schema)
    res = similarity.ivf_residuals(emb, cents)
    books = similarity.pq_train(res, m=4, n_codes=8, sample_n=200, iters=3,
                                vec_col="__res")
    cols = ["vec_id", "cell"] + [f"code_{j}" for j in range(4)] + [
        "recon_sqerr"
    ]
    got = sorted(
        map(tuple, similarity.ivfpq_encode(emb, cents, books)
            .select(cols).collect())
    )
    want = sorted(
        map(tuple, similarity.pq_encode_arrow(res, books, vec_col="__res")
            .select(cols).collect())
    )
    assert got == want and len(got) == emb.count()
    cells = sorted(
        (r.vec_id, r.cell)
        for r in similarity.ivf_assign(emb, cents).select(
            "vec_id", "cell"
        ).collect()
    )
    assert [g[:2] for g in got] == cells

    df, cents2 = _edge_vec_frames(spark)
    books3 = [[(0, [0.0, 0.0, 0.0], 0.0), (1, [0.0, 0.5, 0.0], 0.25)]]
    clean = df.filter(F.col("vec_id") < 3)
    enc = {
        r.vec_id: (r.cell, r.code_0, r.recon_sqerr)
        for r in similarity.ivfpq_encode(clean, cents2, books3).collect()
    }
    assert {v: c for v, (c, _k, _e) in enc.items()} == {
        r.vec_id: r.cell
        for r in similarity.ivf_assign(clean, cents2, impl="expr").collect()
    } == {0: 0, 1: 1, 2: 0}
    # residuals 0, 0 and (0, 1, 0): the last encodes to (0, 0.5, 0)
    assert enc == {0: (0, 0, 0.0), 1: (1, 0, 0.0), 2: (0, 1, 0.25)}
    with pytest.raises(Exception, match="NULL or ragged"):
        similarity.ivfpq_encode(df, cents2, books3).collect()

    schema = "vec_id long, embedding array<float>"
    zero_vec = spark.createDataFrame([(0, [0.0, 0.0, 0.0])], schema)
    with pytest.raises(Exception, match="zero-norm input"):
        similarity.ivfpq_encode(zero_vec, cents2, books3).collect()
    zero_cent = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "centroid_id long, centroid array<float>",
    )
    with pytest.raises(Exception, match="zero-norm centroid"):
        similarity.ivfpq_encode(clean, zero_cent, books3).collect()


def test_ivf_topk_arrow_is_bit_exact_twin(spark):
    emb = load_table(spark, SF, "embeddings")
    q3 = emb.filter(F.col("vec_id") < 3)
    cents8 = similarity.sample_centroids(emb, 8)
    e = sorted(
        map(
            tuple,
            similarity.ivf_topk(
                emb, q3, cents8, k=5, nprobe=8, impl="expr"
            ).collect(),
        )
    )
    a = sorted(
        map(
            tuple,
            similarity.ivf_topk(
                emb, q3, cents8, k=5, nprobe=8, impl="arrow"
            ).collect(),
        )
    )
    assert e == a and len(e) == 15


def test_cosine_arrow_zero_norm_raises_like_ansi(spark):
    """The expression path raises DIVIDE_BY_ZERO (Spark 4 ANSI double
    division) on a zero-norm vector; the Arrow twin must fail too, not
    silently emit inf/NaN cosines."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0])], schema
    )
    q = df.filter(F.col("vec_id") == 0)
    with pytest.raises(Exception, match="zero-norm|DIVIDE_BY_ZERO"):
        similarity.cosine_topk(df, q, k=2, impl="arrow").collect()


def test_cosine_zero_norm_self_pair_expr_scores_arrow_raises(spark):
    """Intended divergence, pinned: a zero-norm candidate whose only
    pairing is its own self-pair. The expression path drops self-pairs
    BEFORE dividing, so it never divides by the zero norm and scores
    the remaining pair; the Arrow scorer checks every candidate norm in
    the batch before dropping self-pairs, so it raises. A zero vector
    has no cosine, and failing on one in the input is the safer
    contract."""
    schema = "vec_id long, embedding array<float>"
    vecs = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 1.0])], schema
    )
    q = spark.createDataFrame([(0, [1.0, 1.0])], schema)
    e = [
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.cosine_topk(vecs, q, k=2, impl="expr").collect()
    ]
    assert e == [(0, 1, 1)]
    with pytest.raises(Exception, match="zero-norm candidate"):
        similarity.cosine_topk(vecs, q, k=2, impl="arrow").collect()


def test_topk_two_stage_equals_single_window(spark):
    """ONE query over many candidates — the regime where a single
    per-query window ranks on one task. The two-stage top-k returns the
    single-window result row for row, and its stage 1 spreads the
    ranking over more than one (query, partition) key."""
    from pyspark.sql import Window

    emb = load_table(spark, SF, "embeddings").repartition(4)
    q1 = emb.filter(F.col("vec_id") == 0)
    two = similarity.cosine_topk(emb, q1, k=10, impl="expr")
    scored = (
        emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("__cv"))
        .crossJoin(F.broadcast(q1.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("__qv"))))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                similarity.cosine_col(F.col("__qv"), F.col("__cv"))
                .alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    one = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 10
    )
    assert sorted(map(tuple, two.collect())) == sorted(
        map(tuple, one.collect())
    )
    keys = scored.select(
        "query_id", F.spark_partition_id().alias("p")
    ).distinct().count()
    assert keys > 1


def test_cosine_topk_arrow_plan_keeps_two_stage_window(spark):
    """The arrow scorer replaces only the scoring leg: the two-stage
    per-query top-k (partial __part/__prank window before the global
    rank) must survive, and the scorer must be a single MapInPandas
    with no extra Exchange below it."""
    emb = load_table(spark, SF, "embeddings")
    q3 = emb.filter(F.col("vec_id") < 3)
    plan = similarity.cosine_topk(emb, q3, k=5, impl="arrow")._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert plan.count("Window") >= 2 and "__prank" in plan, plan
    assert "MapInPandas" in plan, plan
