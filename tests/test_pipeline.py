"""End-to-end corpus cleaning: stage composition, determinism, and the
keep-earliest near-dedup rule on the real documents table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakeshack_spark.operators.pipeline import CleanConfig, clean_corpus, clean_report
from lakeshack_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents")


def test_clean_corpus_monotone_and_deterministic(spark, docs):
    cfg = CleanConfig()
    out1 = clean_corpus(docs, cfg)
    n_in, n_out = docs.count(), out1.count()
    assert 0 < n_out <= n_in
    # near-dedup removed the synthetic near-duplicate block
    assert n_out < n_in
    # byte-identical rerun
    ids1 = sorted(r.doc_id for r in out1.select("doc_id").collect())
    ids2 = sorted(r.doc_id for r in clean_corpus(docs, cfg).select("doc_id").collect())
    assert ids1 == ids2
    # masked text column is present and real
    assert "text_masked" in out1.columns


def test_clean_corpus_stage_stats(spark, docs):
    """The profiling hook (VERDICT_r11 item 3) records exactly the three
    job boundaries, in order, without changing the result."""
    cfg = CleanConfig()
    stages: list = []
    out = clean_corpus(docs, cfg, stage_stats=stages)
    assert [s for s, _ in stages] == [
        "survivors_materialize", "drop_set", "anti_join_materialize",
    ]
    assert all(isinstance(w, float) and w >= 0 for _, w in stages)
    ids_profiled = sorted(r.doc_id for r in out.select("doc_id").collect())
    out.unpersist()
    plain = clean_corpus(docs, cfg)
    ids_plain = sorted(r.doc_id for r in plain.select("doc_id").collect())
    plain.unpersist()
    assert ids_profiled == ids_plain


def test_clean_keep_earliest_rule(spark, docs):
    cfg = CleanConfig()
    out = clean_corpus(docs, cfg)
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    from lakeshack_spark.operators import dedup

    # reference pair set under the SAME minhash/shingle parameters the
    # pipeline cleans with (k=2 bigrams, not the operator's k=1 default)
    pairs = dedup.minhash_verified_pairs(
        docs, threshold=cfg.jaccard_threshold, **cfg.minhash_cfg
    ).collect()
    for p in pairs:
        # for every verified near-dup pair, the larger id must be gone
        # whenever the smaller id survived the upstream filters
        if p.id_a in kept:
            assert p.id_b not in kept, (p.id_a, p.id_b)


def test_clean_report_counts_decrease(spark, docs):
    cfg = CleanConfig()
    rep = clean_report(docs, cfg)
    assert rep["input"] >= rep["after_quality_filters"]
    assert rep["after_quality_filters"] >= rep["after_exact_dedup"]
    assert rep["after_exact_dedup"] >= rep["after_near_dedup"]
    assert rep["after_near_dedup"] > 0
    # the report counts the pipeline's own stages, not a copy of them
    out = clean_corpus(docs, cfg)
    assert rep["after_near_dedup"] == out.count()
    out.unpersist()


def test_language_restriction(spark, docs):
    out = clean_corpus(docs, CleanConfig(languages=("en",), near_dedup=False))
    langs = {r.lang_pred for r in out.select("lang_pred").distinct().collect()}
    assert langs <= {"en"}


def test_pipeline_is_shuffle_free_until_dedup(spark, docs):
    # the signal kernel, filter and mask prefix is map-only (one Arrow
    # pass, then JVM expressions): no Exchange may appear in the
    # pre-dedup plan
    cfg = CleanConfig(near_dedup=False)
    from lakeshack_spark.operators import dedup, text

    df = text.mask_pii(
        text.repetition_stats(
            text.quality_score(text.lang_id(docs), "text"), "text"
        )
    ).filter(F.col("n_words") >= 3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_clean_corpus_releases_intermediate_caches(spark, docs):
    """Cache contract: one invocation retains exactly ONE persisted frame
    (the returned result — the caller's release handle); the survivor-set
    and drop-set caches are released before return. Unpersisting the
    result leaves the session cache where it started."""
    jsc = spark.sparkContext._jsc.sc()
    n_before = jsc.getPersistentRDDs().size()
    # Distinct input plan: Spark's CacheManager dedups identical plans, so
    # reusing another test's exact input would report zero new caches.
    out = clean_corpus(docs.filter(F.col("doc_id") % 7 != 3), CleanConfig())
    n_after = jsc.getPersistentRDDs().size()
    assert n_after - n_before == 1
    out.unpersist()
    assert jsc.getPersistentRDDs().size() == n_before


def test_prefilter_signal_pass_runs_after_the_spread(spark, docs, tmp_path):
    """On a one-file, one-row-group corpus (one scan task) the signal
    pass must sit ABOVE spread_small_input's round-robin exchange, so it
    runs on every core. A Filter on column expressions would be pushed
    below that exchange, into the single scan task; the kernel's mapIn*
    node is what stops it, and no interpreted lambda may remain below."""
    import pyarrow.parquet as pq

    from lakeshack_spark.operators.pipeline import _prefilter

    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("the spread needs defaultParallelism >= 2")
    src = str(tmp_path / "documents.parquet")
    pq.write_table(docs.toArrow(), src)  # one row group
    one = spark.read.parquet(src)
    assert one.rdd.getNumPartitions() == 1
    filtered, _ = _prefilter(one, CleanConfig(), "text", "doc_id")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    spread = [i for i, ln in enumerate(lines) if "RoundRobinPartitioning" in ln]
    kernel = [i for i, ln in enumerate(lines) if "MapInArrow" in ln]
    assert len(spread) == 1 and kernel and kernel[0] < spread[0], plan
    assert "lambdafunction" not in "\n".join(lines[spread[0]:]), plan
