"""Bigram-LM scorer and host-reputation plan shapes + semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from swmaestro_crawler_spark.operators.curation import q_host_reputation
from swmaestro_crawler_spark.operators.text_analysis import (
    LM_SCALE,
    q_bigram_lm_score,
)
from swmaestro_crawler_spark.functions.text import word_ngrams, words
from tests.test_plans import SF_DIR, plan_of


def test_bigram_lm_plan_no_cartesian_and_partial_aggs(spark):
    plan = plan_of(q_bigram_lm_score(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # count tables build with map-side partial aggregation
    assert plan.count("HashAggregate") >= 4
    assert "Exchange SinglePartition" not in plan


def test_bigram_lm_semantics(spark):
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "solo")], "doc_id long, text string"
    )
    bg = df.select("doc_id", F.explode(word_ngrams(words(F.col("text")), 2)).alias("bg"))
    got = sorted((r.doc_id, r.bg) for r in bg.collect())
    # doc 3 has one token -> no bigrams; doc 1 emits overlapping windows
    assert got == [(1, "a b"), (1, "a b"), (1, "b a"), (2, "a b")]
    import tempfile, os
    d = tempfile.mkdtemp(prefix="lm_sf_")
    df.withColumn("lang", F.lit("en")).withColumn("source", F.lit("s")).withColumn(
        "n_chars", F.length("text")
    ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
    rows = {r.doc_id: r for r in q_bigram_lm_score(spark, d).collect()}
    assert 3 not in rows  # no bigrams -> no row
    assert rows[2].n_bigrams == 1 and rows[2].avg_cond_milli == LM_SCALE
    # doc1: bigrams [a b, b a, a b]; cond(a b)=1e6*3 div 3=1e6, cond(b a)=1e6*1 div 1=1e6
    assert rows[1].n_bigrams == 3 and rows[1].avg_cond_milli == LM_SCALE


def test_host_reputation_single_groupby_no_join(spark):
    plan = plan_of(q_host_reputation(spark, SF_DIR))
    assert "Join" not in plan
    assert "Exchange SinglePartition" not in plan
    rows = {r.source: r for r in q_host_reputation(spark, SF_DIR).collect()}
    for r in rows.values():
        assert 0 < r.n_unique <= r.n_docs
        assert 0 <= r.keep_n <= r.n_docs
        assert -500 <= r.reputation_permille <= 1000
