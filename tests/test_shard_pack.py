"""Token-budget shard packing via the scalable grouped prefix sum — the
window-cumsum semantics without the single-reducer window plan.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from swmaestro_crawler_spark.operators.packing import (
    SHARD_TOKENS,
    corpus_docs,
    grouped_prefix_sum,
    q_corpus_shard_pack,
    shard_pack,
)

SF_DIR = "/root/testdata/sf0.01"


def test_grouped_prefix_sum_matches_pandas(spark):
    rows = [(g, i, (i * 7 + g) % 13 + 1) for g in range(3) for i in range(200)]
    df = spark.createDataFrame(rows, ["grp", "k", "v"])
    out, handle = grouped_prefix_sum(df, "grp", ["k"], "v", n_parts=8)
    got = out.toPandas().sort_values(["grp", "k"]).reset_index(drop=True)
    handle.unpersist()
    pdf = pd.DataFrame(rows, columns=["grp", "k", "v"]).sort_values(["grp", "k"])
    pdf["running"] = pdf.groupby("grp")["v"].cumsum()
    assert got["running"].tolist() == pdf["running"].tolist()


def test_shard_pack_no_single_reducer(spark):
    """The whole point: no Exchange SinglePartition anywhere in the
    physical plan (the oracle's window-cumsum shape would have one)."""
    packed, handle = shard_pack(corpus_docs(spark, SF_DIR))
    plan = packed._jdf.queryExecution().executedPlan().toString()
    handle.unpersist()
    assert "MapInPandas" in plan  # the prefix sum's running-total pass
    assert "Exchange SinglePartition" not in plan


def test_corpus_shard_pack_leaves_nothing_cached(spark):
    """``shard_pack`` persists the prefix sum's range-sorted frame; the
    contract query must release it, so running the query leaves Spark's
    cache manager as it found it."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    rows = q_corpus_shard_pack(spark, SF_DIR).collect()
    assert len(rows) == 500
    assert cache.isEmpty()


def test_shard_pack_greedy_budget(spark):
    """Greedy semantics: in pack order (md5-hash key), every shard stops
    before CROSSING the budget — its total minus its LAST document is
    < SHARD_TOKENS — and shard ids are dense from 0 per split."""
    import hashlib

    df = q_corpus_shard_pack(spark, SF_DIR).toPandas()
    assert len(df) == 500
    df["hkey"] = [
        int(hashlib.md5(str(d).encode()).hexdigest()[:8], 16) for d in df["doc_id"]
    ]
    df = df.sort_values(["split", "hkey", "doc_id"])
    for (_split, _shard), blk in df.groupby(["split", "shard"], sort=False):
        assert blk["n_tokens"].sum() - blk["n_tokens"].iloc[-1] < SHARD_TOKENS
    for _split, blk in df.groupby("split"):
        shards = sorted(blk["shard"].unique())
        assert shards == list(range(len(shards)))
    assert df.groupby("split")["shard"].nunique().sum() > 3  # multiple shards


def test_shard_pack_deterministic(spark):
    a = q_corpus_shard_pack(spark, SF_DIR).toPandas().sort_values("doc_id")
    b = q_corpus_shard_pack(spark, SF_DIR).toPandas().sort_values("doc_id")
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))
