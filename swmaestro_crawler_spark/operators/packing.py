"""Training-shard packing: greedy token-budget packing of a corpus into
fixed-size shards, per train/valid/test split, over a deterministic
document order.

Engine-new capability (the reference has no notion of a training shard;
its closest shape is the rank-ordered seed batching at
Utils/Nox_Crawler.py:98-113). The hard part at scale is the RUNNING
TOKEN TOTAL: the naive plan is a window cumsum partitioned by split,
which funnels each split — i.e. 80% of a 100 TB corpus for 'train' —
through ONE reducer. ``grouped_prefix_sum`` instead reuses the
range-sort + per-partition-offset scheme of ``plans/round.with_global_ord``:

  1. ``repartitionByRange`` on (group, order keys) + sort-within — a
     fully parallel global sort with groups contiguous across the
     partition sequence;
  2. one tiny job aggregates per-(partition, group) value totals —
     bounded by n_parts x n_groups rows, never per-row data — and the
     driver turns them into running offsets;
  3. an order-preserving Arrow pass adds offset + within-partition
     running sum.

No ``Exchange SinglePartition`` anywhere (asserted by
tests/test_shard_pack.py). Shard id is then pure arithmetic:
``(cum_before_this_doc) div BUDGET`` — greedy packing where a document
never straddles shards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.text import SQL_WORD_HASH, SQL_WORDS, word_hash, words
from ..sources.testdata import load

SHARD_TOKENS = 2048  # shard budget (tokens); contract-scale constant
PACK_PARTITIONS = 32  # range partitions of shard_pack's prefix sum


def grouped_prefix_sum(
    df: DataFrame,
    group_col: str,
    sort_cols: list[str],
    value_col: str,
    n_parts: int,
    out_col: str = "running",
):
    """Running (inclusive) sum of ``value_col`` over ``sort_cols`` order
    WITHIN each ``group_col`` group, with no single-reducer stage.

    Driver state is bounded by n_parts x n_groups (the per-partition
    per-group totals), independent of row count — the documented
    scalable-zipWithIndex bound, extended per group. Deterministic for a
    given input (range sampling is seeded per input partition).

    Returns (result_df, persisted_handle); caller unpersists the handle
    after consuming the result.
    """
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    s = (
        df.repartitionByRange(n_parts, group_col, *sort_cols)
        .sortWithinPartitions(group_col, *sort_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    totals = (
        s.groupBy("_pid", group_col).agg(F.sum(value_col).alias("_tot")).collect()
    )
    by_group: dict[str, dict[int, int]] = {}
    for row in totals:
        by_group.setdefault(row[group_col], {})[row["_pid"]] = row["_tot"]
    offsets: dict[tuple[int, str], int] = {}
    for grp, pids in by_group.items():
        acc = 0
        for pid in sorted(pids):
            offsets[(pid, grp)] = acc
            acc += pids[pid]

    out_schema = StructType(
        [f for f in s.schema.fields if f.name != "_pid"]
        + [StructField(out_col, LongType(), False)]
    )

    def add_running(batches):
        done: dict[str, int] = {}
        for b in batches:
            if len(b) == 0:
                continue
            pid = int(b["_pid"].iloc[0])
            parts = []
            # rows are sorted by (group, sort_cols) within the partition,
            # so each group is one contiguous block per batch
            for grp, blk in b.groupby(group_col, sort=False):
                base = offsets[(pid, grp)] + done.get(grp, 0)
                cum = blk[value_col].cumsum()
                blk = blk.drop(columns=["_pid"]).copy()
                blk[out_col] = base + cum
                done[grp] = done.get(grp, 0) + int(cum.iloc[-1])
                parts.append(blk)
            yield pd.concat(parts)

    return s.mapInPandas(add_running, out_schema), s


def shard_pack(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(doc_id, split, n_tokens) -> (doc_id, split, n_tokens, shard):
    greedy fixed-budget packing in md5-hash document order per split.
    Returns (packed, persisted_handle), like ``grouped_prefix_sum``: the
    lazy ``packed`` reads the persisted range-sorted frame, so the caller
    unpersists the handle once ``packed`` is consumed."""
    keyed = docs.withColumn("hkey", word_hash(F.col("doc_id").cast("string")))
    running, handle = grouped_prefix_sum(
        keyed, "split", ["hkey", "doc_id"], "n_tokens", PACK_PARTITIONS
    )
    packed = running.select(
        "doc_id",
        "split",
        "n_tokens",
        F.floor((F.col("running") - F.col("n_tokens")) / F.lit(SHARD_TOKENS))
        .cast("long")
        .alias("shard"),
    )
    return packed, handle


def corpus_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``shard_pack``'s input over the corpus: token counts from the
    shared word splitter, split from the engine's deterministic 80/10/10
    hash split."""
    h = word_hash(F.col("doc_id").cast("string")) % 10
    split = (
        F.when(h < 8, F.lit("train")).when(h < 9, F.lit("valid")).otherwise(F.lit("test"))
    )
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        split.alias("split"),
        F.size(words(F.col("text"))).cast("long").alias("n_tokens"),
    )


def q_corpus_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract query: ``shard_pack`` over ``corpus_docs``, shards packed
    at SHARD_TOKENS. Oracle is the per-split window cumsum — semantically
    identical; only the PLAN differs (the oracle's window is the
    single-reducer shape this operator exists to avoid).

    The packed rows (one per document) are checkpointed into executor
    block storage, not collected to the driver, and the prefix sum's
    persisted frame is released: the returned frame owns its blocks
    (freed with it), and nothing stays in Spark's cache manager."""
    packed, handle = shard_pack(corpus_docs(spark, sf_dir))
    try:
        return packed.localCheckpoint(eager=True)
    finally:
        handle.unpersist()


_WS = SQL_WORDS.format(c="text")
_H = SQL_WORD_HASH.format(c="CAST(doc_id AS VARCHAR)")

SQL_CORPUS_SHARD_PACK = f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN {_H} % 10 < 8 THEN 'train'
              WHEN {_H} % 10 < 9 THEN 'valid' ELSE 'test' END AS split,
         CAST(len({_WS}) AS BIGINT) AS n_tokens,
         {_H} AS hkey
  FROM documents),
c AS (
  SELECT doc_id, split, n_tokens,
         sum(n_tokens) OVER (PARTITION BY split ORDER BY hkey, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM t)
SELECT doc_id, split, n_tokens,
       CAST((cum - n_tokens) // {SHARD_TOKENS} AS BIGINT) AS shard
FROM c
"""


QUERIES = {
    "corpus_shard_pack": (q_corpus_shard_pack, SQL_CORPUS_SHARD_PACK),
}
