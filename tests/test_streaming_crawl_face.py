"""Streaming face of the crawl's own tables: the crawl_order data files
written by the round pipeline can be consumed as a Structured Streaming
source (per-round counts via availableNow must equal the batch table and
the metrics the round recorded) — the monitoring path a production
deployment runs next to the crawl."""

from __future__ import annotations

import os
import uuid

from pyspark.sql import functions as F

from swmaestro_crawler_spark.schema import CRAWL_ORDER, METRICS

ORDER_DDL = "round int, ord long, url string, host string, depth int, ok boolean"


def test_crawl_order_streams_to_per_round_counts(spark, cfg, tmp_path, crawled):
    _, crawl, results = crawled(cfg.warehouse, 30, 3)

    data_dir = os.path.join(crawl.cat.warehouse, "crawl_order", "data")
    src = spark.readStream.schema(ORDER_DDL).parquet(data_dir)
    sink = f"order_stream_{uuid.uuid4().hex[:8]}"
    q = (
        src.groupBy("round")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("ok").cast("int")).alias("n_ok"))
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {r.round: (r.n, r.n_ok) for r in spark.table(sink).collect()}

    batch = {
        r.round: (r.n, r.n_ok)
        for r in crawl.cat.read("crawl_order", CRAWL_ORDER)
        .groupBy("round")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("ok").cast("int")).alias("n_ok"))
        .collect()
    }
    assert streamed == batch

    # and both agree with the metrics the rounds recorded
    for res in results:
        n, n_ok = streamed[res.round]
        assert n_ok == res.fetched_ok
        assert n == res.admitted
