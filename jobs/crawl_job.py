"""spark-submit entrypoint for the crawl engine.

Ships as::

    python tools/make_dist.py          # -> dist/swmaestro_crawler_spark.zip
    spark-submit --master <cluster> \\
        --py-files dist/swmaestro_crawler_spark.zip \\
        jobs/crawl_job.py --warehouse /path/wh --seeds 1000 --rounds 3

The job is resumable: re-submitting with the same --warehouse continues
from the last committed round checkpoint (byte-identical replay of any
half-finished round). On a cluster, pass --master via spark-submit and
leave --local-cores unset.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(description="PySpark crawl engine job")
    ap.add_argument("--warehouse", required=True, help="catalog warehouse dir")
    ap.add_argument("--seeds", type=int, default=1000, help="seed-list size")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--max-depth", type=int, default=4)
    ap.add_argument("--round-seconds", type=float, default=30.0)
    ap.add_argument("--per-host-cap", type=int, default=1000)
    ap.add_argument("--frontier-partitions", type=int, default=32)
    ap.add_argument("--bloom-bits", type=int, default=1 << 24)
    ap.add_argument("--n-hosts", type=int, default=200)
    ap.add_argument("--local-cores", type=int, default=None,
                    help="run on local[N] (omit under a real cluster master)")
    ap.add_argument("--score-admission", action="store_true",
                    help="spend each host's budget on the highest "
                    "link-scored URLs first (OPIC in-link mass, kept as a "
                    "standing O(delta) contribution log that compacts "
                    "itself) instead of LIFO")
    ap.add_argument("--cuckoo-buckets", type=int, default=None,
                    help="enable the cuckoo seen tier with 2^k buckets/shard "
                    "(pass the bucket count, e.g. 32768)")
    ap.add_argument("--adaptive-backoff", action="store_true",
                    help="stretch a host's effective crawl-delay 2^streak "
                    "while its rounds keep majority-failing with transient "
                    "errors (Heritrix/Nutch-style adaptive politeness)")
    ap.add_argument("--robots-ttl", type=int, default=None, metavar="N",
                    help="re-fetch + re-parse every host's robots.txt every "
                    "N rounds and overwrite the ROBOTS dimension (policy "
                    "drift binds from that round on); default: fetch once "
                    "at bootstrap")
    ap.add_argument("--redirect-prob", type=float, default=0.0,
                    help="synthetic-web 3xx redirect probability (same-host "
                    "chains followed inline, cross-host 301 handoffs re-enter "
                    "the frontier, >4-hop chains die as 508)")
    ap.add_argument("--revisit-round", type=int, default=None,
                    help="after the crawl, run one revisit round at this "
                    "round number (change-rate due frontier)")
    ap.add_argument("--conditional-revisit", action="store_true",
                    help="revalidate: unchanged pages become 4-column "
                    "observation rows instead of re-stored span documents "
                    "(HTTP If-None-Match shape)")
    ap.add_argument("--media-sweep", action="store_true",
                    help="after the crawl, resolve new media_refs into "
                    "the content-addressed blob store (idempotent; only "
                    "unseen refs fetch, only new content stores)")
    ap.add_argument("--sql", default=None, metavar="QUERY",
                    help="after the crawl, register every warehouse "
                    "table as a temp view and print this SQL query's "
                    "rows as JSON lines (the reference's psycopg2-SELECT "
                    "surface)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from swmaestro_crawler_spark.config import CrawlConfig, spark_builder
    from swmaestro_crawler_spark.plans.crawl import Crawl
    from swmaestro_crawler_spark.sources.synth_web import make_seeds

    if args.local_cores:
        spark = spark_builder("crawl-job", master=f"local[{args.local_cores}]").getOrCreate()
    else:
        spark = SparkSession.builder.appName("crawl-job").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    cfg = CrawlConfig(
        round_seconds=args.round_seconds,
        max_rounds=args.rounds,
        max_depth=args.max_depth,
        per_host_cap=args.per_host_cap,
        frontier_partitions=args.frontier_partitions,
        bloom_bits=args.bloom_bits,
        synth_n_hosts=args.n_hosts,
        warehouse=args.warehouse,
        score_admission=args.score_admission,
        cuckoo_buckets=args.cuckoo_buckets,
        synth_redirect_prob=args.redirect_prob,
        adaptive_backoff=args.adaptive_backoff,
        robots_ttl_rounds=args.robots_ttl,
    )
    crawl = Crawl(spark, cfg)
    results = crawl.run(
        spark.createDataFrame(make_seeds(cfg, args.seeds)), rounds=args.rounds
    )
    for r in results:
        print(
            json.dumps(
                {
                    "round": r.round,
                    "admitted": r.admitted,
                    "fetched_ok": r.fetched_ok,
                    "failed": r.failed,
                    "deferred": r.deferred,
                    "new_links": r.new_links,
                    "excluded": r.excluded,
                    "pending_next": r.pending_next,
                }
            )
        )
    if args.revisit_round is not None:
        from swmaestro_crawler_spark.plans.revisit import run_revisit

        print(json.dumps(run_revisit(
            spark, crawl.cat, cfg, args.revisit_round,
            conditional=args.conditional_revisit,
        )))
    if args.media_sweep:
        from swmaestro_crawler_spark.plans.media import media_sweep

        ms = media_sweep(spark, crawl.cat)
        print(json.dumps({
            "media_refs_seen": ms.refs_seen,
            "media_refs_new": ms.refs_new,
            "media_blobs_new": ms.blobs_new,
            "media_blob_bytes": ms.blobs_bytes,
        }))
    if args.sql:
        from swmaestro_crawler_spark.plans.crawl import warehouse_views

        crawl.cat.register_views(warehouse_views())
        for row in spark.sql(args.sql).toJSON().toLocalIterator():
            print(row)
    print(json.dumps({"rounds_run": len(results), "warehouse": cfg.warehouse}))
    spark.stop()


if __name__ == "__main__":
    main()
