"""Importance-weighted frontier admission (opt-in scheduler): the
score-first order changes WHICH rows win a host's politeness budget but
never the budget itself, degrades to the reference LIFO order at zero
score, and the PageRank scorer ranks the most-linked frontier URL first."""

from __future__ import annotations

import pyspark.sql.functions as F

from swmaestro_crawler_spark.operators.politeness import (
    score_admitted,
    split_admitted,
    synth_robots,
)
from swmaestro_crawler_spark.operators.scoretable import opic_contributions, url_graph
from swmaestro_crawler_spark.schema import FRONTIER
from tests.conftest import small_cfg


def _frontier(spark, cfg, n_per_host=40, hosts=4):
    from swmaestro_crawler_spark.sources.synth_web import hosts as host_names

    rows = []
    for hi, h in enumerate(host_names(hosts)):
        for i in range(n_per_host):
            url = f"https://{h}/w/{i}"
            rows.append((url, None, h, 1, i, 0, 0, f"https://{h}/"))
    df = spark.createDataFrame(
        [(u, 0, h, d, s, r, a, p) for (u, _x, h, d, s, r, a, p) in rows], FRONTIER
    )
    return df.withColumn("url_hash", F.xxhash64("url"))


def test_score_order_wins_the_budget(spark, tmp_path):
    """With distinct scores, the admitted rows per host must be exactly
    the top-score rows (score DESC), not the LIFO winners."""
    cfg = small_cfg(str(tmp_path / "wh"), per_host_cap=5, round_seconds=5.0)
    robots = synth_robots(spark, cfg)
    fr = _frontier(spark, cfg)
    # score = seq so the best-by-score rows are the HIGHEST seq — the
    # exact opposite of the LIFO key (seq ASC) at equal depth
    scores = fr.select("url_hash", F.col("seq").alias("score"))
    admitted, deferred = score_admitted(fr, scores, robots, cfg)
    got = {
        (r.host, r.seq) for r in admitted.select("host", "seq").collect()
    }
    budgets = {
        r.host: r.b
        for r in admitted.groupBy("host").agg(F.count("*").alias("b")).collect()
    }
    for host, b in budgets.items():
        want = {(host, 39 - i) for i in range(b)}  # top-b seqs descending
        assert {(h, s) for (h, s) in got if h == host} == want
    # budget never exceeded, nothing lost
    assert admitted.count() + deferred.count() == fr.count()


def test_zero_scores_degrade_to_lifo(spark, tmp_path):
    """score_admitted with an empty score table must admit the same set
    as the reference LIFO split_admitted (score ties -> LIFO tiebreak)."""
    cfg = small_cfg(str(tmp_path / "wh"), per_host_cap=7, round_seconds=7.0)
    robots = synth_robots(spark, cfg)
    fr = _frontier(spark, cfg)
    empty = fr.select("url_hash", F.lit(0).cast("long").alias("score")).limit(0)
    a1, _ = score_admitted(fr, empty, robots, cfg)
    a2, _ = split_admitted(fr, robots, cfg)
    assert {r.url for r in a1.collect()} == {r.url for r in a2.collect()}


def test_opic_scores_rank_most_linked_first(spark):
    """A URL with many distinct parents must outscore one with one
    parent; sink URLs (no outlinks) still receive scores."""
    rows = [(f"https://h/t", f"https://h/p{i}") for i in range(10)]
    rows += [("https://h/u", "https://h/p0")]
    rows += [(f"https://h/p{i}", "https://h/seed") for i in range(10)]
    df = spark.createDataFrame(rows, "url string, parent string")
    scores = {r.url_hash: r.score for r in opic_contributions(df).collect()}
    t = scores[df.sparkSession.createDataFrame([("https://h/t",)], "u string")
               .select(F.xxhash64("u").alias("h")).collect()[0].h]
    u = scores[df.sparkSession.createDataFrame([("https://h/u",)], "u string")
               .select(F.xxhash64("u").alias("h")).collect()[0].h]
    assert t > u  # 10 inlinks beats 1
    # the score covers exactly the linked (>=1 inlink) URLs; everything
    # else coalesces to 0 in score_admitted
    assert len(scores) == url_graph(df).select("dst").distinct().count()


def _scored_crawl(crawled, spark, wh, par, score=True):
    from tests.test_resume import TABLES, table_digest

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(par))
        _, c, _ = crawled(wh, 30, 3, per_host_cap=4, round_seconds=4.0,
                          score_admission=score)
        return [table_digest(c, t) for t in TABLES], c
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_fast_path_ordering_matches_one_pagerank_superstep(spark):
    """opic_contributions is the OPIC-shaped in-link-mass fast
    path; its ORDERING must equal one true PageRank superstep:
    rank = PR_BASE + (85·inbox) div 100 is strictly monotone in inbox =
    fast_score, and URLs absent from the fast scores coalesce to 0 under
    every linked URL (pagerank gives them exactly PR_BASE, also below
    every linked node's rank)."""
    from pyspark.sql import functions as F

    from swmaestro_crawler_spark.operators.graph import PR_BASE, pagerank

    rows = [
        ("http://h/%d" % d, "http://h/%d" % s)
        for s, d in [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (3, 0), (4, 0), (4, 5)]
    ]
    df = spark.createDataFrame(rows, "url string, parent string")
    fast = {r.url_hash: r.score for r in opic_contributions(df).collect()}
    full = {
        r.node: r.rank for r in pagerank(url_graph(df), iters=1).collect()
    }
    # exact relation on linked nodes: rank = PR_BASE + (85*inbox) div 100
    for node, score in fast.items():
        assert full[node] == PR_BASE + (85 * score) // 100
    # nodes pagerank knows but the fast path omits are exactly the
    # zero-inlink ones, at the floor rank (=> below every linked node
    # in both orderings once score_admitted coalesces them to 0)
    for node, rank in full.items():
        if node not in fast:
            assert rank == PR_BASE
    assert len(fast) > 0 and len(full) > len(fast)
