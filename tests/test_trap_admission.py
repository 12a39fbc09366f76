"""Spider-trap admission guard (opt-in): at most trap_template_cap rows
per (host, URL template) enter politeness admission per round; overflow
stays pending. Off by default — every reference-parity test runs with
the cap disabled and is unaffected."""

from __future__ import annotations

import pyspark.sql.functions as F

from swmaestro_crawler_spark.operators.politeness import cap_per_template
from swmaestro_crawler_spark.schema import FRONTIER
from tests.conftest import small_cfg


def _frontier(spark, trap_n=60, normal_n=8):
    """One host with a calendar-style trap template (digit-varying query
    string) plus a handful of distinct-template pages, one clean host."""
    rows = []
    for i in range(trap_n):
        rows.append((f"https://h0.test/cal?day={i}", 0, "h0.test", 1, i, 0, 0, None))
    for i in range(normal_n):
        rows.append((f"https://h0.test/page-x{'y' * i}", 0, "h0.test", 1, 100 + i, 0, 0, None))
    for i in range(normal_n):
        # digit-free distinct paths: each is its own template (a digit
        # path like /item/7 would correctly collapse into one family)
        rows.append((f"https://h1.test/item/{chr(97 + i)}", 0, "h1.test", 1, i, 0, 0, None))
    df = spark.createDataFrame(rows, FRONTIER)
    return df.withColumn("url_hash", F.xxhash64("url"))


def test_cap_bounds_every_template(spark, tmp_path):
    cfg = small_cfg(str(tmp_path / "wh"), trap_template_cap=5)
    fr = _frontier(spark)
    kept, overflow = cap_per_template(fr, cfg)
    tpl = F.regexp_replace(F.col("url"), "[0-9]+", "N")
    per_tpl = kept.groupBy("host", tpl.alias("t")).count().collect()
    assert per_tpl and all(r["count"] <= 5 for r in per_tpl)
    # nothing lost, nothing duplicated
    assert kept.count() + overflow.count() == fr.count()
    assert kept.join(overflow, "url_hash", "inner").count() == 0
    # the trap template was actually throttled; distinct templates were not
    trap_kept = kept.filter(F.col("url").startswith("https://h0.test/cal")).count()
    assert trap_kept == 5
    assert kept.filter(F.col("host") == "h1.test").count() == 8


def test_cap_keeps_priority_winners(spark, tmp_path):
    """The kept rows must be the TOP-cap rows of the engine priority
    order (depth DESC, seq ASC, url_hash ASC) within the template — the
    same winners a single global window would pick."""
    cfg = small_cfg(str(tmp_path / "wh"), trap_template_cap=3)
    fr = _frontier(spark, trap_n=40, normal_n=0)
    kept, _ = cap_per_template(fr, cfg)
    got = sorted(
        r.seq for r in kept.filter(F.col("url").contains("cal?day")).collect()
    )
    assert got == [0, 1, 2]  # equal depth -> lowest seq wins


def test_cap_is_deterministic_across_partitionings(spark, tmp_path):
    cfg = small_cfg(str(tmp_path / "wh"), trap_template_cap=7)
    fr = _frontier(spark)
    a = {r.url_hash for r in cap_per_template(fr.repartition(1), cfg)[0].collect()}
    b = {r.url_hash for r in cap_per_template(fr.repartition(13), cfg)[0].collect()}
    assert a == b


def test_trap_guard_end_to_end_bounds_admissions(tmp_path, crawled):
    """A full crawl with the guard on still commits rounds and never
    admits more than cap per (host, template) in any round."""
    _, crawl, results = crawled(tmp_path / "wh", 20, 2, trap_template_cap=2)
    assert len(results) == 2 and all(r.fetched_ok > 0 for r in results)
    from swmaestro_crawler_spark.schema import CRAWL_ORDER

    order = crawl.cat.read("crawl_order", CRAWL_ORDER)
    tpl = F.regexp_replace(F.col("url"), "[0-9]+", "N")
    per = (
        order.groupBy("round", "host", tpl.alias("t"))
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert per <= 2


def test_cap_off_matches_reference_path(spark, tmp_path):
    """trap_template_cap=None (default) must leave the crawl byte-for-
    byte on the oracle-parity path: same admitted set as an explicit
    huge cap."""
    cfg_off = small_cfg(str(tmp_path / "a"))
    cfg_big = small_cfg(str(tmp_path / "b"), trap_template_cap=10_000)
    fr = _frontier(spark)
    kept_big, over_big = cap_per_template(fr, cfg_big)
    assert over_big.count() == 0
    assert kept_big.count() == fr.count()
    assert cfg_off.trap_template_cap is None
