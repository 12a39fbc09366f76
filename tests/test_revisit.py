"""Revisit flow: change-rate schedule over span history, due-frontier
build, end-to-end refetch, and determinism across identical warehouses."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from swmaestro_crawler_spark.catalog import Catalog
from swmaestro_crawler_spark.plans.revisit import (
    MAX_INTERVAL_ROUNDS,
    revisit_frontier,
    revisit_schedule,
    run_revisit,
)
from swmaestro_crawler_spark.schema import SPANS_DOC
from tests.conftest import small_cfg


def _crawl(crawled, wh, rounds=2, seeds=30):
    return crawled(wh, seeds, rounds, max_rounds=rounds)[:2]


def test_revisit_schedule_and_end_to_end(spark, tmp_path, crawled):
    cfg, c = _crawl(crawled, str(tmp_path / "wh"))
    spans = c.cat.read("spans", SPANS_DOC)
    n_docs = spans.select("doc_id").distinct().count()
    assert n_docs > 50

    # single-observation history: nothing ever changed -> MAX interval
    sched = revisit_schedule(spans)
    rows = sched.collect()
    assert len(rows) == n_docs
    assert all(r.n_obs == 1 and r.n_changes == 0 for r in rows)
    assert all(r.interval_rounds == MAX_INTERVAL_ROUNDS for r in rows)

    # far future: everything due; frontier is valid FRONTIER rows
    fr = revisit_frontier(c.cat, now_round=100)
    assert fr.count() == n_docs
    assert fr.filter(F.col("depth") != 0).count() == 0

    # nothing due right after the crawl
    assert revisit_frontier(c.cat, now_round=cfg.max_rounds).count() == 0

    res = run_revisit(spark, c.cat, cfg, now_round=100)
    assert res["refetched_ok"] > 0
    assert res["admitted"] <= n_docs

    # refetched docs now have a 2-observation history; the synthetic web
    # is deterministic, so no content changed -> still MAX interval and
    # not due again until round 100 + MAX
    sched2 = {r.doc_id: r for r in revisit_schedule(c.cat.read("spans", SPANS_DOC)).collect()}
    two_obs = [r for r in sched2.values() if r.n_obs == 2]
    assert len(two_obs) == res["refetched_ok"]
    assert all(r.n_changes == 0 for r in two_obs)
    assert all(r.due_round == 100 + MAX_INTERVAL_ROUNDS for r in two_obs)
    # docs the revisit did NOT successfully refetch (politeness-deferred
    # or transport-failed) keep their old history and stay due — exactly
    # the retry semantics a scheduler wants
    assert revisit_frontier(c.cat, now_round=101).count() == n_docs - res["refetched_ok"]


def test_revisit_is_deterministic_across_identical_warehouses(
    spark, tmp_path, crawled
):
    cfg, c = _crawl(crawled, str(tmp_path / "wh1"), rounds=2, seeds=20)
    shutil.copytree(str(tmp_path / "wh1"), str(tmp_path / "wh2"))
    cat2 = Catalog(spark, str(tmp_path / "wh2"))
    run_revisit(spark, c.cat, cfg, now_round=50)
    cfg2 = small_cfg(str(tmp_path / "wh2"))
    run_revisit(spark, cat2, cfg2, now_round=50)
    assert c.cat.content_digest("spans") == cat2.content_digest("spans")
    assert c.cat.content_digest("seen") == cat2.content_digest("seen")
