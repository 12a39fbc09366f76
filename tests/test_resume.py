"""Byte-identical resume + parallelism independence.

north_rule: a killed job resumes mid-round and the resulting tables are
byte-identical to an uninterrupted run; crawl results must not depend on
cluster size (sandbox proxy: different shuffle parallelism).
"""

from __future__ import annotations

import hashlib
import json
import os
import threading

import pytest

from swmaestro_crawler_spark.catalog import Catalog
from swmaestro_crawler_spark.plans import crawl as crawl_mod
from swmaestro_crawler_spark.plans import round as round_mod
from swmaestro_crawler_spark.plans.crawl import Crawl
from swmaestro_crawler_spark.schema import CRAWL_ORDER
from swmaestro_crawler_spark.sources.synth_web import make_seeds

from tests.conftest import small_cfg

TABLES = ("spans", "seen", "crawl_order", "dead", "pending")


def table_digest(crawl: Crawl, table: str) -> str:
    """Raw file bytes + logical content digest. Raw bytes are identical
    within one JVM; across JVMs only the parquet footer's ``encodings``
    list order (a parquet-mr hash-set artifact) can differ, which
    ``Catalog.content_digest`` is insensitive to — process-level
    kill/resume is exercised by bench/verify drivers."""
    h = hashlib.sha256()
    for path in crawl.cat.data_files(table):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest() + ":" + crawl.cat.content_digest(table)


def test_resume_is_byte_identical(spark, tmp_path, crawled):
    _, a, _ = crawled(tmp_path / "a", 40, 3, synth_fail_prob=0.15)
    cfg_b, b, _ = crawled(tmp_path / "b", 40, 2, synth_fail_prob=0.15)
    seeds = spark.createDataFrame(make_seeds(cfg_b, 40))
    # simulate a crash mid-round-2: some tables committed, checkpoint not
    junk = spark.createDataFrame([("http://x/", [], 99, "x")],
                                 "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, round int, host string")
    b.cat.append("spans", junk)
    b.cat.append("crawl_order", b.cat.read("crawl_order", CRAWL_ORDER).limit(1))
    # resume: must roll back the partial round and re-run it deterministically
    b2 = Crawl(spark, cfg_b)
    b2.run(seeds, rounds=3)

    for t in TABLES:
        assert table_digest(a, t) == table_digest(b2, t), t

    # the final checkpoint records every crawl table's current snapshot
    with open(os.path.join(b2.cat.warehouse, "_crawl_checkpoint.json")) as f:
        ckpt = json.load(f)
    assert ckpt["round"] == 2
    current = {t: b2.cat.current_snapshot(t) for t in crawl_mod.TABLES}
    assert ckpt["snapshots"] == current

    # a finished warehouse resumes into zero rounds and commits nothing
    assert Crawl(spark, cfg_b).run(seeds, rounds=3) == []
    assert {t: b2.cat.current_snapshot(t) for t in crawl_mod.TABLES} == current


def test_results_independent_of_parallelism(spark, tmp_path, crawled):
    """Same crawl at shuffle parallelism 3 vs 8 -> byte-identical tables
    (the sandbox stand-in for identical results at N vs 4N executors)."""
    digests = {}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for par in ("3", "8"):
            spark.conf.set("spark.sql.shuffle.partitions", par)
            _, c, _ = crawled(tmp_path / f"p{par}", 40, 2, synth_fail_prob=0.15)
            digests[par] = [table_digest(c, t) for t in TABLES]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert digests["3"] == digests["8"]


def test_failed_bookkeeping_job_leaves_no_thread_and_resumes(
    spark, tmp_path, crawled, monkeypatch
):
    """One bookkeeping job (the dead-letter append) raises while its
    siblings commit: the run fails loudly, no ``bk-r`` thread survives
    it, and re-running the same warehouse reproduces an uninterrupted
    crawl."""
    _, a, _ = crawled(tmp_path / "a", 40, 1)
    cfg = small_cfg(str(tmp_path / "b"))
    seeds = spark.createDataFrame(make_seeds(cfg, 40))
    append = Catalog.append

    def failing_append(self, table, *args, **kwargs):
        if table == "dead":
            raise RuntimeError("injected dead-letter commit failure")
        return append(self, table, *args, **kwargs)

    monkeypatch.setattr(Catalog, "append", failing_append)
    with pytest.raises(RuntimeError, match="injected"):
        Crawl(spark, cfg).run(seeds, rounds=1)
    alive = [t.name for t in threading.enumerate() if t.name.startswith("bk-r")]
    assert alive == []

    monkeypatch.undo()
    b = Crawl(spark, cfg)
    assert len(b.run(seeds, rounds=1)) == 1
    for t in TABLES:
        assert table_digest(a, t) == table_digest(b, t), t


_append = Catalog.append


def _failing_fetch(*args, **kwargs):
    raise RuntimeError("injected fetch failure")


def _failing_order_append(self, table, *args, **kwargs):
    if table == "crawl_order":
        raise RuntimeError("injected crawl_order commit failure")
    return _append(self, table, *args, **kwargs)


@pytest.mark.parametrize(
    "target, name, failing",
    [
        (round_mod, "fetch_and_commit", _failing_fetch),
        (Catalog, "append", _failing_order_append),
    ],
    ids=["fetch", "crawl_order"],
)
def test_failed_round_leaves_nothing_cached(
    spark, tmp_path, monkeypatch, target, name, failing
):
    """A round that fails before its bookkeeping (the fetch) or inside
    one job (the crawl_order append, after the job's ranked frame is
    persisted) leaves no frame in Spark's cache manager."""
    spark.catalog.clearCache()
    cfg = small_cfg(str(tmp_path / "wh"))
    seeds = spark.createDataFrame(make_seeds(cfg, 40))
    monkeypatch.setattr(target, name, failing)
    with pytest.raises(RuntimeError, match="injected"):
        Crawl(spark, cfg).run(seeds, rounds=1)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
