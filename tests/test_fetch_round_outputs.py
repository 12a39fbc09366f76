"""The round outputs of the fused fetch pass (operators/fetch.RoundOutputs).

A crawl round takes its bloom increment from sidecars the fetch tasks
write, not from a Spark job over the fetched rows. The increment must be
bit for bit the bitmap ``build_bloom_distributed`` (the rebuild path)
makes from the same resolved rows: ok pages and 301 handoffs, whatever
the partitioning, empty partitions included.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from swmaestro_crawler_spark.catalog import Catalog
from swmaestro_crawler_spark.operators.fetch import (
    FETCHED,
    OUTLINKS,
    RoundOutputs,
    fetch_stage_direct,
    stage_bloom_words,
)
from swmaestro_crawler_spark.operators.seen import (
    build_bloom_distributed,
    empty_bloom,
    or_words,
)
from swmaestro_crawler_spark.plans.crawl import seeds_to_frontier
from swmaestro_crawler_spark.sources.synth_web import make_seeds

from .conftest import small_cfg


@pytest.mark.parametrize(
    "redirect_prob, n_seeds", [(0.3, 400), (0.0, 5)], ids=["handoffs", "empty_partitions"]
)
def test_fetch_bloom_increment_equals_distributed_build(
    spark, tmp_path, redirect_prob, n_seeds
):
    cfg = small_cfg(
        str(tmp_path / "wh"), synth_redirect_prob=redirect_prob, synth_n_hosts=50
    )
    frontier = seeds_to_frontier(
        spark.createDataFrame(make_seeds(cfg, n_seeds))
    ).withColumn("fingerprint", F.hash(F.col("url")))
    cat = Catalog(spark, cfg.warehouse)
    bits = cfg.bloom_bits
    stage = cat.new_stage("fetched")
    outputs = RoundOutputs(
        spark.sparkContext.broadcast(empty_bloom(bits).tobytes()),
        cat.new_stage("outlinks"),
    )
    assert outputs.bloom_bits == bits
    stats = fetch_stage_direct(frontier, cfg, 0, stage, round_outputs=outputs).collect()
    words = stage_bloom_words(stage)
    fetched = cat.read(
        "fetched", FETCHED, snapshot=cat.overwrite_stage("fetched", stage)
    )

    resolved = fetched.filter(F.col("ok") | (F.col("status_code") == 301))
    want = build_bloom_distributed(resolved, bits, cfg.bloom_hashes)
    got = or_words(empty_bloom(bits), words)
    assert want.any()
    assert np.array_equal(got, want)
    assert words.shape[1] <= cfg.bloom_hashes * resolved.count()
    if redirect_prob:
        # the 301 handoffs are in the increment (they resolve their URL)
        ok_only = build_bloom_distributed(
            fetched.filter(F.col("ok")), bits, cfg.bloom_hashes
        )
        assert fetched.filter(F.col("status_code") == 301).count() > 0
        assert not np.array_equal(ok_only, want)
    else:
        assert any(s.rows == 0 for s in stats) and any(s.rows > 0 for s in stats)

    # the outlinks of the same pass: every link of a resolved depth-0 row,
    # canonical and hashed as Spark would hash it, none probed seen
    links = cat.read(
        "outlinks", OUTLINKS, snapshot=cat.overwrite_stage("outlinks", outputs.links_dir)
    )
    n_links = resolved.select(
        F.sum(
            F.when(F.col("links") == "", 0).otherwise(
                F.size(F.split(F.col("links"), "\x02"))
            )
        )
    ).first()[0]
    assert links.count() == n_links > 0
    assert links.filter(
        (F.col("url_hash") != F.xxhash64("url")) | F.col("maybe_seen")
    ).count() == 0
