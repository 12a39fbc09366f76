"""Executor-direct fetch scratch write (operators/fetch.fetch_stage_direct).

The direct path is the engine's only fetch writer. It must be
indistinguishable from the mapInArrow->df.write reference at the table
level: same rows, same schema on read-back, same content digest — the
only difference is WHO encodes the parquet bytes (the Python worker's
Arrow C++ writer vs the JVM writer after an IPC + row-conversion round
trip).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from swmaestro_crawler_spark.catalog import Catalog
from swmaestro_crawler_spark.config import CrawlConfig
from swmaestro_crawler_spark.operators.fetch import (
    FETCHED,
    fetch_stage,
    fetch_stage_direct,
)
from swmaestro_crawler_spark.schema import FRONTIER
from swmaestro_crawler_spark.sources.synth_web import make_seeds

from .conftest import small_cfg


def _frontier(spark, cfg, n=3000):
    rows = []
    for s in make_seeds(cfg, n):
        rows.append(
            {
                "url": s["url"],
                "url_hash": 0,
                "host": s["url"].split("://")[1].split("/")[0],
                "depth": 1,
                "seq": 0,
                "round": 0,
                "attempt": 0,
                "parent": None,
            }
        )
    df = spark.createDataFrame(rows, FRONTIER)
    return (
        df.withColumn("url_hash", F.xxhash64("url"))
        .withColumn("fingerprint", F.hash(F.col("url")))
        .repartition(8)
    )


def _digest(df):
    cols = [f.name for f in FETCHED.fields if f.name != "spans"]
    r = df.agg(
        F.sum(F.xxhash64(*cols, F.to_json("spans")).cast("decimal(38,0)")).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return (str(r.h), int(r.n))


def test_direct_write_matches_jvm_path(spark, tmp_path):
    cfg = small_cfg(str(tmp_path / "wh"), synth_n_hosts=50)
    frontier = _frontier(spark, cfg).cache()
    frontier.count()

    # JVM baseline path
    cat_a = Catalog(spark, str(tmp_path / "wh-a"))
    sid_a = cat_a.overwrite(
        "fetched",
        fetch_stage(frontier, cfg, 0).sortWithinPartitions(
            "host", F.col("depth").desc(), "seq", "url_hash"
        ),
        meta={"round": 0},
    )
    a = cat_a.read("fetched", FETCHED, snapshot=sid_a)

    # executor-direct path
    cat_b = Catalog(spark, str(tmp_path / "wh-b"))
    stage = cat_b.new_stage("fetched")
    total = (
        fetch_stage_direct(frontier, cfg, 0, stage).agg(F.sum("rows").alias("n")).first().n
    )
    sid_b = cat_b.overwrite_stage("fetched", stage, meta={"round": 0})
    b = cat_b.read("fetched", FETCHED, snapshot=sid_b)

    assert a.schema == b.schema
    assert total == a.count() == b.count()
    assert _digest(a) == _digest(b)
    frontier.unpersist()


def test_adopt_stage_skips_inflight_temporaries(spark, tmp_path):
    """A task killed mid-write leaves a ``.tmp-part-*.parquet`` in the
    stage; adoption must take only the atomically-renamed files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cat = Catalog(spark, str(tmp_path / "wh"))
    stage = cat.new_stage("t")
    tbl = pa.table({"x": pa.array([1, 2, 3], type=pa.int64())})
    pq.write_table(tbl, f"{stage}/part-00000.parquet")
    pq.write_table(tbl, f"{stage}/.tmp-part-00001.parquet")  # orphaned temp
    sid = cat.overwrite_stage("t", stage)
    from pyspark.sql.types import LongType, StructField, StructType

    got = cat.read("t", StructType([StructField("x", LongType(), True)]), snapshot=sid)
    assert got.count() == 3
