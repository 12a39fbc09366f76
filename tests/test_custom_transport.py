"""The fetch stage's BatchTransport seam: production swaps the synthetic
web for an HTTP client (or a rendering fetcher — the S9 capability) by
passing a transport_factory; nothing else changes. These tests drive a
custom Arrow transport through the fused mapInArrow pass — both the
``fetch_stage`` reference and the executor-direct writer the engine
commits with (``fetch_stage_direct`` + ``Catalog.overwrite_stage``) — and
check that statuses and span documents come through intact."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from swmaestro_crawler_spark.catalog import Catalog
from swmaestro_crawler_spark.operators.fetch import (
    FETCHED,
    fetch_stage,
    fetch_stage_direct,
)
from swmaestro_crawler_spark.plans.crawl import seeds_to_frontier
from swmaestro_crawler_spark.sources.synth_web import FIELD, SPANSEP, make_seeds


def renderer_transport(cfg):
    """A stand-in 'rendered page' transport: odd url_hash fails with 503
    -> 500-class transient; even succeeds with a fixed two-span page."""

    def fetch(batch: pa.RecordBatch):
        hashes = batch.column("url_hash").to_numpy()
        ok = hashes % 2 == 0
        code = np.where(ok, 200, 500)
        payload = pa.array(
            [
                f"stat{FIELD}rendered=1{FIELD}{SPANSEP}text{FIELD}hello {h}{FIELD}"
                if o
                else ""
                for o, h in zip(ok, hashes)
            ],
            type=pa.string(),
        )
        links = pa.array([""] * batch.num_rows, type=pa.string())
        return code, payload, links

    return fetch


def _frontier(spark, cfg):
    return seeds_to_frontier(
        spark.createDataFrame(make_seeds(cfg, 40))
    ).withColumn("fingerprint", F.hash(F.col("url")))


def _check_rows(rows):
    assert rows
    for r in rows:
        if r.url_hash % 2 == 0:
            assert r.ok and r.status_code == 200
            assert [s.kind for s in r.spans] == ["stat", "text"]
            assert r.spans[0].text == "rendered=1"
            assert r.spans[1].text == f"hello {r.url_hash}"
            assert [s.offset for s in r.spans] == [0, 1]
        else:
            assert (not r.ok) and r.status_code == 500
            assert r.spans == []


def test_fetch_stage_accepts_custom_transport(spark, cfg):
    fetched = fetch_stage(
        _frontier(spark, cfg), cfg, 0, transport_factory=renderer_transport
    )
    _check_rows(fetched.collect())


def test_direct_writer_accepts_custom_transport(spark, cfg):
    cat = Catalog(spark, cfg.warehouse)
    stage = cat.new_stage("fetched")
    written = (
        fetch_stage_direct(
            _frontier(spark, cfg), cfg, 0, stage, transport_factory=renderer_transport
        )
        .agg(F.sum("rows").alias("n"))
        .first()
        .n
    )
    sid = cat.overwrite_stage("fetched", stage, meta={"round": 0})
    rows = cat.read("fetched", FETCHED, snapshot=sid).collect()
    assert written == len(rows) == 40
    _check_rows(rows)
