"""Conditional revalidation (HTTP If-None-Match shape) in the revisit
flow: unchanged pages become 4-column observation rows instead of
re-stored span documents; changed pages re-store; the change-rate
estimator over (spans ∪ observations) equals what full re-storage
computes."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

import pyarrow as pa

from swmaestro_crawler_spark.catalog import Catalog
from swmaestro_crawler_spark.operators.fetch import synth_transport
from swmaestro_crawler_spark.plans.revisit import revisit_schedule, run_revisit
from swmaestro_crawler_spark.schema import OBSERVATIONS, SPANS_DOC
from swmaestro_crawler_spark.sources.synth_web import FIELD, SPANSEP
from tests.conftest import small_cfg

MUT_MOD = 3  # mutate pages with url_hash % 3 == 0


def mutating_transport(cfg):
    """Test transport via the public seam: identical to the synthetic web
    except selected pages carry one extra stat span — a deterministic
    f(url), so a SECOND revisit sees them unchanged again."""
    base = synth_transport(cfg)

    def fetch(batch):
        code, pl, lk = base(batch)
        hashes = batch.column("url_hash").to_numpy()
        out = []
        for h, p in zip(hashes, pl.to_pylist()):
            if p and h % MUT_MOD == 0:
                p = p + SPANSEP + "stat" + FIELD + f"mutated-{h}" + FIELD
            out.append(p)
        return code, pa.array(out, type=pa.string()), lk

    return fetch


def _crawl(crawled, wh, rounds=2, seeds=30):
    return crawled(wh, seeds, rounds, max_rounds=rounds)[:2]


def _sched(cat):
    return {
        r.doc_id: r
        for r in revisit_schedule(
            cat.read("spans", SPANS_DOC), cat.read("observations", OBSERVATIONS)
        ).collect()
    }


def test_unchanged_pages_store_observations_not_spans(spark, tmp_path, crawled):
    cfg, c = _crawl(crawled, str(tmp_path / "wh"))
    spans_before = c.cat.content_digest("spans")
    n_span_rows = c.cat.read("spans", SPANS_DOC).count()

    res = run_revisit(spark, c.cat, cfg, now_round=100, conditional=True)
    assert res["refetched_ok"] > 0
    # deterministic web, default transport: NOTHING changed
    assert res["modified"] == 0
    assert res["not_modified"] == res["refetched_ok"]
    assert c.cat.content_digest("spans") == spans_before  # zero span bytes added
    assert c.cat.read("spans", SPANS_DOC).count() == n_span_rows
    obs = c.cat.read("observations", OBSERVATIONS)
    assert obs.count() == res["refetched_ok"]
    # the estimator still sees the new observations: 2-obs history, 0 changes
    two = [r for r in _sched(c.cat).values() if r.n_obs == 2]
    assert len(two) == res["refetched_ok"]
    assert all(r.n_changes == 0 and r.last_round == 100 for r in two)


def test_changed_pages_restore_spans_and_estimator_sees_change(
    spark, tmp_path, crawled
):
    cfg, c = _crawl(crawled, str(tmp_path / "wh"))
    res = run_revisit(
        spark, c.cat, cfg, now_round=100,
        transport_factory=mutating_transport, conditional=True,
    )
    assert res["modified"] > 0 and res["not_modified"] > 0
    assert res["modified"] + res["not_modified"] == res["refetched_ok"]
    # changed docs re-stored: their span history has 2 rows, fp changed once
    sched = _sched(c.cat)
    changed = [r for r in sched.values() if r.n_changes == 1]
    assert len(changed) == res["modified"]
    assert all(r.n_obs == 2 for r in changed)
    # storage contract: changed docs hold TWO span documents, unchanged
    # refetches hold one span document + one observation row
    spans_per_doc = {
        r.doc_id: r.n
        for r in c.cat.read("spans", SPANS_DOC)
        .groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    for r in changed:
        assert spans_per_doc[r.doc_id] == 2
    stable = [r for r in sched.values() if r.n_obs == 2 and r.n_changes == 0]
    assert len(stable) == res["not_modified"]
    for r in stable:
        assert spans_per_doc[r.doc_id] == 1
    # a second conditional revisit with the SAME mutating transport sees
    # every refetched page unchanged (mutation is a pure f(url))
    res2 = run_revisit(
        spark, c.cat, cfg, now_round=200,
        transport_factory=mutating_transport, conditional=True,
    )
    assert res2["refetched_ok"] > 0 and res2["modified"] == 0


def test_conditional_estimator_equals_full_restorage(spark, tmp_path, crawled):
    """The storage optimization must not move the schedule: conditional
    and unconditional revisits over identical warehouses produce the
    SAME change-rate estimates for every URL."""
    cfg, c = _crawl(crawled, str(tmp_path / "wh1"), seeds=20)
    shutil.copytree(str(tmp_path / "wh1"), str(tmp_path / "wh2"))
    shutil.copytree(str(tmp_path / "wh1"), str(tmp_path / "wh3"))
    cat2 = Catalog(spark, str(tmp_path / "wh2"))
    cfg2 = small_cfg(str(tmp_path / "wh2"))
    cat3 = Catalog(spark, str(tmp_path / "wh3"))
    cfg3 = small_cfg(str(tmp_path / "wh3"))

    run_revisit(spark, c.cat, cfg, now_round=100,
                transport_factory=mutating_transport, conditional=True)
    run_revisit(spark, cat2, cfg2, now_round=100,
                transport_factory=mutating_transport, conditional=False)
    run_revisit(spark, cat3, cfg3, now_round=100,
                transport_factory=mutating_transport, conditional=True)
    # identical warehouses + conditional sweep -> byte-identical commits
    assert c.cat.content_digest("observations") == cat3.content_digest(
        "observations"
    )
    assert c.cat.content_digest("spans") == cat3.content_digest("spans")

    a, b = _sched(c.cat), _sched(cat2)
    assert a.keys() == b.keys()
    for k in a:
        assert a[k] == b[k], k
    # and the conditional warehouse stored strictly fewer span rows
    assert (
        c.cat.read("spans", SPANS_DOC).count()
        < cat2.read("spans", SPANS_DOC).count()
    )
