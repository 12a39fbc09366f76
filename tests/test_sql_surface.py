"""Plain-SQL query surface over a crawl warehouse: register_views +
spark.sql — the psycopg2-SELECT parity point (the reference's consumers
all query its PostgreSQL tables directly)."""

from __future__ import annotations

from pyspark.sql import functions as F

from swmaestro_crawler_spark.plans.crawl import warehouse_views
from swmaestro_crawler_spark.schema import CRAWL_ORDER, SPANS_DOC


def _crawl(crawled, cfg, rounds=2):
    return crawled(cfg.warehouse, 30, rounds)[1]


def test_sql_over_warehouse_matches_dataframe(spark, cfg, crawled):
    c = _crawl(crawled, cfg)
    names = c.cat.register_views(warehouse_views())
    assert set(names) >= {"spans", "crawl_order", "seen", "dead", "metrics"}

    sql = spark.sql(
        "SELECT host, count(*) AS n FROM crawl_order GROUP BY host"
    )
    df = (
        c.cat.read("crawl_order", CRAWL_ORDER)
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, sql.collect())) == sorted(map(tuple, df.collect()))

    # a cross-table join in one SQL statement: docs per fetched host
    joined = spark.sql(
        """
        SELECT o.host, count(DISTINCT s.doc_id) AS docs
        FROM crawl_order o JOIN spans s ON s.doc_id = o.url
        GROUP BY o.host
        """
    )
    assert joined.count() > 0
    total_docs = spark.sql(
        "SELECT count(DISTINCT doc_id) AS n FROM spans"
    ).first().n
    assert total_docs == c.cat.read("spans", SPANS_DOC).select("doc_id").distinct().count()


def test_sql_views_on_fresh_warehouse_parse(spark, cfg, tmp_path):
    from swmaestro_crawler_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh_empty"))
    cat.register_views(warehouse_views(), prefix="e_")
    assert spark.sql("SELECT count(*) AS n FROM e_spans").first().n == 0
    # declared schema present even with zero rows
    assert "media_ref" in spark.sql("SELECT * FROM e_media_refs").columns


def test_sql_views_pin_registration_snapshot(spark, cfg, crawled):
    c = _crawl(crawled, cfg, rounds=1)
    c.cat.register_views(warehouse_views(), prefix="v1_")
    before = spark.sql("SELECT count(*) AS n FROM v1_crawl_order").first().n
    # another round commits more rows; the registered view must still
    # read its pinned snapshot (consistent multi-statement session)
    c.run(None, rounds=2)
    assert spark.sql("SELECT count(*) AS n FROM v1_crawl_order").first().n == before
    c.cat.register_views(warehouse_views(), prefix="v2_")
    after = spark.sql("SELECT count(*) AS n FROM v2_crawl_order").first().n
    assert after > before


def test_consistent_views_pin_checkpointed_round(spark, cfg, crawled):
    """register_consistent_views reads the checkpoint's atomically
    captured snapshot set — later commits (simulating the next round's
    in-flight bookkeeping) stay invisible, where plain register_views
    would tear."""
    c = _crawl(crawled, cfg, rounds=2)
    pinned = c.register_consistent_views(prefix="ck_")
    n_before = spark.sql("SELECT count(*) AS n FROM ck_crawl_order").first().n
    assert n_before > 0 and pinned["crawl_order"] >= 0

    # an out-of-band append lands AFTER the checkpoint (torn state)
    extra = c.cat.read("crawl_order", CRAWL_ORDER).limit(5)
    c.cat.append("crawl_order", extra)

    # plain per-table registration sees the new commit...
    c.cat.register_views(warehouse_views(), prefix="now_")
    assert (
        spark.sql("SELECT count(*) AS n FROM now_crawl_order").first().n
        == n_before + 5
    )
    # ...the checkpoint-consistent view does not
    c.register_consistent_views(prefix="ck2_")
    assert (
        spark.sql("SELECT count(*) AS n FROM ck2_crawl_order").first().n
        == n_before
    )
