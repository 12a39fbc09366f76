from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from swmaestro_crawler_spark.catalog import Catalog

SCHEMA = StructType([StructField("x", LongType(), False)])


def _r(spark, n):
    return spark.range(n).select(F.col("id").alias("x"))


def test_append_overwrite_rollback_timetravel(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    assert cat.read("t", SCHEMA).count() == 0

    s1 = cat.append("t", _r(spark, 3))
    assert cat.read("t", SCHEMA).count() == 3
    s2 = cat.append("t", _r(spark, 2))
    assert cat.read("t", SCHEMA).count() == 5
    assert cat.read("t", SCHEMA, snapshot=s1).count() == 3  # time travel

    s3 = cat.overwrite("t", _r(spark, 7))
    assert cat.read("t", SCHEMA).count() == 7
    assert s3 == s2 + 1

    cat.rollback("t", s1)
    assert cat.current_snapshot("t") == s1
    assert cat.read("t", SCHEMA).count() == 3
    # appends after rollback build on the rolled-back state
    cat.append("t", _r(spark, 1))
    assert cat.read("t", SCHEMA).count() == 4


def test_read_delta_returns_only_snapshot_increment(cfg, crawled):
    """Incremental scan (Iceberg changelog analogue): per-round appends
    of crawl_order read back exactly, round by round."""
    from swmaestro_crawler_spark.schema import CRAWL_ORDER

    _, crawl, _ = crawled(cfg.warehouse, 30, 3)
    cat = crawl.cat
    total = cat.read("crawl_order", CRAWL_ORDER).count()
    per_round = 0
    for sid in range(1, cat.current_snapshot("crawl_order") + 1):
        inc = cat.read_delta("crawl_order", CRAWL_ORDER, sid)
        rounds = {r.round for r in inc.select("round").distinct().collect()}
        assert len(rounds) <= 1  # one append = one round's increment
        per_round += inc.count()
    assert per_round == total


def test_logical_digest_layout_invariant(spark, tmp_path):
    """logical_digest certifies VALUES: identical row sets written with
    different file boundaries / row orders digest EQUAL, while
    content_digest (byte replay, rows in file order) is allowed to
    differ — the r4 direct-write layout shift made exactly this
    distinction necessary (sorted-row data identical, content digests
    not)."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    rows = spark.range(1000).select((F.col("id") * 7 % 1000).alias("x"))
    cat.append("a", rows.repartition(1))
    cat.append("b", rows.repartition(8, "x"))  # same set, 8 files, shuffled order
    assert cat.logical_digest("a") == cat.logical_digest("b")
    assert cat.logical_digest("a").endswith("/1000")
    # different VALUES must differ
    cat.append("c", spark.range(1000).select((F.col("id") + 1).alias("x")))
    assert cat.logical_digest("c") != cat.logical_digest("a")
    # empty table sentinel
    assert cat.logical_digest("nope") == "0/0"


def _zero_copy_view(spark, tmp_path):
    """A spans-shaped zero-copy table: ``view`` adopts ``src``'s files
    with mapped names (doc_id, round) and a row filter (ok); ``k`` is
    shared unmapped."""
    from pyspark.sql.types import StringType

    cat = Catalog(spark, str(tmp_path / "wh"))
    src = spark.createDataFrame(
        [("u1", True, 10, 1), ("u2", False, 11, 2), ("u3", True, 12, 3)],
        "url string, ok boolean, fetch_round int, k long",
    )
    s_src = cat.append("src", src)
    cat.append_files(
        "view",
        "src",
        s_src,
        column_map={"doc_id": "url", "round": "fetch_round"},
        row_filter="ok",
    )
    view_schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("round", LongType(), False),
            StructField("k", LongType(), False),
        ]
    )
    return cat, view_schema


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_read_delta_applies_zero_copy_props(spark, tmp_path):
    """read_delta, read_range and read_point on a zero-copy prop table
    must honor row_filter and column_map exactly like read — regression:
    they used to read raw source columns (NULL mapped fields, unfiltered
    rows)."""
    cat, view_schema = _zero_copy_view(spark, tmp_path)
    sid = cat.current_snapshot("view")
    delta = cat.read_delta("view", view_schema, sid)
    rows = {(r.doc_id, r.round) for r in delta.collect()}
    assert rows == {("u1", 10), ("u3", 12)}  # mapped names, ok-filtered
    full = cat.read("view", view_schema)
    assert rows == {(r.doc_id, r.round) for r in full.collect()}
    # range and point reads filter on the declared (mapped) names
    got = _rows(cat.read_range("view", view_schema, "round", 11, 12))
    assert got == _rows(full.filter("round BETWEEN 11 AND 12")) == [("u3", 12, 3)]
    for k, want in ((1, [("u1", 10, 1)]), (2, []), (3, [("u3", 12, 3)])):  # 2: ok=False
        got = _rows(cat.read_point("view", view_schema, "k", k))
        assert got == _rows(full.filter(f"k = {k}")) == want


def test_zero_copy_table_refuses_rewrites(spark, tmp_path):
    """merge and delete_where would rewrite files that belong to the
    source table: on a zero-copy table both raise before writing any
    file, and the table stays readable at the same snapshot."""
    cat, view_schema = _zero_copy_view(spark, tmp_path)
    sid = cat.current_snapshot("view")
    updates = spark.createDataFrame([("u9", 13, 30)], view_schema)
    with pytest.raises(ValueError, match="zero-copy"):
        cat.merge("view", view_schema, updates, key="k")
    with pytest.raises(ValueError, match="zero-copy"):
        cat.delete_where("view", view_schema, "k = 3")
    assert cat.current_snapshot("view") == sid
    assert os.listdir(cat._dir("view")) == ["_snapshots.json"]  # no file written
    assert _rows(cat.read("view", view_schema)) == [("u1", 10, 1), ("u3", 12, 3)]


def test_projected_read_prunes_nested_scan(spark, cfg):
    """read(project=...) pushes a nested-subfield subset to the parquet
    scan: values match the full read, and the physical ReadSchema no
    longer contains the pruned leaf (span text payloads)."""
    from pyspark.sql.types import ArrayType, IntegerType, StringType

    from swmaestro_crawler_spark.plans.crawl import Crawl
    from swmaestro_crawler_spark.schema import SPANS_DOC
    from swmaestro_crawler_spark.sources.synth_web import make_seeds

    crawl = Crawl(spark, cfg)
    crawl.run(spark.createDataFrame(make_seeds(cfg, 20)), rounds=2)
    proj = StructType(
        [
            StructField(
                "spans",
                ArrayType(
                    StructType(
                        [
                            StructField("kind", StringType(), True),
                            StructField("media_ref", StringType(), True),
                        ]
                    )
                ),
                True,
            ),
            StructField("round", IntegerType(), True),
        ]
    )
    pruned = crawl.cat.read("spans", SPANS_DOC, project=proj)
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schemas and all("text" not in ln for ln in read_schemas)

    full = crawl.cat.read("spans", SPANS_DOC)
    a = sorted(
        (r.round, tuple((s.kind, s.media_ref) for s in r.spans))
        for r in pruned.collect()
    )
    b = sorted(
        (r.round, tuple((s.kind, s.media_ref) for s in r.spans))
        for r in full.collect()
    )
    assert a == b and a


@pytest.mark.parametrize("name", ["SEEN", "FETCHED", "SPANS_DOC", "CRAWL_ORDER"])
def test_empty_table_reads_in_the_jvm(spark, tmp_path, name):
    """A table with no snapshot reads as an empty JVM ``LocalTableScan``
    with exactly the declared schema — nested types and non-null flags
    included — not as a Python-RDD scan."""
    from swmaestro_crawler_spark import schema as S
    from swmaestro_crawler_spark.operators.fetch import FETCHED

    declared = FETCHED if name == "FETCHED" else getattr(S, name)
    df = Catalog(spark, str(tmp_path / "wh")).read(name.lower(), declared)
    assert df.schema.json() == declared.json()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert df.count() == 0
