"""with_global_ord layout determinism (the crawl_order byte-identity
contract). Spark's RangePartitioner seeds its boundary sampling with the
sampled RDD's id — a global driver counter — so under concurrent job
submission two identical runs can place rows in different partitions.
The rank VALUES are boundary-independent; the FILE LAYOUT is not, and
content digests / byte-identical resume hash the layout.

The race needs partial sampling to show (tiny inputs are sampled
exhaustively, so unit-scale runs were always deterministic — this is
exactly how it escaped until the 1M-URL scaling A/B caught it). Here the
RDD-id counter is shifted explicitly between two identical builds at a
size where sampling is partial, which reproduces the divergence of the
range partitions; the ranked frame's final ord-block exchange must keep
the written layout from diverging."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from swmaestro_crawler_spark.catalog import Catalog
from swmaestro_crawler_spark.plans.round import with_global_ord

N = 400_000
PARTS = 16


def _frame(spark):
    return spark.range(N).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        (F.col("id") % 5).cast("int").alias("depth"),
        F.col("id").alias("seq"),
    )


ORDER_COLS = lambda: [  # noqa: E731 — Column exprs need an active session
    F.col("depth").desc(),
    F.col("seq").asc(),
    F.col("url_hash").asc(),
]


def _shift_rdd_ids(spark, k: int) -> None:
    """Advance the driver's RDD-id counter, as concurrent bookkeeping
    jobs do nondeterministically in a real round."""
    for i in range(k):
        spark.range(100 + i).repartition(2).count()


def _digest(spark, jiggle: int) -> str:
    _shift_rdd_ids(spark, jiggle)
    ranked, handle = with_global_ord(_frame(spark), ORDER_COLS(), PARTS)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="ordlay_"))
    cat.append("t", ranked)
    handle.unpersist()
    return cat.content_digest("t")


def test_layout_is_rdd_id_independent(spark):
    assert _digest(spark, 0) == _digest(spark, 7)


def test_rank_values_are_layout_independent(spark):
    """ord is the global position under a total order — identical
    whichever range boundaries the shifted RDD ids sample."""

    def fingerprint(jiggle: int) -> int:
        _shift_rdd_ids(spark, jiggle)
        ranked, handle = with_global_ord(_frame(spark), ORDER_COLS(), PARTS)
        v = ranked.select(
            F.expr(
                "bit_xor(xxhash64(cast(ord AS string), cast(url_hash AS string)))"
            ).alias("s")
        ).collect()[0]["s"]
        handle.unpersist()
        return v

    assert fingerprint(0) == fingerprint(5) == fingerprint(3)


def test_blocked_layout_plan_has_no_range_exchange_at_sink(spark):
    """The FINAL exchange before the write must be hash partitioning on
    the ord block — a pure function of row values — not the sampled
    rangepartitioning (which may appear earlier, inside the rank)."""
    ranked, handle = with_global_ord(_frame(spark), ORDER_COLS(), PARTS)
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    first_exchange = [
        ln for ln in plan.splitlines() if "Exchange" in ln
    ][0]  # outermost = last before the sink
    assert "hashpartitioning" in first_exchange
    assert "rangepartitioning" not in first_exchange
    handle.unpersist()
