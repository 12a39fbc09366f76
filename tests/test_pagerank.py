"""Fixed-point PageRank: determinism, mass conservation bounds, and the
per-superstep plan shape (the scale contract: edges never re-shuffled
into anything quadratic, rank updates are one join + one partial agg)."""

from __future__ import annotations

from pyspark.sql import functions as F

from swmaestro_crawler_spark.operators.graph import (
    PR_BASE,
    PR_ITERS,
    PR_SCALE,
    pagerank,
    purchase_edges,
)

SF_DIR = "/root/testdata/sf0.001"


def test_pagerank_is_layout_independent(spark):
    """Integer math + deterministic graph: the rank vector must be
    bit-identical regardless of input partitioning."""
    edges = purchase_edges(spark, SF_DIR)
    a = {r.node: r.rank for r in pagerank(edges).collect()}
    b = {r.node: r.rank for r in pagerank(edges.repartition(13, "dst")).collect()}
    assert a == b
    assert len(a) > 0


def test_mass_is_bounded_and_positive(spark):
    """Every node keeps at least the teleport floor PR_BASE; total mass
    stays within (floor-leakage) of N*PR_SCALE — sanity that the update
    is a damped redistribution, not a divergence."""
    ranks = pagerank(purchase_edges(spark, SF_DIR))
    n = ranks.count()
    row = ranks.agg(
        F.min("rank").alias("mn"), F.sum("rank").alias("tot")
    ).collect()[0]
    assert row.mn >= PR_BASE
    assert row.tot <= n * PR_SCALE  # floor division only leaks mass
    assert row.tot >= n * PR_SCALE // 2  # and not much of it


def test_hubs_outrank_leaves(spark):
    """Suppliers (odd ids) are the high-in-degree side of the purchase
    graph — their mean rank must exceed the customers' mean rank."""
    ranks = pagerank(purchase_edges(spark, SF_DIR))
    means = {
        r.k: r.m
        for r in ranks.groupBy((F.col("node") % 2).alias("k"))
        .agg(F.avg("rank").alias("m"))
        .collect()
    }
    assert means[1] > means[0]


def test_superstep_plan_shape(spark):
    """One superstep = hash join of ranks onto edges + hash aggregate;
    no CartesianProduct, no sort-merge join (ranks is broadcastable),
    and the checkpointed rank vector enters as a leaf (lineage cut)."""
    edges = purchase_edges(spark, SF_DIR)
    edges_d = edges.join(
        edges.groupBy("src").agg(F.count("*").alias("outdeg")), "src"
    )
    ranks = (
        edges_d.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.lit(PR_SCALE).cast("long").alias("rank"))
        .localCheckpoint(eager=True)
    )
    inbox = (
        edges_d.join(ranks, edges_d.src == ranks.node)
        .select("dst", F.expr("rank div outdeg").alias("c"))
        .groupBy("dst")
        .agg(F.sum("c").alias("inbox"))
    )
    plan = inbox._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    assert "Scan ExistingRDD" in plan  # the checkpointed rank leaf


def test_iterations_actually_move_rank(spark):
    """K supersteps must change the uniform start vector (guards against
    a silently-stubbed loop)."""
    edges = purchase_edges(spark, SF_DIR)
    r0 = pagerank(edges, iters=0)
    rk = pagerank(edges, iters=PR_ITERS)
    assert {r.rank for r in r0.collect()} == {PR_SCALE}
    assert len({r.rank for r in rk.collect()}) > 1


def test_label_propagation_layout_independent_and_shaped(spark):
    """LPA: labels are bit-identical regardless of partitioning (the
    argmax tie-break is total), every node lands in a community led by
    a real node id, and a community is never larger than the graph."""
    from swmaestro_crawler_spark.operators.graph import (
        label_propagation,
        q_label_propagation,
    )

    edges = purchase_edges(spark, SF_DIR)
    a = {r.node: r.label for r in label_propagation(edges).collect()}
    b = {
        r.node: r.label
        for r in label_propagation(edges.repartition(13, "dst")).collect()
    }
    assert a == b and len(a) > 0
    nodes = set(a)
    assert set(a.values()) <= nodes  # labels are node ids
    df = q_label_propagation(spark, SF_DIR)
    rows = df.collect()
    assert len(rows) == len(nodes)
    assert all(1 <= r.community_size <= len(nodes) for r in rows)
    # scale shape: the superstep joins the node-sized label table onto
    # the edges -- never a cartesian, never a single-partition exchange
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
