"""Physical-plan assertions: the optimizations the engine relies on must
be visible in the plans Catalyst actually produces — broadcast of
dimension sides, column pruning into the parquet scan, predicate
pushdown, no single-reducer exchanges on the hot path, explicit
fixed-count partitioning for the fetch stage."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_fk_join_broadcasts_dimensions(spark):
    from swmaestro_crawler_spark.operators.relational import q_revenue_per_nation

    plan = plan_of(q_revenue_per_nation(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region
    assert "SortMergeJoin" not in plan


def test_pricing_summary_prunes_columns_and_partial_aggregates(spark):
    from swmaestro_crawler_spark.operators.relational import q_pricing_summary

    plan = plan_of(q_pricing_summary(spark, SF_DIR))
    # scan reads only the 5 needed columns, never the wide rest
    assert "l_comment" not in plan and "l_shipdate" not in plan
    # map-side partial + final hash aggregation
    assert plan.count("HashAggregate") >= 2


def test_anti_join_semi_join_shapes(spark):
    from swmaestro_crawler_spark.operators.relational import (
        q_customers_without_orders,
        q_parts_both_suppliers_and_lineitems,
    )

    assert "LeftAnti" in plan_of(q_customers_without_orders(spark, SF_DIR))
    assert "LeftSemi" in plan_of(q_parts_both_suppliers_and_lineitems(spark, SF_DIR))


def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    plan = plan_of(df)
    assert "PushedFilters" in plan and "o_orderpriority" in plan.split("PushedFilters", 1)[1]


def test_global_ord_has_no_single_partition_exchange(spark):
    """The crawl-order rank must never funnel rows through one reducer."""
    from swmaestro_crawler_spark.plans.round import with_global_ord

    df = spark.range(0, 1000, 1, 8).select(
        F.col("id").alias("url_hash"),
        (F.col("id") % 3).alias("depth"),
        (F.col("id") % 7).alias("seq"),
    )
    ranked, handle = with_global_ord(
        df, [F.col("depth").desc(), F.col("seq").asc(), F.col("url_hash").asc()], 8
    )
    plan = plan_of(ranked)
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" in plan.lower()
    rows = ranked.orderBy("ord").collect()
    assert [r.ord for r in rows] == list(range(1000))  # dense, 0-based
    keys = [(-r.depth, r.seq, r.url_hash) for r in rows]
    assert keys == sorted(keys)  # ord follows the priority key exactly
    handle.unpersist()


@pytest.mark.parametrize(
    "in_parts,n_parts,batch,presorted",
    [
        (1, 8, 10_000, False),
        (8, 8, 7, False),
        (3, 8, 7, True),
        # more range partitions requested than rows: the partitions past
        # the sampled range bounds receive no rows, and most of the
        # final ord-block exchange's partitions are empty
        (5, 256, 7, True),
    ],
)
def test_global_ord_is_invariant_and_python_free(spark, in_parts, n_parts, batch, presorted):
    """The rank equals a driver-side sort of the same rows whatever the
    input partitioning, the input row order (``presorted``: each input
    partition already in key order), the Arrow batch size or the number
    of empty partitions, stays a non-null long, and is computed without
    a Python worker (a JVM projection over the persisted range sort)."""
    from pyspark.sql.types import LongType, StructField

    from swmaestro_crawler_spark.plans.round import with_global_ord

    n = 150
    df = (
        spark.range(0, n, 1, 4)
        .select(
            F.xxhash64("id").alias("url_hash"),
            (F.col("id") % 4).cast("int").alias("depth"),
            (F.col("id") % 11).alias("seq"),
        )
        .repartition(in_parts, "seq")
    )
    keys = [F.col("depth").desc(), F.col("seq").asc(), F.col("url_hash").asc()]
    if presorted:
        df = df.sortWithinPartitions(*keys)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch))
    try:
        ranked, handle = with_global_ord(df, keys, n_parts)
        plan = plan_of(ranked)
        got = {r.url_hash: r.ord for r in ranked.collect()}
        handle.unpersist()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    for python_node in ("MapInPandas", "PythonUDF", "ArrowEvalPython", "BatchEvalPython"):
        assert python_node not in plan
    assert ranked.schema["ord"] == StructField("ord", LongType(), False)
    rows = sorted(df.collect(), key=lambda r: (-r.depth, r.seq, r.url_hash))
    assert got == {r.url_hash: i for i, r in enumerate(rows)}


def test_fetch_stage_partition_count_is_explicit(spark, cfg):
    """The fetch stage pins its partition count (frontier_partitions) so
    AQE cannot coalesce it below cluster parallelism, and spreads a host
    over FETCH_HOST_SPLITS sub-buckets."""
    from swmaestro_crawler_spark.operators.fetch import fetch_stage
    from swmaestro_crawler_spark.plans.crawl import seeds_to_frontier
    from swmaestro_crawler_spark.sources.synth_web import make_seeds

    frontier = seeds_to_frontier(
        spark.createDataFrame(make_seeds(cfg, 64))
    ).withColumn("fingerprint", F.hash(F.col("url")))
    fetched = fetch_stage(frontier, cfg, 0)
    assert fetched.rdd.getNumPartitions() == cfg.frontier_partitions
    plan = plan_of(fetched)
    assert "hashpartitioning" in plan.lower()


def test_politeness_windows_are_host_partitioned_not_global(spark, cfg):
    from swmaestro_crawler_spark.operators.politeness import (
        split_admitted,
        synth_robots,
    )
    from swmaestro_crawler_spark.plans.crawl import seeds_to_frontier
    from swmaestro_crawler_spark.sources.synth_web import make_seeds

    frontier = seeds_to_frontier(spark.createDataFrame(make_seeds(cfg, 64)))
    admitted, _ = split_admitted(frontier, synth_robots(spark, cfg), cfg)
    plan = plan_of(admitted)
    # two-phase: first window keyed by (host, salted sub-bucket), second by host
    assert plan.count("Window") >= 2
    assert "pmod" in plan
    assert "Exchange SinglePartition" not in plan


def test_robots_join_is_broadcast(spark, cfg):
    from swmaestro_crawler_spark.operators.politeness import (
        split_robots_excluded,
        synth_robots,
    )
    from swmaestro_crawler_spark.plans.crawl import seeds_to_frontier
    from swmaestro_crawler_spark.sources.synth_web import make_seeds

    frontier = seeds_to_frontier(spark.createDataFrame(make_seeds(cfg, 64)))
    allowed, _, _ = split_robots_excluded(frontier, synth_robots(spark, cfg))
    assert "BroadcastHashJoin" in plan_of(allowed)


def test_ivf_ann_broadcasts_probes_no_cartesian(spark):
    """IVF rerank over TRAINED cells: the corpus side must join the
    (tiny) probe table by broadcast — never a cartesian product or a
    sort-merge shuffle of the vector table. Cell assignment is a pure
    expression, so the ONLY join in the whole search plan is that one
    broadcast hash join on the cluster key."""
    from swmaestro_crawler_spark.operators.kmeans import q_ann_ivf_topk

    plan = plan_of(q_ann_ivf_topk(spark, SF_DIR, broadcast_queries=True))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_ann_large_queryset_shuffle_fallback(spark):
    """Above the broadcast limit the probe join must degrade to a
    shuffled hash join on the cluster key (VERDICT r2 item 4) — and the
    two paths must return identical rows."""
    from swmaestro_crawler_spark.operators.kmeans import q_ann_ivf_topk

    shuffled = q_ann_ivf_topk(spark, SF_DIR, broadcast_queries=False)
    plan = plan_of(shuffled)
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    bcast = q_ann_ivf_topk(spark, SF_DIR, broadcast_queries=True)
    assert sorted(map(tuple, shuffled.collect())) == sorted(map(tuple, bcast.collect()))


def test_kmeans_assignment_is_joinless_expression(spark):
    """The Lloyd assignment folds centroids in as literals: the contract
    query's plan must contain NO join of any kind — only the corpus scan,
    the assignment projection, and the partial-agg update."""
    from swmaestro_crawler_spark.operators.kmeans import q_kmeans_centroids

    plan = plan_of(q_kmeans_centroids(spark, SF_DIR))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan or "HashAggregate" in plan


def test_centroid_assign_broadcasts_centroids(spark):
    from swmaestro_crawler_spark.operators.similarity import q_label_centroid_assign

    plan = plan_of(q_label_centroid_assign(spark, SF_DIR))
    # the 10-row centroid table broadcasts against the vector scan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_lsh_fed_jaccard_joins_on_hash_keys(spark):
    """Candidate discovery must be a shuffled hash join on band keys and
    the verify stage hash joins on doc ids — no quadratic join shape."""
    from swmaestro_crawler_spark.operators.dedup import q_ngram_jaccard_pairs

    plan = plan_of(q_ngram_jaccard_pairs(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_staleness_horizon_is_broadcast(spark):
    from swmaestro_crawler_spark.operators.relational import q_channel_staleness

    plan = plan_of(q_channel_staleness(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Exchange SinglePartition" not in plan.split("BroadcastNestedLoopJoin")[0]


def test_vocab_topk_is_take_ordered_not_global_sort(spark):
    from swmaestro_crawler_spark.operators.text_analysis import q_vocab_topk

    plan = plan_of(q_vocab_topk(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_decontam_broadcasts_benchmark_ngram_set(spark):
    """The benchmark n-gram fingerprint set must broadcast onto the
    corpus scan — the 100-TB side never shuffles for the probe — and the
    whole plan stays JVM-side with pruned scans."""
    from swmaestro_crawler_spark.operators.curation import q_decontaminate

    plan = plan_of(q_decontaminate(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "lang" not in plan and "n_chars" not in plan  # scan pruned to doc_id,text


def test_dupspan_and_mixture_shapes(spark):
    """Duplicate-span detection joins on the 32-bit window hash (never a
    quadratic shape); mixture sampling is one map-side-combinable agg."""
    from swmaestro_crawler_spark.operators.curation import q_domain_mixture, q_dupspan

    plan = plan_of(q_dupspan(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final for dup set and per-doc

    mix = plan_of(q_domain_mixture(spark, SF_DIR))
    assert "Join" not in mix  # pure scan -> partial agg -> final agg
    assert "ReadSchema: struct<doc_id:bigint,source:string>" in mix


def test_dupspan_removal_no_quadratic_shape(spark):
    """The surgery never goes quadratic: dup set and join-back keyed on
    the uniform window hash; the cut is an array expression, so the only
    Generate nodes are the window/position explodes, never a token
    explode of the corpus on the reassembly side."""
    from swmaestro_crawler_spark.operators.curation import q_dupspan_removal

    plan = plan_of(q_dupspan_removal(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # 3 Generate nodes (each named twice in formatted output): the two
    # window explodes feeding the dup set + join-back, and the ×W
    # covered-position explode on DUPLICATED windows only — no token
    # explode of the corpus on the reassembly side
    assert plan.count("Generate") == 6


def test_int8_quantize_broadcasts_dim_stats(spark):
    """The 64-row per-dimension stats table must broadcast back onto the
    component stream — the corpus never shuffles for the quantization."""
    from swmaestro_crawler_spark.operators.similarity import q_int8_quantize

    plan = plan_of(q_int8_quantize(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_tfidf_broadcasts_df_and_corpus_count(spark):
    """df (vocab-sized) and the 1-row corpus count broadcast onto tf; the
    top-n is a doc-keyed window, never a single-partition sort."""
    from swmaestro_crawler_spark.operators.text_analysis import q_tfidf_top_terms

    plan = plan_of(q_tfidf_top_terms(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "Exchange SinglePartition" not in plan


def test_asof_join_is_one_shuffle_no_nested_loop(spark):
    """The as-of join must compile to one user-keyed sort window over the
    tagged union — never a nested-loop probe per row."""
    from swmaestro_crawler_spark.operators.relational import q_asof_join_attribution

    plan = plan_of(q_asof_join_attribution(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan
    assert "Exchange SinglePartition" not in plan


def test_range_join_is_banded_equi_join(spark):
    """The global time-range join must run as a bucket equi-join (hash
    join on the band key), not the BNLJ/CartesianProduct a naive
    |t1-t2| <= band predicate compiles to."""
    from swmaestro_crawler_spark.operators.relational import q_range_join_time_band

    plan = plan_of(q_range_join_time_band(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_batch_sessionize_user_partitioned_single_shuffle(spark):
    """Sessionization windows and the closing aggregate all share the
    user_id hash partitioning: exactly one exchange, never a global
    sort/single partition."""
    from swmaestro_crawler_spark.operators.relational import q_batch_sessionize

    plan = plan_of(q_batch_sessionize(spark, SF_DIR))
    assert "SinglePartition" not in plan
    assert plan.count("Arguments: hashpartitioning") == 1
    assert plan.count("hashpartitioning(user_id") == 1


def test_table_profile_has_no_expand(spark):
    """The r4 form's six exact count_distincts in one agg made Catalyst
    Expand each input row ×7 before the shuffle — a full-table multiply
    that kills at 100×. The HLL-register rewrite must keep every
    aggregate non-distinct: no Expand node anywhere (VERDICT r4 #1)."""
    from swmaestro_crawler_spark.operators.relational import q_table_profile

    plan = plan_of(q_table_profile(spark, SF_DIR))
    assert "Expand" not in plan
    # both passes partial+final hash aggregate (map-side combine)
    assert plan.count("HashAggregate") >= 4
    assert "Exchange SinglePartition" not in plan


def test_quantile_sketch_sample_is_salted_two_phase(spark):
    """The bottom-K sample must rank in (grp, pmod(h, S)) sub-buckets
    first — the full-table exchange carries the salt — and only the
    bounded ≤ S×K survivors may hit a plain (grp) exchange
    (VERDICT r4 #2). The exact-p50 side uses grouped_prefix_sum, so no
    single-reducer stage exists anywhere."""
    import re

    from swmaestro_crawler_spark.operators.sketches import q_quantile_sketch

    plan = plan_of(q_quantile_sketch(spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan
    salted = re.search(r"hashpartitioning\(grp#\d+, _w\d+#\d+L?, \d+\)", plan)
    plain = re.search(r"hashpartitioning\(grp#\d+, \d+\)", plan)
    assert salted is not None, "phase-1 sub-bucket exchange missing"
    assert plain is not None and salted.start() < plain.start(), (
        "full-table rows reached a plain (grp) exchange before the salted"
        " sub-bucket rank"
    )


def _walk_executed(df) -> list:
    """(node, cached) for every distinct physical node an action over
    ``df`` runs, walking into AQE query stages and the cached plans
    behind ``InMemoryTableScan``; ``cached`` marks the nodes of a cached
    plan. A cached plan read by several branches is the same JVM object,
    so it is listed once."""
    jvm = df._sc._jvm
    todo, ids, out = [(df._jdf.queryExecution().executedPlan(), False)], set(), []
    while todo:
        node, cached = todo.pop()
        key = jvm.System.identityHashCode(node)
        if key in ids:
            continue
        ids.add(key)
        out.append((node, cached))
        kind = node.getClass().getSimpleName()
        inner = cached or kind == "InMemoryRelation"
        for seq in (node.children(), node.innerChildren()):
            todo.extend((seq.apply(i), inner) for i in range(seq.size()))
        if kind == "AdaptiveSparkPlanExec":
            todo.append((node.executedPlan(), cached))
        elif kind.endswith("QueryStageExec"):
            todo.append((node.plan(), cached))
    return out


def _executed_nodes(df) -> list:
    """Every distinct physical node an action over ``df`` runs."""
    return [node for node, _ in _walk_executed(df)]


def _runs_python(node) -> bool:
    """A node that hands rows to a Python worker (Arrow/pandas map
    stages, Python UDF evaluation)."""
    name = node.nodeName()
    return any(k in name for k in ("Python", "Pandas", "MapInArrow")) or (
        "pythonUDF" in node.simpleString(1000)
    )


def _round_commits(spark, monkeypatch, cfg, frontier):
    """Bootstrap ``frontier`` under ``cfg``, run one round and return
    {table: [(node, cached), ...]} for every frame the round commits
    through ``Catalog.append``/``Catalog.overwrite``, walked at commit
    time (while the round's persisted frames are cached)."""
    from swmaestro_crawler_spark.catalog import Catalog
    from swmaestro_crawler_spark.plans.crawl import Crawl

    crawl = Crawl(spark, cfg)
    crawl.bootstrap(frontier=frontier)
    got: dict = {}

    def spy(orig):
        def commit(self, table, df, *args, **kwargs):
            got.setdefault(table, []).extend(_walk_executed(df))
            return orig(self, table, df, *args, **kwargs)

        return commit

    monkeypatch.setattr(Catalog, "append", spy(Catalog.append))
    monkeypatch.setattr(Catalog, "overwrite", spy(Catalog.overwrite))
    assert len(crawl.run(None, rounds=1)) == 1
    monkeypatch.undo()
    return got


def test_round_python_stage_budget(spark, tmp_path, monkeypatch):
    """A round crosses into Python only in the seen-tier probe and the
    fused fetch pass (which commits through ``overwrite_stage``, not a
    frame). Of every frame a round commits, the only Python node is the
    probe, and it runs inside the cached probe+dedup+robots node; the
    outlinks reach the next pending snapshot through JVM nodes only."""
    from swmaestro_crawler_spark.plans.crawl import seeds_to_frontier
    from swmaestro_crawler_spark.sources.synth_web import make_seeds

    from .conftest import small_cfg

    cfg = small_cfg(str(tmp_path / "wh"))
    frontier = seeds_to_frontier(spark.createDataFrame(make_seeds(cfg, 40)))
    commits = _round_commits(spark, monkeypatch, cfg, frontier)
    assert {"seen", "pending", "crawl_order", "dead"} <= set(commits)
    python = {
        (table, node.nodeName(), cached, "maybe_seen" in node.simpleString(1000))
        for table, nodes in commits.items()
        for node, cached in nodes
        if _runs_python(node)
    }
    assert {p[1:] for p in python} == {("MapInPandas", True, True)}, python
    assert not all(cached for nodes in commits.values() for _, cached in nodes)
    pending = " ".join(node.toString() for node, _ in commits["pending"])
    assert "parent_depth" in pending  # the outlink branch is there ...
    assert "canonicalize" not in pending  # ... canonical already


def test_round_without_expansion_plans_no_outlink_branch(spark, tmp_path, monkeypatch):
    """At ``max_depth=1`` over a depth-1 frontier no row can expand: the
    fetch pass writes no outlinks, the empty table reads as a
    LocalRelation, and the optimizer drops the whole outlink branch
    from the next pending snapshot's plan."""
    from swmaestro_crawler_spark.plans.crawl import seeds_to_frontier
    from swmaestro_crawler_spark.sources.synth_web import make_seeds

    from .conftest import small_cfg

    cfg = small_cfg(str(tmp_path / "wh"), max_depth=1)
    frontier = seeds_to_frontier(
        spark.createDataFrame(make_seeds(cfg, 40))
    ).withColumn("depth", F.lit(1))
    commits = _round_commits(spark, monkeypatch, cfg, frontier)
    pending = " ".join(node.toString() for node, _ in commits["pending"])
    assert "parent_depth" not in pending and "/pl/" not in pending
    assert "status_code" in pending  # the retries branch is still planned


@pytest.mark.parametrize("with_cuckoo", [False, True])
def test_round_unseen_filter_probes_each_row_once(spark, with_cuckoo):
    """The round's unseen filter runs the seen-tier probe (bloom, plus the
    cuckoo re-probe when that tier is on) in ONE executed Arrow stage,
    inside the persisted dedup+robots node that both branches of the
    filter read — not once per branch."""
    import numpy as np

    from swmaestro_crawler_spark.operators.cuckoo import PartitionedCuckoo
    from swmaestro_crawler_spark.operators.seen import bloom_add, empty_bloom
    from swmaestro_crawler_spark.plans.round import unseen_frontier
    from swmaestro_crawler_spark.schema import FRONTIER, ROBOTS, SEEN

    n = 400
    pending = spark.createDataFrame(
        [(f"http://h{i % 5}.test/p/{i}", i, f"h{i % 5}.test", 1, i, 0, 0, None)
         for i in range(n)],
        FRONTIER,
    )
    robots = spark.createDataFrame(
        [(f"h{h}.test", 0.1, ["/p/1"] if h == 0 else [], [], 0) for h in range(5)],
        ROBOTS,
    )
    seen_keys = np.arange(0, n, 3, dtype=np.int64)
    seen = spark.createDataFrame(
        [(int(k), 0, 0, 0) for k in seen_keys], SEEN
    )
    bitmap_bc = spark.sparkContext.broadcast(
        bloom_add(empty_bloom(1 << 16), seen_keys, 5).tobytes()
    )
    cuckoo_bc = (
        spark.sparkContext.broadcast(PartitionedCuckoo.empty(2, 64).insert(seen_keys).tables)
        if with_cuckoo else None
    )
    unseen, excluded, joined = unseen_frontier(pending, robots, seen, bitmap_bc, 5, cuckoo_bc)
    got = {r.url_hash for r in unseen.collect()}
    blocked = {r.url_hash for r in excluded.collect()}
    assert got == {i for i in range(n) if i % 3 and i not in blocked} and blocked

    probes = [x for x in _executed_nodes(unseen) if x.nodeName() == "MapInPandas"]
    joined.unpersist()
    assert len(probes) == 1, [p.toString() for p in probes]
    assert "maybe_seen" in probes[0].toString()
