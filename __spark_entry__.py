"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship crawl pipeline end-to-end on a deterministic
synthetic web and returns the interleaved span documents. ``queries`` /
``oracle_sql`` expose the engine's operator battery (SURVEY.md §2 +
training-data ops), every entry with an exact DuckDB oracle (a module
may mark a pair rows-only via SQL=None; as of round 2 none do — the
binary multimodal stage is checked by an analytic SQL mirror and the
centroid assignment by fixed-point integer-exact math).
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: a two-round crawl — frontier dedup (bloom+anti-join),
    robots + politeness budget admission, salted host-bucket batch fetch,
    interleaved span extraction — returning the spans table exploded to
    one row per span (doc_id, offset, kind, text, media_ref)."""
    from swmaestro_crawler_spark.config import CrawlConfig
    from swmaestro_crawler_spark.plans.crawl import Crawl
    from swmaestro_crawler_spark.schema import SPANS_DOC
    from swmaestro_crawler_spark.sources.synth_web import make_seeds

    cfg = CrawlConfig(
        round_seconds=6.0,
        max_rounds=2,
        max_depth=2,
        frontier_partitions=8,
        bloom_bits=1 << 18,
        synth_n_hosts=20,
        warehouse=tempfile.mkdtemp(prefix="crawl_wh_"),
    )
    crawl = Crawl(spark, cfg)
    crawl.run(spark.createDataFrame(make_seeds(cfg, 40)), rounds=cfg.max_rounds)
    spans = crawl.cat.read("spans", SPANS_DOC)
    return spans.select(
        "doc_id",
        F.col("round"),
        F.posexplode("spans").alias("pos", "span"),
    ).select(
        "doc_id",
        "round",
        F.col("span.offset").alias("offset"),
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
    )


def _all_modules():
    from swmaestro_crawler_spark.functions import html_extract
    from swmaestro_crawler_spark.operators import (
        curation,
        dedup,
        graph,
        kmeans,
        multimodal,
        packing,
        pq,
        relational,
        scheduling,
        scoretable,
        search,
        similarity,
        sketches,
        text_analysis,
        urlspace,
        zorder,
    )
    from swmaestro_crawler_spark.streaming import (
        exactly_once,
        sessionize,
        stream_metrics,
    )

    return (
        relational,
        scheduling,
        dedup,
        graph,
        scoretable,
        search,
        text_analysis,
        curation,
        similarity,
        kmeans,
        pq,
        sketches,
        urlspace,
        zorder,
        packing,
        multimodal,
        html_extract,
        stream_metrics,
        sessionize,
        exactly_once,
    )


# Driver-sample rotation (VERDICT r4 "Next round" item 6): the driver
# samples ~50 keys in dict order per round, so keys whose latest driver
# CORRECTNESS row is OLDEST go first — never-sampled (new this round)
# keys, then the keys last sampled in r02, then r03. The union of
# CORRECTNESS_r01..r04 covers all previously-declared keys; this order
# keeps no key's driver evidence more than ~3 rounds stale. Keys new in
# round 5 (no driver row yet):
_STALE_FIRST = (
    # --- new in r5 (never driver-sampled) ---
    "streaming_late_data_audit",
    # --- code changed in r5 (need a FRESH driver row; table_profile's
    #     output schema changed, the others' plans/demos did) ---
    "table_profile",
    "quantile_sketch",
    "hits_purchase_graph",
    "opic_score_table",
    "catalog_takedown",
    "pagerank_purchase_graph",
    "label_propagation_communities",
    # --- last driver row: r02 ---
    "ann_cosine_topk",
    "embedding_centroid_assign",
    "embedding_neardup_pairs",
    "html_field_extract",
    "multimodal_media_meta",
    "multimodal_resize_sample",
    "streaming_daily_event_counts",
    "streaming_sessionize_stateful",
    "streaming_sliding_hourly_counts",
    # --- last driver row: r03 ---
    "asof_join_attribution",
    "bigram_lm_score",
    "budget_admission",
    "catalog_merge_upsert",
    "catalog_point_lookup",
    "channel_staleness",
    "corpus_curation_pipeline",
    "corpus_length_quantiles",
    "cube_source_lang",
    "daily_event_metrics",
    "daily_rollup",
    "datetime_surgery",
    "decontam_benchmark_overlap",
    "dedup_clusters",
    "dedup_exact_text",
    "dedup_incremental",
    "dedup_keepfirst_events",
    "dedup_minhash_lsh_pairs",
    "dedup_minhash_signatures",
    "dedup_ngram_jaccard_pairs",
    "dedup_simhash",
    "domain_mixture_sample",
    "dupspan_ngram_windows",
    "json_extract_agg",
    "party_counts_union",
    "pii_redact",
    "pivot_event_type_counts",
    "range_join_time_band",
    "recrawl_schedule",
    "repetition_top_bigram",
    "sample_split",
    "scalar_surgery",
    "span_explode",
    "stratified_sample",
    "text_fingerprint",
    "text_lang_guess",
    "text_quality_score",
    "text_runs_flatten",
    "text_token_stats",
    "tfidf_top_terms",
    "top5_orders_per_priority",
    "user_event_gaps_window",
    "vocab_topk",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    flat: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _all_modules():
        for name, (fn, _sql) in mod.QUERIES.items():
            flat[name] = fn
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name in _STALE_FIRST:
        if name in flat:
            out[name] = flat.pop(name)
    out.update(flat)
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _all_modules():
        for name, (_fn, sql) in mod.QUERIES.items():
            if sql is not None:
                out[name] = sql
    return out
