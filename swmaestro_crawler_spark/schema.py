"""Explicit StructTypes for every engine table.

The reference's schemas are implied by SQL strings (SURVEY.md §1.3,
e.g. New_YouTube_Crawler_Comment.py:422); here every table is explicit so
scans prune columns and writes never infer.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def nullable_arrow_schema(schema):
    """``schema`` (a pyarrow schema) with every field, nested ones
    included, nullable and without metadata: the physical types, which
    the JVM and the executor-direct parquet writers agree on and
    ``Catalog.content_digest`` hashes."""
    import pyarrow as pa

    def nullable(dt):
        if pa.types.is_struct(dt):
            return pa.struct([pa.field(f.name, nullable(f.type)) for f in dt])
        if pa.types.is_list(dt):
            return pa.list_(pa.field(dt.value_field.name, nullable(dt.value_type)))
        return dt

    return pa.schema([pa.field(f.name, nullable(f.type)) for f in schema])


# ---------------------------------------------------------------------------
# The interleaved text+media span document (BASELINE.json input_hint).
# kind ∈ {text, media, link, stat, tag}; text is '' for media spans and
# media_ref is '' for text spans — mirrors the reference interleaving one
# page's text fields with media URLs (New_YouTube_Crawler_Comment.py:172,182)
# and yielding stats before comments (:121,175).
# ---------------------------------------------------------------------------
SPAN = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("text", StringType(), False),
        StructField("media_ref", StringType(), False),
        StructField("offset", IntegerType(), False),
    ]
)

SPANS_DOC = StructType(
    [
        StructField("doc_id", StringType(), False),  # canonical URL
        StructField("spans", ArrayType(SPAN, False), False),
        StructField("round", IntegerType(), False),
        StructField("host", StringType(), False),
    ]
)

# Frontier: the work queue (reference: RabbitMQ exchanges,
# sendToRabbitMQ.py:53-66). priority is data-derived — (depth DESC, seq ASC,
# url_hash ASC) realizes the reference's LIFO newest-first continuation
# order (New_YouTube_Crawler_Comment.py:162-166) cluster-size independently.
FRONTIER = StructType(
    [
        StructField("url", StringType(), False),        # canonical
        StructField("url_hash", LongType(), False),     # xxhash64(url)
        StructField("host", StringType(), False),
        StructField("depth", IntegerType(), False),
        StructField("seq", LongType(), False),          # link index in parent
        StructField("round", IntegerType(), False),     # round enqueued
        StructField("attempt", IntegerType(), False),
        StructField("parent", StringType(), True),
    ]
)

# Exact URL-seen tier (reference: ON CONFLICT DO NOTHING +
# per-row existence SELECTs, New_YouTube_Crawler.py:243-246,
# New_YouTube_Crawler_Comment.py:414-426).
SEEN = StructType(
    [
        StructField("url_hash", LongType(), False),
        StructField("fingerprint", IntegerType(), False),  # murmur3_32
        StructField("bucket", IntegerType(), False),       # pmod(url_hash, B)
        StructField("round_seen", IntegerType(), False),
    ]
)

# Politeness state (engine-new; reference hardcodes delays,
# New_YouTube_Crawler.py:93).
ROBOTS = StructType(
    [
        StructField("host", StringType(), False),
        StructField("crawl_delay_s", DoubleType(), False),
        StructField("disallow_prefixes", ArrayType(StringType(), False), False),
        StructField("allow_prefixes", ArrayType(StringType(), False), False),
        StructField("fetched_round", IntegerType(), False),
    ]
)

# Dead letters (reference: channel_updater_dead / video_crawler_dead queues,
# New_YouTube_Crawler_Channel_Updater_Error.py:53).
DEAD = StructType(
    FRONTIER.fields
    + [
        StructField("reason", StringType(), False),
        StructField("dead_round", IntegerType(), False),
    ]
)

# Time-series observations (reference: video_views / channel_subscriber
# append tables, New_YouTube_Crawler.py:132-135).
METRICS = StructType(
    [
        StructField("entity_kind", StringType(), False),
        StructField("entity_id", StringType(), False),
        StructField("metric", StringType(), False),
        StructField("value", LongType(), False),
        StructField("round", IntegerType(), False),
    ]
)

# Per-partition lineage for checkpoint/resume.
LINEAGE = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("stage", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("rows_out", LongType(), False),
    ]
)

# Per-(host, round) fetch outcome counts — the adaptive-backoff signal
# (operators/politeness.host_backoff_factors). Appended one tiny row per
# host per round when cfg.adaptive_backoff is on.
HOST_STATS = StructType(
    [
        StructField("host", StringType(), False),
        StructField("round", IntegerType(), False),
        StructField("ok_n", LongType(), False),
        StructField("transient_n", LongType(), False),
    ]
)

# Revalidation observations (engine-new; the HTTP conditional-GET shape,
# RFC 9110 §13.1): one tiny row per UNCHANGED revisit fetch instead of a
# re-stored duplicate span document (plans/revisit.run_revisit
# conditional=True). The change-rate estimator unions these with the
# span history, so scheduling quality is identical to full re-storage.
OBSERVATIONS = StructType(
    [
        StructField("doc_id", StringType(), False),  # canonical URL
        StructField("host", StringType(), False),
        StructField("round", IntegerType(), False),
        StructField("content_fp", LongType(), False),
    ]
)

# Crawl order log — the judge-replayable invariant: total order of fetches.
CRAWL_ORDER = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("ord", LongType(), False),    # dense global order in round
        StructField("url", StringType(), False),
        StructField("host", StringType(), False),
        StructField("depth", IntegerType(), False),
        StructField("ok", BooleanType(), False),
    ]
)

SEEDS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("category", StringType(), False),
        StructField("rank_kind", StringType(), False),
        StructField("rank", IntegerType(), False),
    ]
)
