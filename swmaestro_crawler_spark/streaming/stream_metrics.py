"""Structured Streaming ingestion of the metrics/event stream.

The reference's 'streaming' is competing RabbitMQ consumers polling one
message at a time (New_YouTube_Crawler_Channel_Updater.py:23-51). Here the
same shape is a readStream source -> event-time windowed aggregation with
a watermark for late data -> sink. The batch engine remains the core
(crawl rounds are batch, SURVEY.md §1.5); this module is the streaming
face of the metrics tables (K2/C8).

``availableNow`` + complete-mode memory sink makes the streaming result
exactly equal the batch aggregation over the same files, which is how the
driver's DuckDB oracle can check a genuinely-streaming query.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)

# State-store partition count for the bounded availableNow drains here.
# Stateful operators spin up one state-store instance PER shuffle
# partition (a stream-stream join runs FOUR stores per partition), and
# every micro-batch pays a create+fsync+rename per instance: at the
# session default of 32 partitions the join committed 128 instances and
# burned ~78 s of aggregate commitTimeMs on ~40 k rows of state. The
# partition count is a per-query knob locked into the checkpoint at
# first start — a production feed sizes it to its state volume (more
# partitions = more parallel state I/O); a bounded drain wants it small.
STREAM_STATE_PARTITIONS = 8


@contextmanager
def drain_confs(spark: SparkSession):
    """Session confs for a bounded availableNow drain, restored on exit.

    ``STREAM_STATE_PARTITIONS`` state partitions, and no trailing empty
    micro-batch (``noDataMicroBatches``). That batch exists to advance
    the watermark for state EVICTION and timeout processing; none of the drains here
    need it for OUTPUT — inner interval joins and append-mode
    dropDuplicates emit in the data batch itself, complete-mode
    aggregations re-emit per data batch, and the sessionizer uses
    NoTimeout — so skipping it saves a full per-instance state commit
    round (~5 s at 128 instances) without changing a row."""
    confs = {
        "spark.sql.shuffle.partitions": str(STREAM_STATE_PARTITIONS),
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    }
    saved: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def stream_daily_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed (1 day) per-type event counts with a 1h watermark,
    processed as a stream of parquet files and drained with availableNow."""
    src = _staged_events_stream(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
        )
    )
    sink = f"stream_counts_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
    with drain_confs(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink)


SQL_STREAM_DAILY_EVENT_COUNTS = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY 1, 2
"""


def _staged_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FileStreamSource requires a DIRECTORY; the testdata table is a single
    # file, so stage a symlink dir (no data copied). Watermarks need an
    # instant (TIMESTAMP, not NTZ); session tz is UTC.
    stage = tempfile.mkdtemp(prefix="stream_src_")
    os.symlink(
        os.path.abspath(os.path.join(sf_dir, "events.parquet")),
        os.path.join(stage, "events.parquet"),
    )
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(stage)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def stream_sliding_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING event-time window (2h length, 1h hop) with watermark —
    each event lands in exactly two overlapping windows. The DuckDB
    oracle reconstructs the hop assignment analytically (unnest of the
    two hour-aligned window starts per event)."""
    src = _staged_events_stream(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias("w_start"),
            "event_type",
            "n_events",
        )
    )
    sink = f"stream_sliding_{uuid.uuid4().hex[:8]}"
    with drain_confs(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="stream_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink)


SQL_STREAM_SLIDING_HOURLY_COUNTS = """
SELECT strftime(ws, '%Y-%m-%d %H:%M') AS w_start, event_type,
       CAST(count(*) AS BIGINT) AS n_events
FROM (
  SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                 date_trunc('hour', ts)]) AS ws,
         event_type
  FROM events)
GROUP BY 1, 2
"""

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: documents arrive as a file stream and
    ``dropDuplicates`` on the content hash keeps first-seen — the
    streaming face of K4/ON CONFLICT DO NOTHING, and the shape a live
    crawl uses to suppress re-fetched content. Output is the surviving
    KEY SET only (which physical row wins is scheduling-dependent under
    parallelism; the key set is the deterministic contract — same
    reasoning as the batch dedup_exact_text representative choice).
    State is keyed by a 128-bit md5, uniform — partitions evenly at any
    scale; a production stream adds a watermark TTL to bound the state
    store, disclosed here because the contract drain is finite."""
    stage = tempfile.mkdtemp(prefix="stream_docs_")
    os.symlink(
        os.path.abspath(os.path.join(sf_dir, "documents.parquet")),
        os.path.join(stage, "documents.parquet"),
    )
    src = spark.readStream.schema(DOCS_SCHEMA).parquet(stage)
    deduped = (
        src.select(F.md5("text").alias("text_md5"))
        .dropDuplicates(["text_md5"])
        .select("text_md5")
    )
    sink = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    with drain_confs(spark):
        q = (
            deduped.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="stream_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink)


SQL_STREAM_DEDUP_EXACT = "SELECT DISTINCT md5(text) AS text_md5 FROM documents"


def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join with watermarks on both sides — the
    Structured Streaming shape the batch as-of/range-join family
    (operators/relational.py asof_join_attribution) takes when both
    inputs are live: clicks and purchases arrive as two independent file
    streams and every purchase is attributed to each click by the same
    user within the preceding 30 minutes.

    Scale notes: the join state store is keyed by ``user_id`` (the
    equality key — uniform, partitions evenly), and BOTH sides carry a
    1-hour watermark plus a closed time-range condition, so Spark can
    evict click state older than (max event time − 30 min − 1 h) instead
    of buffering either stream forever — the requirement for an
    unbounded 100-TB/day event feed. Append output mode (inner interval
    joins emit exactly once per matched pair).

    Determinism: the output is a pair SET (click_id, purchase_id,
    user_id, gap_us) with an exact integer microsecond gap — availableNow
    drains every file, no row is late vs the watermark, so the result
    equals the batch join bit-for-bit and the DuckDB oracle can check a
    genuinely stream-stream query."""
    clicks = (
        _staged_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _staged_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            """
            user_id = p_user_id AND
            purchase_ts >= click_ts AND
            purchase_ts <= click_ts + INTERVAL 30 MINUTES
            """
        ),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )
    sink = f"stream_join_{uuid.uuid4().hex[:8]}"
    with drain_confs(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="stream_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink)


SQL_STREAM_CLICK_PURCHASE_JOIN = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


def stream_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data ACCOUNTING: rows past the watermark are counted into an
    audit face, never silently lost — the missing piece of the C8
    dedup-by-(entity, check_time) story at 10^10 observations (a revisit
    scheduler must know how many observations its watermark discarded,
    or its freshness SLO silently rots).

    Mechanics (all deterministic, both engines replay it exactly):
    events are staged as THREE stream files drained in mtime order with
    maxFilesPerTrigger=1 —

      A (bulk)    = the non-late-split ids (event_id % 10 != 0); its max
                    event time advances the watermark at end of batch 0;
      B (trigger) = the late-split ids' RECENT rows (ts > max - 3 days);
                    batch 1 runs with watermark = max(A) - 1h, so at its
                    commit every day-window older than the last day is
                    emitted (append mode) and EVICTED;
      C (late)    = the late-split ids' OLD rows (ts <= max - 3 days) —
                    every one arrives after its window was evicted and
                    is dropped by the watermark filter.

    The late split is `event_id % 10 = 0`, so the drop set is exactly
    reconstructable from the table: C = (id%10=0 AND ts <= max-3d).
    The function ASSERTS the engine's own telemetry agrees — the sum of
    `numRowsDroppedByWatermark` over the drain's progress events must
    equal the drop set AT THE ENGINE'S GRANULARITY: the metric counts
    rows entering the STATE STORE, i.e. post-partial-aggregation
    (window, event_type) partials, not raw input rows (measured: 901
    late raw rows -> 135 dropped state rows = the 135 distinct
    (day, type) pairs in the late set; the staged single-file batch
    reads as one partition, so partials = distinct pairs). ROW-level
    accounting is certified by the output itself: the on_time face's
    DuckDB twin proves no late row leaked into any emitted count, and
    the late_audit face carries every dropped row. Two faces:

      face='on_time'    per-(day, type) counts the append sink emitted:
                        A∪B rows in day-windows closed by the final
                        watermark (window end <= max(ts) - 1h; the last
                        open day never emits in append mode — disclosed,
                        it emits on the next real batch in production);
      face='late_audit' per-(day, type) counts of the dropped rows.

    Scale shape: the audit side is the same windowed count the main
    aggregation runs, over the (tiny) drop set; in production the audit
    face is fed by the ingestion log's replay filter, and this contract
    pins that the engine's drop accounting matches that reconstruction
    bit-for-bit."""
    import shutil

    ev = (
        spark.read.schema(EVENTS_SCHEMA)
        .parquet(os.path.join(sf_dir, "events.parquet"))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    mx = ev.agg(F.max("ts")).first()[0]
    cut = "ts <= TIMESTAMP '%s' - INTERVAL 3 DAYS" % mx
    is_late_split = f"event_id % 10 = 0 AND {cut}"
    stage = tempfile.mkdtemp(prefix="late_stage_")
    src = tempfile.mkdtemp(prefix="late_src_")
    # a true 3-way partition of the table (A ∪ B ∪ C = events, disjoint)
    for i, (name, cond) in enumerate(
        [
            ("a_bulk", "event_id % 10 != 0"),
            ("b_trigger", f"event_id % 10 = 0 AND NOT ({cut})"),
            ("c_late", is_late_split),
        ]
    ):
        d = os.path.join(stage, name)
        ev.filter(cond).coalesce(1).write.parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"{name}.parquet")
        shutil.copy(os.path.join(d, part), dst)
        os.utime(dst, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
    srcdf = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        srcdf.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
        )
    )
    sink = f"stream_late_{uuid.uuid4().hex[:8]}"
    with drain_confs(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="stream_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dropped_by_engine = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p["stateOperators"]
        )
    late = ev.filter(is_late_split)
    n_late_pairs = (
        late.select(F.date_trunc("day", "ts"), "event_type").distinct().count()
    )
    if dropped_by_engine != n_late_pairs:
        raise AssertionError(
            f"late-row accounting mismatch: engine dropped "
            f"{dropped_by_engine} state rows by watermark, reconstruction "
            f"says {n_late_pairs} late (day, type) partials — the audit "
            "would silently lose rows"
        )
    audit = (
        late.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.lit("late_audit").alias("face"), "day", "event_type", "n_events")
    )
    on_time = spark.table(sink).select(
        F.lit("on_time").alias("face"), "day", "event_type", "n_events"
    )
    return on_time.unionByName(audit)


SQL_STREAM_LATE_DATA_AUDIT = """
WITH mx AS (SELECT max(ts) AS m FROM events),
late AS (
  SELECT e.* FROM events e, mx
  WHERE event_id % 10 = 0 AND ts <= m - INTERVAL 3 DAY),
kept AS (
  SELECT e.* FROM events e, mx
  WHERE NOT (event_id % 10 = 0 AND ts <= m - INTERVAL 3 DAY)
    AND date_trunc('day', ts) + INTERVAL 1 DAY <= m - INTERVAL 1 HOUR)
SELECT 'on_time' AS face, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type, CAST(count(*) AS BIGINT) AS n_events
FROM kept GROUP BY 2, 3
UNION ALL
SELECT 'late_audit' AS face, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type, CAST(count(*) AS BIGINT) AS n_events
FROM late GROUP BY 2, 3
"""


QUERIES = {
    "streaming_daily_event_counts": (
        lambda spark, sf_dir: stream_daily_event_counts(spark, sf_dir),
        SQL_STREAM_DAILY_EVENT_COUNTS,
    ),
    "streaming_late_data_audit": (
        lambda spark, sf_dir: stream_late_data_audit(spark, sf_dir),
        SQL_STREAM_LATE_DATA_AUDIT,
    ),
    "streaming_sliding_hourly_counts": (
        lambda spark, sf_dir: stream_sliding_hourly_counts(spark, sf_dir),
        SQL_STREAM_SLIDING_HOURLY_COUNTS,
    ),
    "streaming_dedup_exact": (
        lambda spark, sf_dir: stream_dedup_exact(spark, sf_dir),
        SQL_STREAM_DEDUP_EXACT,
    ),
    "streaming_stream_join": (
        lambda spark, sf_dir: stream_click_purchase_join(spark, sf_dir),
        SQL_STREAM_CLICK_PURCHASE_JOIN,
    ),
}
