"""Recrawl scheduling: per-entity change-rate estimation -> next-due time.

The reference recrawls on a fixed recency horizon (every channel whose
``recent`` flag is set is refetched each run, Utils/Nox_Crawler.py /
New_YouTube_Crawler.py frontier scans) — at 10^10 URLs a crawler instead
estimates each page's change rate from its own observation history and
schedules the next fetch proportionally (Cho & Garcia-Molina, "Effective
Page Refresh Policies for Web Crawlers", TODS 2003). This operator is that
estimator as one window + one aggregation:

- observations: the entity's fetch history ordered by ``(ts, event_id)``
  (a total order — ties broken by the unique event id in BOTH engines);
- a *change* is an observation whose payload differs from the previous
  one (null-safe: ``IS DISTINCT FROM``), i.e. the crawler saw new content;
- estimated change interval = ``observed_span / n_changes`` (integer
  microseconds — exact in both engines for the nonnegative operands);
  pages never seen changing get the maximum interval, hot pages clamp to
  the minimum (the politeness floor);
- ``next_due_us = last_seen + interval``; ``due_now`` compares against a
  fixed reference instant so the query is deterministic.

Scale shape: one window shuffle on the entity key + one map-side-combinable
aggregation on the same key (AQE coalesces both into the same exchange
footprint); no joins, no driver state, integer-only math end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..sources.testdata import load

# politeness floor / staleness ceiling for the estimated recrawl interval
MIN_INTERVAL_US = 3_600_000_000  # 1 hour
MAX_INTERVAL_US = 604_800_000_000  # 7 days
# fixed "now" for the due_now flag (2026-01-01T00:00:00Z) — a literal so
# the query is reproducible; production passes the scheduler tick instead
REF_US = 1_767_225_600_000_000


def change_interval(
    obs: DataFrame,
    key: str,
    order: list[str],
    t: str,
    value: str,
    min_interval: int,
    max_interval: int,
    *extra: Column,
) -> DataFrame:
    """The change-rate estimator over an observation history: one window
    on ``key`` in ``order`` (a total order), then one aggregation on the
    same key. Returns (key, *extra, n_obs, n_changes, t_first, t_last,
    interval): ``interval`` is ``(t_last - t_first) div n_changes``
    clamped to [min_interval, max_interval], or ``max_interval`` when
    ``value`` never changed. ``extra`` are further aggregates."""
    w = Window.partitionBy(key).orderBy(*order)
    hist = obs.select(
        "*",
        (~F.col(value).eqNullSafe(F.lag(value).over(w))).cast("int").alias("chg"),
        F.row_number().over(w).alias("rn"),
    )
    agg = hist.groupBy(key).agg(
        *extra,
        F.count("*").alias("n_obs"),
        # the first observation is baseline, not a change
        F.sum(F.when(F.col("rn") > 1, F.col("chg")).otherwise(0)).alias("n_changes"),
        F.min(t).alias("t_first"),
        F.max(t).alias("t_last"),
    )
    interval = F.when(F.col("n_changes") == 0, F.lit(max_interval)).otherwise(
        F.least(
            F.greatest(
                F.expr("(t_last - t_first) div greatest(n_changes, 1)"),
                F.lit(min_interval),
            ),
            F.lit(max_interval),
        )
    )
    return agg.withColumn("interval", interval)


def q_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    obs = ev.withColumn("t_us", F.unix_micros(F.col("ts").cast("timestamp")))
    agg = change_interval(
        obs, "user_id", ["ts", "event_id"], "t_us", "value", MIN_INTERVAL_US, MAX_INTERVAL_US
    )
    due = F.col("t_last") + F.col("interval")
    return agg.select(
        "user_id",
        "n_obs",
        "n_changes",
        (F.col("t_last") - F.col("t_first")).alias("span_us"),
        F.col("interval").alias("interval_us"),
        due.alias("next_due_us"),
        (due <= F.lit(REF_US)).cast("int").alias("due_now"),
    )


SQL_RECRAWL_SCHEDULE = f"""
WITH obs AS (
  SELECT user_id,
         epoch_us(ts) AS t_us,
         CAST(value IS DISTINCT FROM
              lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS INT) AS chg,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
agg AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_obs,
         CAST(sum(CASE WHEN rn > 1 THEN chg ELSE 0 END) AS BIGINT) AS n_changes,
         min(t_us) AS first_us,
         max(t_us) AS last_us
  FROM obs GROUP BY user_id),
est AS (
  SELECT *,
         CASE WHEN n_changes = 0 THEN {MAX_INTERVAL_US}
              ELSE least(greatest((last_us - first_us) // greatest(n_changes, 1),
                                  {MIN_INTERVAL_US}),
                         {MAX_INTERVAL_US})
         END AS interval_us
  FROM agg)
SELECT user_id, n_obs, n_changes,
       last_us - first_us AS span_us,
       interval_us,
       last_us + interval_us AS next_due_us,
       CAST(last_us + interval_us <= {REF_US} AS INT) AS due_now
FROM est
"""


def q_adaptive_backoff_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive-politeness backoff factors (operators/politeness.
    host_backoff_factors) driven from the events table: host := user_id,
    round := day index, ok_n := 'view' events, transient_n := 'error'
    events (other event types are neither — the engine's fatal codes).
    A host whose observed days keep majority-erroring since its last
    healthy day gets factor 2^min(streak, 4) — the exact operator the
    crawl's admission multiplies into the crawl-delay when
    cfg.adaptive_backoff is on.

    Scale shape: the stats build is one map-side-combinable groupBy;
    host_backoff_factors then aggregates the dimension-sized stats table
    twice — never frontier-sized work."""
    from .politeness import host_backoff_factors

    ev = load(spark, sf_dir, "events")
    stats = ev.groupBy(
        F.col("user_id").cast("string").alias("host"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("round"),
    ).agg(
        F.sum((F.col("event_type") == "view").cast("long")).alias("ok_n"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("transient_n"),
    )
    return host_backoff_factors(stats, max_exp=4)


SQL_ADAPTIVE_BACKOFF_FACTORS = """
WITH stats AS (
  SELECT CAST(user_id AS VARCHAR) AS host,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS round,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS ok_n,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS transient_n
  FROM events GROUP BY 1, 2),
err AS (
  SELECT host, round,
         (transient_n >= ok_n AND transient_n > 0) AS err
  FROM stats),
last_ok AS (
  SELECT host, max(round) AS last_ok_round FROM err WHERE NOT err GROUP BY host),
streak AS (
  SELECT e.host, count(*) AS streak
  FROM err e LEFT JOIN last_ok l ON e.host = l.host
  WHERE e.err AND e.round > coalesce(l.last_ok_round, -1)
  GROUP BY e.host)
SELECT host,
       CAST(1 << CAST(least(streak, 4) AS INT) AS DOUBLE) AS backoff_factor
FROM streak
"""


QUERIES = {
    "recrawl_schedule": (q_recrawl_schedule, SQL_RECRAWL_SCHEDULE),
    "adaptive_backoff_factors": (
        q_adaptive_backoff_factors,
        SQL_ADAPTIVE_BACKOFF_FACTORS,
    ),
}
