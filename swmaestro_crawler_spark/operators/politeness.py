"""Per-host politeness as a relational operator.

The reference enforces politeness with wall-clock sleeps — 0.2 s before
every channels-API call (New_YouTube_Crawler.py:93) and a >=6 s + U(0,1)
jitter floor per watch page (New_YouTube_Crawler_Comment.py:443-448) —
one process at a time per identity (supervisor.py:47-67,146-160).

Set-oriented re-expression: each crawl round spans ``round_seconds`` of
budget, so host h may be fetched at most

    budget(h) = min(per_host_cap, max(1, floor(round_seconds / crawl_delay(h))))

times per round. Admission is a rank-vs-budget filter:

    row_number() OVER (PARTITION BY host ORDER BY priority) <= budget(h)

No sleeping, no per-row Python; rows over budget are deferred to the next
round (they stay pending). The priority ORDER — (depth DESC, seq ASC,
url_hash ASC) — realizes the reference's LIFO newest-first continuation
order ("Ordering matters", New_YouTube_Crawler_Comment.py:162-166) as a
pure data ordering, so crawl order is identical at any cluster size.

Robots disallow-prefix exclusion covers what the reference hardcodes as
skip-classes (private/unplayable pages, New_YouTube_Crawler_Comment.py:58-64).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..config import CrawlConfig
from ..schema import ROBOTS
from ..sources import synth_web

ADMISSION_SALTS = 16  # sub-buckets per host in the two-phase top-k
BACKOFF_MAX_EXP = 4   # adaptive backoff stretches a delay by at most 2^4


# The engine-wide priority order as (column, ascending) pairs:
# LIFO-newest-first (depth DESC), then discovery order within the parent
# page (seq ASC), then url_hash for a total, cluster-size-independent
# order. Admission ranks by it; fetch files are sorted by host, then it.
PRIORITY = (("depth", False), ("seq", True), ("url_hash", True))


def priority_order():
    """``PRIORITY`` as Spark sort columns."""
    return [F.col(c).asc() if asc else F.col(c).desc() for c, asc in PRIORITY]


def synth_robots(spark: SparkSession, cfg: CrawlConfig, epoch: int = 0) -> DataFrame:
    """ROBOTS dimension from RAW robots.txt bodies through the vectorized
    parser (functions/robots.py) — the end-to-end path a real crawl runs
    (fetch robots.txt like any page, parse, schedule). The sequential
    oracle consumes the structured robots_for_host directly, so the
    crawl-equality tests double as render→parse round-trip checks.
    ``epoch`` selects the TTL-revalidation policy generation
    (synth_web.robots_for_host; 0 = the bootstrap policy)."""
    from ..functions.robots import robots_table_from_bodies

    rows = [
        (h, synth_web.robots_txt_for_host(h, cfg, epoch))
        for h in synth_web.hosts(cfg.synth_n_hosts)
    ]
    bodies = spark.createDataFrame(rows, "host string, body string")
    return robots_table_from_bodies(bodies)


def _robots_rules(patterns):
    """array<string> of RAW robots patterns -> array<struct<like,spec>>:
    ``like`` is the SQL LIKE translation of the pattern (escape
    ``\\ % _``, robots ``*`` -> ``%``, a trailing ``$`` anchors the match
    instead of appending the implicit-prefix ``%``) and ``spec`` is the
    RFC 9309 specificity (octet length of the raw pattern — longest
    match wins). Evaluated on the tiny per-host dimension BEFORE the
    broadcast, never per frontier row."""
    def rule(p):
        anchored = p.endswith("$")
        raw = F.when(anchored, F.substr(p, F.lit(1), F.length(p) - 1)).otherwise(p)
        esc = F.regexp_replace(raw, r"([\\%_])", r"\\$1")
        star = F.replace(esc, F.lit("*"), F.lit("%"))
        like = F.when(anchored, star).otherwise(F.concat(star, F.lit("%")))
        return F.struct(like.alias("like"), F.length(p).alias("spec"))

    return F.transform(patterns, rule)


def _best_match_spec(rules, path):
    """Longest-match specificity of ``path`` over translated rules
    (0 = no rule matches) — codegen FILTER + AGGREGATE, no UDF."""
    return F.aggregate(
        F.filter(rules, lambda r: F.like(path, r["like"], F.lit("\\"))),
        F.lit(0),
        lambda acc, r: F.greatest(acc, r["spec"]),
    )


def split_robots_excluded(
    frontier: DataFrame, robots: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(allowed, excluded, joined) after the robots exclusion check —
    RFC 9309 group-member semantics: among all ``Allow``/``Disallow``
    patterns matching the URL path, the most specific (longest) wins,
    with ``Allow`` winning ties; no matching rule means allowed.
    Patterns support the spec's ``*`` wildcard and ``$`` end anchor.

    robots is a per-host dimension — broadcast, so no shuffle of the
    frontier; pattern translation (raw robots pattern -> SQL LIKE) runs
    on the dimension side before the broadcast, and the per-URL test is
    a codegen'd FILTER/AGGREGATE over the translated arrays.
    ``joined`` is the shared parent both splits filter — the caller may
    persist it so the upstream dedup window materializes once.
    """
    dim = robots.select(
        "host",
        _robots_rules(F.col("disallow_prefixes")).alias("_dis_rules"),
        _robots_rules(F.col("allow_prefixes")).alias("_allow_rules"),
    )
    path = F.regexp_replace(F.col("url"), r"^[a-z][a-z0-9+.\-]*://[^/]*", "")
    joined = frontier.join(F.broadcast(dim), "host", "left").withColumn(
        "robots_blocked",
        F.coalesce(
            _best_match_spec(F.col("_dis_rules"), path)
            > _best_match_spec(F.col("_allow_rules"), path),
            F.lit(False),
        ),
    )
    allowed = joined.filter(~F.col("robots_blocked")).drop(
        "robots_blocked", "_dis_rules", "_allow_rules"
    )
    excluded = joined.filter(F.col("robots_blocked")).drop(
        "robots_blocked", "_dis_rules", "_allow_rules"
    )
    return allowed, excluded, joined


def host_budget_col(cfg: CrawlConfig):
    return F.least(
        F.lit(cfg.per_host_cap),
        F.greatest(F.lit(1), F.floor(F.lit(cfg.round_seconds) / F.col("crawl_delay_s"))),
    ).cast("int")


def host_backoff_factors(stats: DataFrame, max_exp: int = BACKOFF_MAX_EXP) -> DataFrame:
    """Per-host adaptive-backoff factor from the HOST_STATS history:
    (host, backoff_factor double).

    The reference sleeps a FIXED crawl-delay regardless of how the host
    behaves; production crawlers (Heritrix's delay-factor, Nutch's
    exponential backoff) stretch the delay when a host keeps erroring.
    Rule: a host's round is "erroring" when transient failures (HTTP
    500) are at least as many as its successes and nonzero; the factor
    is 2^min(streak, max_exp) where streak counts the host's observed
    erroring rounds since its last observed non-erroring round. Factors
    are exact powers of two (shiftleft, no float pow), so engine and
    oracle agree bit-for-bit on the effective delay.

    Scale shape: HOST_STATS is one row per (host, round) — dimension-
    sized, never frontier-sized; two small aggregations, broadcast back
    into admission."""
    err = stats.select(
        "host",
        "round",
        ((F.col("transient_n") >= F.col("ok_n")) & (F.col("transient_n") > 0)).alias("err"),
    )
    last_ok = (
        err.filter(~F.col("err"))
        .groupBy("host")
        .agg(F.max("round").alias("last_ok_round"))
    )
    streak = (
        err.filter(F.col("err"))
        .join(last_ok, "host", "left")
        .filter(F.col("round") > F.coalesce(F.col("last_ok_round"), F.lit(-1)))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("streak"))
    )
    # SQL shiftleft (the Python wrapper only takes a literal int for
    # numBits, the SQL form takes a column)
    return streak.select(
        "host",
        F.expr(
            f"cast(shiftleft(1, cast(least(streak, {int(max_exp)}) as int)) as double)"
        ).alias("backoff_factor"),
    )


def split_admitted(
    frontier: DataFrame,
    robots: DataFrame,
    cfg: CrawlConfig,
    order: list | None = None,
    backoff: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(admitted, deferred) under the per-host crawl-delay budget: the
    skew-safe two-phase top-k (``_top_k``, axis B) with the host's
    budget as its limit. A Zipf-hot host can hold most of the frontier,
    and a single ``Window.partitionBy(host)`` would drag all of its rows
    through one reducer. Both phases order by the engine PRIORITY key,
    so the admitted set and order equal the single-window semantics —
    tests/test_crawl_matches_oracle.py proves it against the sequential
    oracle.

    ``order`` overrides the priority key (default: the reference LIFO
    order). The phase-1 argument holds for ANY total order, so
    score-weighted admission reuses this skew-safe shape unchanged (see
    score_admitted)."""
    if order is None:
        order = priority_order()
    joined = frontier.join(
        F.broadcast(robots.select("host", "crawl_delay_s")), "host", "left"
    ).withColumn("crawl_delay_s", F.coalesce(F.col("crawl_delay_s"), F.lit(1.0)))
    if backoff is not None:
        # adaptive backoff: stretch the effective delay for hosts with a
        # trailing streak of erroring rounds (host_backoff_factors).
        # Exact power-of-two factors keep the float arithmetic identical
        # to the oracle's.
        joined = joined.join(F.broadcast(backoff), "host", "left").withColumn(
            "crawl_delay_s",
            F.col("crawl_delay_s") * F.coalesce(F.col("backoff_factor"), F.lit(1.0)),
        ).drop("backoff_factor")
    admitted, deferred = _top_k(
        joined.withColumn("host_budget", host_budget_col(cfg)),
        [F.col("host")],
        order,
        F.col("host_budget"),
    )
    return (
        admitted.drop("crawl_delay_s", "host_budget"),
        deferred.drop("crawl_delay_s", "host_budget"),
    )


def _top_k(df: DataFrame, keys: list, order: list, limit) -> tuple[DataFrame, DataFrame]:
    """(kept, over): the first ``limit`` rows of each ``keys`` group
    under ``order`` (a total order), and the rest. ``limit`` is a
    Column, constant within a group.

    Skew-safe two-phase top-k: phase 1 ranks within ``keys`` plus
    ``pmod(url_hash, ADMISSION_SALTS)``, spreading a hot group over that
    many reducers, and keeps each sub-bucket's top ``limit`` (any row in
    the group's top ``limit`` is in its sub-bucket's top ``limit``, so
    none is lost); phase 2 ranks the survivors, at most ADMISSION_SALTS x
    ``limit`` per group, exactly."""
    sub = F.pmod(F.col("url_hash"), F.lit(ADMISSION_SALTS))
    w1 = Window.partitionBy(*keys, sub).orderBy(*order)
    ranked1 = df.withColumn("_rank1", F.row_number().over(w1))
    cand = ranked1.filter(F.col("_rank1") <= limit)
    over1 = ranked1.filter(F.col("_rank1") > limit).drop("_rank1")

    w2 = Window.partitionBy(*keys).orderBy(*order)
    ranked2 = cand.withColumn("_rank2", F.row_number().over(w2))
    kept = ranked2.filter(F.col("_rank2") <= limit).drop("_rank1", "_rank2")
    over2 = ranked2.filter(F.col("_rank2") > limit).drop("_rank1", "_rank2")
    return kept, over1.unionByName(over2)


def dedup_frontier(frontier: DataFrame) -> DataFrame:
    """One row per url_hash: keep the retry with the highest attempt, then
    the best priority — deterministic total tie-break.

    Replaces per-row existence probes with a single window dedup
    (reference: ON CONFLICT DO NOTHING at view_count_crawler.py:140-147).
    """
    w = Window.partitionBy("url_hash").orderBy(
        F.col("attempt").desc(),
        F.col("depth").desc(),
        F.col("seq").asc(),
        F.col("parent").asc_nulls_first(),
    )
    return (
        frontier.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


# ---------------------------------------------------------------------------
# Spider-trap guard (opt-in; reference parity needs the cap OFF — the
# reference's curated YouTube-id frontier has no adversarial URL space)
# ---------------------------------------------------------------------------
TEMPLATE_PLACEHOLDER = "N"


def url_template(url):
    """Digit runs collapsed to a placeholder — calendar pages, session-id
    query strings, and paginated facets all collapse onto one template
    (the offline analytics in operators/urlspace.py template with it
    too, so its trap telemetry names the templates the guard caps)."""
    return F.regexp_replace(url, "[0-9]+", TEMPLATE_PLACEHOLDER)


def cap_per_template(
    frontier: DataFrame, cfg: CrawlConfig
) -> tuple[DataFrame, DataFrame]:
    """(kept, overflow): at most ``cfg.trap_template_cap`` frontier rows
    per (host, URL template) proceed to politeness admission per round;
    the overflow stays pending (it is re-considered next round, so a
    template that is no trap is throttled, never dropped — and a true trap
    is bounded to cap x rounds URLs instead of devouring the frontier).

    Skew-safety is the same two-phase top-k as admission (``_top_k``):
    a trap template IS the hot key by definition, so phase 1 spreads it
    over ``ADMISSION_SALTS`` reducers and phase 2 ranks only the bounded
    survivors exactly. Ordering is the engine priority key, so the kept
    set is deterministic at any cluster size."""
    cap = F.lit(int(cfg.trap_template_cap))
    tpl = url_template(F.col("url"))
    return _top_k(frontier, [F.col("host"), tpl], priority_order(), cap)


# ---------------------------------------------------------------------------
# Importance-weighted admission (opt-in; reference parity needs LIFO)
# ---------------------------------------------------------------------------
def score_admitted(
    frontier: DataFrame,
    scores: DataFrame,
    robots: DataFrame,
    cfg: CrawlConfig,
    backoff: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """split_admitted with importance-first ordering: (score DESC, then
    the LIFO key as total tie-break). OPT-IN — the default crawl keeps
    the reference's LIFO order (crawl-order parity is a correctness
    criterion); this is the scheduler a production frontier would run.
    Never-scored URLs (no inlinks yet) rank below any scored URL at
    score 0. The scores join is a hash join on url_hash — broadcast
    when small, shuffle otherwise; the skew-safe two-phase top-k is
    reused unchanged."""
    scored = frontier.join(
        scores.select("url_hash", "score"), "url_hash", "left"
    ).withColumn("score", F.coalesce(F.col("score"), F.lit(0).cast("long")))
    admitted, deferred = split_admitted(
        scored, robots, cfg, order=[F.col("score").desc(), *priority_order()],
        backoff=backoff,
    )
    return admitted.drop("score"), deferred.drop("score")
