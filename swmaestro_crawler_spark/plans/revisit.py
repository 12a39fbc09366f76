"""Change-rate-driven revisit rounds: refetch URLs when their estimated
change interval says they are due.

The reference refreshes on a fixed recency horizon (every channel whose
``recent`` flag is set is rescanned each run — the frontier scans in
Utils/Nox_Crawler.py / New_YouTube_Crawler.py). At 10^10 URLs a crawler
estimates each page's change rate from its OWN fetch history instead
(Cho & Garcia-Molina's refresh policies); the engine already has the
history — the spans table accumulates one observation row per (url,
round) — so the estimator is ``operators/scheduling.change_interval``,
the one ``q_recrawl_schedule`` runs, with the crawl round as the clock
and ``xxhash64(to_json(spans))`` as the content fingerprint.

``run_revisit`` is an auxiliary flow BETWEEN crawls, deliberately not
wired into the main round loop (whose stop-on-seen semantics are
reference-parity-pinned): it builds the due frontier from the catalog,
reuses the round machinery's politeness admission and salted-bucket
batch fetch verbatim — robots and crawl-delay budgets apply to revisits
exactly as to discovery fetches — and appends the new observations as
ordinary spans + seen snapshots (zero-copy manifest append, same as the
round pipeline). Everything is data-derived and deterministic: two
identical warehouses produce byte-identical revisit commits
(tests/test_revisit.py pins digests).

Scale shape: the estimator is one window + one same-key aggregation on
doc_id (one shuffle); the frontier build re-canonicalizes only DUE urls;
fetch is the existing one-Exchange -> fused-Arrow stage. Nothing here
collects per-URL state to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import Catalog
from ..config import CrawlConfig
from ..functions.canonical import with_canonical
from ..operators.fetch import FETCHED, synth_transport
from ..operators.politeness import (
    priority_order,
    split_admitted,
    split_robots_excluded,
)
from ..operators.scheduling import change_interval
from ..schema import OBSERVATIONS, ROBOTS, SPANS_DOC
from .round import (
    FRONTIER_COLS,
    _StepTimer,
    adopt_spans,
    append_seen,
    fetch_and_commit,
)

# intervals are measured in crawl rounds (the engine's clock); a page
# never seen changing waits the maximum, a churning page is re-eligible
# every round (politeness still gates the actual fetch)
MIN_INTERVAL_ROUNDS = 1
MAX_INTERVAL_ROUNDS = 64


def content_fp(spans_col) -> F.Column:
    """The revalidation validator: a content fingerprint of the span
    sequence (the engine's ETag). Deterministic — ``to_json`` of the
    span structs is a pure function of (kind, text, media_ref, offset)."""
    return F.xxhash64(F.to_json(spans_col))


def revisit_schedule(
    spans: DataFrame, observations: DataFrame | None = None
) -> DataFrame:
    """Per-URL change-rate estimate over the observation history — span
    documents plus (when conditional revalidation is on) the tiny
    not-modified observation rows, which carry the UNCHANGED fingerprint
    and therefore extend the history without re-storing content:
    (doc_id, host, n_obs, n_changes, last_round, interval_rounds,
    due_round)."""
    obs = spans.select(
        "doc_id",
        "host",
        "round",
        content_fp(F.col("spans")).alias("content_fp"),
    )
    if observations is not None:
        obs = obs.unionByName(
            observations.select("doc_id", "host", "round", "content_fp")
        )
    agg = change_interval(
        obs,
        "doc_id",
        ["round"],
        "round",
        "content_fp",
        MIN_INTERVAL_ROUNDS,
        MAX_INTERVAL_ROUNDS,
        # functionally dependent on doc_id; min is order-stable
        F.min("host").alias("host"),
    )
    return agg.select(
        "doc_id",
        "host",
        "n_obs",
        "n_changes",
        F.col("t_last").alias("last_round"),
        F.col("interval").cast("int").alias("interval_rounds"),
        (F.col("t_last") + F.col("interval")).cast("int").alias("due_round"),
    )


def revisit_frontier(cat: Catalog, now_round: int) -> DataFrame:
    """FRONTIER-schema rows for every URL due at ``now_round``. seq =
    url_hash: a deterministic, data-derived priority that needs no global
    ordering pass (revisits have no parent link index)."""
    due = revisit_schedule(
        cat.read("spans", SPANS_DOC), cat.read("observations", OBSERVATIONS)
    ).filter(F.col("due_round") <= F.lit(int(now_round)))
    return (
        due.select(F.col("doc_id").alias("url"))
        .transform(with_canonical)
        .select(
            "url",
            "url_hash",
            "host",
            F.lit(0).cast("int").alias("depth"),
            F.col("url_hash").alias("seq"),
            F.lit(int(now_round)).cast("int").alias("round"),
            F.lit(0).cast("int").alias("attempt"),
            F.lit(None).cast("string").alias("parent"),
        )
    )


def last_fingerprints(cat: Catalog) -> DataFrame:
    """Latest known content fingerprint per URL — the validator a
    conditional revisit compares against (the crawler-side half of HTTP
    If-None-Match). One union + one doc_id-keyed window; the observation
    rows are 4 columns, never span bytes."""
    spans_fp = cat.read("spans", SPANS_DOC).select(
        "doc_id", "round", content_fp(F.col("spans")).alias("fp")
    )
    obs = cat.read("observations", OBSERVATIONS).select(
        "doc_id", "round", F.col("content_fp").alias("fp")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("round").desc())
    return (
        spans_fp.unionByName(obs)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("fp").alias("last_fp"))
    )


def run_revisit(
    spark: SparkSession,
    cat: Catalog,
    cfg: CrawlConfig,
    now_round: int,
    transport_factory=synth_transport,
    conditional: bool = False,
) -> dict:
    """One revisit round: due frontier -> robots + politeness admission ->
    batch fetch -> spans/seen append. Returns summary counts. Commits
    ordinary catalog snapshots (time-traveled like any other); run it
    between crawls — the next crawl's checkpoint protocol picks up the
    post-revisit snapshot ids.

    ``conditional=True`` is the HTTP conditional-GET shape (RFC 9110
    §13.1): a refetched page whose content fingerprint equals the last
    known one is recorded as a 4-column OBSERVATIONS row instead of
    re-storing its full span document — at 10^10 URLs a revisit sweep is
    mostly unchanged pages, so this turns the dominant storage write into
    metadata. The change-rate estimator unions both histories
    (``revisit_schedule``), so scheduling is EXACTLY what full re-storage
    would compute — pinned by tests/test_conditional_revisit.py."""
    tm = _StepTimer()
    tm.step("admit_fetch_write")
    robots = cat.read("robots", ROBOTS)
    frontier = revisit_frontier(cat, now_round)
    allowed, _excluded, _ = split_robots_excluded(frontier, robots)
    admitted, deferred = split_admitted(allowed.select(*FRONTIER_COLS), robots, cfg)
    meta = {"round": int(now_round), "revisit": True}
    sid = fetch_and_commit(cat, admitted, cfg, now_round, meta, transport_factory).sid
    ok = cat.read("fetched", FETCHED, snapshot=sid).filter(F.col("ok"))
    tm.step("counts")
    res = {
        "round": int(now_round),
        # one FETCHED row per admitted URL -> the committed snapshot's
        # row count IS the admitted count (no re-run of the admission DAG)
        "admitted": cat.rows_delta("fetched", sid),
        "deferred": deferred.count(),
        "refetched_ok": ok.count(),
    }
    if not conditional:
        tm.step("spans_adopt")
        adopt_spans(cat, sid, meta)
    else:
        tm.step("revalidate_observations")
        # persist: the split below drives three actions (observation
        # append, changed count, changed re-stage) — without a cut each
        # would re-run the full-history fingerprint window
        j = (
            ok.withColumn("new_fp", content_fp(F.col("spans")))
            .join(
                last_fingerprints(cat),
                F.col("url") == F.col("doc_id"),
                "left",
            )
            .persist()
        )
        unchanged = j.filter(
            F.col("last_fp").isNotNull() & (F.col("new_fp") == F.col("last_fp"))
        )
        changed = j.filter(
            F.col("last_fp").isNull() | (F.col("new_fp") != F.col("last_fp"))
        )
        cat.append(
            "observations",
            unchanged.select(
                F.col("url").alias("doc_id"),
                "host",
                F.lit(int(now_round)).cast("int").alias("round"),
                F.col("new_fp").alias("content_fp"),
            )
            # deterministic layout (like the other bookkeeping tables):
            # hash-partitioned + sorted, so identical warehouses commit
            # byte-identical observation files at any parallelism
            .repartition(cfg.frontier_partitions, "doc_id")
            .sortWithinPartitions("doc_id"),
            meta={"round": int(now_round), "revisit": True},
        )
        # re-stage only the CHANGED rows in the exact FETCHED layout the
        # spans table's zero-copy props mapping reads; an all-304 sweep
        # commits NOTHING to spans (digest-stable, not even empty files)
        tm.step("revalidate_changed")
        n_changed = changed.count()
        if n_changed:
            sid_changed = cat.overwrite(
                "fetched",
                changed.select(*FETCHED.fieldNames()).sortWithinPartitions(
                    "host", *priority_order()
                ),
                meta={"round": int(now_round), "revisit": True, "revalidated": True},
            )
            adopt_spans(cat, sid_changed, meta)
        res["modified"] = n_changed
        res["not_modified"] = res["refetched_ok"] - n_changed
        j.unpersist()
    tm.step("seen_append")
    append_seen(cat, ok, cfg, now_round, meta)
    res["timings"] = tm.rounded()
    return res
