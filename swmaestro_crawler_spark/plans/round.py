"""One crawl round as a single declarative DataFrame pipeline.

The reference's round is a supervisor-gated stage sequence — seed the
queue, spawn workers, poll queue depth to zero (supervisor.py:38-196).
Here a round is:

    pending --bloom(+cuckoo) probe--> --dedup--> --robots-->
            [persisted: robots_joined] --anti-join probe positives-->
            --politeness admit--> --salted-bucket fetch (+ bloom increment,
            outlinks)--> --span docs / seen / crawl-order / retries /
            next pending-->

A round runs exactly two Python stages, the probe and the fetch; every
other job is JVM-side. Each Python task pays a fixed setup cost before
it touches a row (PySpark re-reads its zip imports on every task), so
the count of Python tasks, not only rows, sets the round's Python CPU.

- The seen-tier probe runs on the scan side, one task per pending scan
  split, inside the persisted probe+dedup+robots node: both branches of
  the unseen filter read its cached ``maybe_seen``.
- The fused fetch pass also writes each task's bloom increment (a
  sidecar the driver ORs in) and the round's outlinks: canonical, with
  their XXH64 ``url_hash`` and the round-start bloom probe
  (``fetch.RoundOutputs``). The round reads the outlinks back as a
  round-scoped catalog table (``OUTLINKS_TABLE``); with no row able to
  expand it is empty and the optimizer drops the outlink branch.
- The crawl-order rank is a JVM projection, and an empty table reads as
  a JVM ``LocalRelation`` (``Catalog._scan``).

The cuckoo increment (opt-in) stays a job of its own: its table bytes
depend on insertion order, which one task per key shard fixes.

``run_round_critical`` runs the round up to its last data commit: the
bookkeeping commits run concurrently on driver threads and are joined
in one place, so a failing job leaves no thread behind.
``finish_round`` derives metrics and lineage from the committed
snapshots. The fetch commit and the seen append are shared with the
revisit flow (``fetch_and_commit``, ``append_seen``).

Every ordering decision is derived from data (PRIORITY keys), never from
task timing, so the crawl order is identical at local[8] and local[32]
(the N vs 4N correctness half of the scaling criterion), and every write
is deterministically partitioned + sorted so resume is byte-identical.
"""

from __future__ import annotations

import concurrent.futures
import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import Catalog
from ..config import CrawlConfig
from ..functions.canonical import host_of
from ..operators.fetch import (
    FETCHED,
    OUTLINKS,
    RoundOutputs,
    fetch_stage_direct,
    resolved as is_resolved,
    stage_bloom_words,
    synth_transport,
)
from ..operators.politeness import (
    cap_per_template,
    priority_order,
    dedup_frontier,
    split_admitted,
    split_robots_excluded,
)
from ..operators.seen import as_seen_rows, bloom_probe, or_words, unseen_of_probed

# The round takes its bloom increment from the fetch pass; the rebuild
# path stays importable here because tracers patch it by this name
# (crawlbench/tracing.py times it as ``seen.bloom_build``).
from ..operators.seen import build_bloom_distributed  # noqa: F401
from ..schema import FRONTIER, HOST_STATS, LINEAGE, METRICS, SEEN

FRONTIER_COLS = [f.name for f in FRONTIER.fields]


def _part_by_hash(df: DataFrame, n: int, col: str = "url_hash") -> DataFrame:
    """Deterministic layout: hash-partition on a data key, sort within.
    Cluster-size independent -> byte-identical files across runs/resumes."""
    return df.repartition(n, F.pmod(F.xxhash64(F.col(col).cast("string")), F.lit(n))).sortWithinPartitions(col)


def _pending_layout(df: DataFrame, n: int) -> DataFrame:
    """The pending table's file layout: hash-partitioned on url_hash,
    each file sorted on (url_hash, attempt, depth, seq, parent)."""
    return _part_by_hash(df, n).sortWithinPartitions(
        "url_hash", "attempt", "depth", "seq", "parent"
    )


def adopt_spans(cat: Catalog, sid: int, meta: dict) -> int:
    """ZERO-COPY spans commit of fetched snapshot ``sid``: the spans table
    takes the snapshot's data files with a name mapping (doc_id<-url,
    round<-fetch_round) and a row-filter predicate (ok only)."""
    return cat.append_files(
        "spans",
        "fetched",
        sid,
        meta=meta,
        column_map={"doc_id": "url", "round": "fetch_round"},
        row_filter="ok",
    )


# the round's outlinks (operators/fetch.OUTLINKS): a round-scoped scratch
# table, dropped and written again by every round's fetch (nothing reads
# an earlier round's outlinks) and left out of the crawl checkpoint
# (plans/crawl.TABLES) — a resumed round writes it again
OUTLINKS_TABLE = "outlinks"


@dataclass
class FetchCommit:
    """What ``fetch_and_commit`` committed: the fetched snapshot and, when
    the pass wrote a round's outputs, the resolved rows' bloom increment
    (``seen.bloom_words`` form) and the outlinks snapshot."""

    sid: int
    bloom_words: np.ndarray | None = None
    outlinks_sid: int | None = None


def fetch_and_commit(
    cat: Catalog,
    admitted: DataFrame,
    cfg: CrawlConfig,
    r: int,
    meta: dict,
    transport_factory=synth_transport,
    bloom_bc=None,
) -> FetchCommit:
    """Fetch ``admitted`` into the fetched scratch table. One fused Arrow
    pass fetches AND extracts spans and writes the span/link bytes
    Arrow -> parquet inside the Python workers: the JVM sees one stats
    row per partition (operators/fetch.fetch_stage_direct — content- and
    layout-identical to the mapInArrow->df.write reference,
    digest-pinned). The sort inside the pass makes the files
    deterministic regardless of shuffle arrival order (byte-identical
    resume, N-vs-4N equality).

    With ``bloom_bc`` (the broadcast bytes of the round-start bloom) the
    same pass also yields the round's bloom increment and its outlinks
    (``fetch.RoundOutputs``), committed as ``OUTLINKS_TABLE``."""
    stage = cat.new_stage("fetched")
    outputs = None
    if bloom_bc is not None:
        cat.drop(OUTLINKS_TABLE)
        outputs = RoundOutputs(bloom_bc, cat.new_stage(OUTLINKS_TABLE))
    fetch_stage_direct(
        admitted.withColumn("fingerprint", F.hash(F.col("url"))),
        cfg,
        r,
        stage,
        transport_factory,
        outputs,
    ).agg(F.sum("rows")).first()
    if outputs is None:
        return FetchCommit(cat.overwrite_stage("fetched", stage, meta=meta))
    words = stage_bloom_words(stage)
    return FetchCommit(
        cat.overwrite_stage("fetched", stage, meta=meta),
        words,
        cat.overwrite_stage(OUTLINKS_TABLE, outputs.links_dir, meta=meta),
    )


def append_seen(
    cat: Catalog, resolved: DataFrame, cfg: CrawlConfig, r: int, meta: dict
) -> int:
    """Seen-tier exact-table update: one row per resolved URL, in the
    hash-partitioned, sorted layout of every seen snapshot."""
    return cat.append(
        "seen",
        _part_by_hash(as_seen_rows(resolved, cfg.seen_buckets, r), cfg.frontier_partitions),
        meta=meta,
    )


def with_global_ord(df: DataFrame, sort_cols, n_parts: int):
    """Dense 0-based global rank over ``sort_cols`` WITHOUT a single-reducer
    window (``Window.orderBy`` with no partitionBy funnels every row through
    one task — the serial stage that would cap scaling at 4N executors).

    Scalable zipWithIndex: (1) ``repartitionByRange`` + sort-within = a
    fully parallel global sort whose partition ids follow key order,
    persisted; (2) one tiny job collects per-partition row counts ->
    prefix offsets; (3) a JVM projection over the persisted frame adds
    ``offset[pid]`` and the row's position within its partition
    (``monotonically_increasing_id`` minus ``pid << 33``) — no Python
    worker, no shuffle, and no dependence on Arrow batch boundaries.
    ``ord`` stays a non-null long: the offset lookup is ``coalesce``d
    with a literal. The RANK VALUES are deterministic for a given input
    (``sort_cols`` is a total order, so the global position of every row
    is boundary-independent). Returns (ranked_df, persisted_handle);
    caller unpersists the handle after consuming ranked_df.

    The range PARTITIONING itself is NOT run-reproducible at scale:
    Spark's RangePartitioner seeds its reservoir sampling with the
    sampled RDD's id, and RDD ids are a global driver counter — under
    concurrent job submission (the round's bookkeeping jobs) allocation
    order races, so two identical runs can draw different boundary
    samples and place rows in different partitions. Harmless to the rank
    values; fatal to byte-level file-layout equality. (Unit-scale inputs
    sample exhaustively, which is why only large runs expose it.)
    So the ranked frame ends with one exchange keyed on
    ``ord div ceil(total/n_parts)`` — a pure function of row VALUES — and
    every row's file assignment (a contiguous ord block per file) is
    identical across runs regardless of sampling; crawl_order's
    byte-level digests depend on it."""
    s = (
        df.repartitionByRange(n_parts, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = {r["_pid"]: r["count"] for r in s.groupBy("_pid").count().collect()}
    offsets, acc = [], 0
    for pid in range(max(counts, default=0) + 1):
        offsets.append(acc)
        acc += counts.get(pid, 0)

    # A projection straight over the cached scan runs one task per cached
    # partition and sees its rows in their sorted order, so the
    # monotonically_increasing_id row counter is the position in _pid.
    pid = F.col("_pid")
    offset = F.element_at(F.array(*[F.lit(o).cast("long") for o in offsets]), pid + 1)
    pos = F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)
    ranked = s.select(
        *[c for c in s.columns if c != "_pid"],
        (F.coalesce(offset, F.lit(0).cast("long")) + pos).alias("ord"),
    )
    block = max(1, -(-acc // n_parts))  # ceil(total / n_parts)
    ranked = ranked.repartition(
        n_parts, F.floor(F.col("ord") / F.lit(block)).cast("long")
    ).sortWithinPartitions("ord")
    return ranked, s


def frontier_links(outlinks: DataFrame, seen: DataFrame, r: int) -> DataFrame:
    """Round ``r``'s outlinks (``fetch.OUTLINKS`` rows) -> round r+1's
    FRONTIER rows, after the pagination cutoff.

    O5/V4 pagination cutoff: the reference kills a playlist's whole
    pagination chain on the first already-seen video
    (New_YouTube_Crawler.py:263-273, keep_going=False). Batch
    adaptation: a playlist page whose video items include a URL seen AS
    OF ROUND START does not enqueue its next-page continuation.
    Membership reuses the two-tier structure: the fetch pass's
    round-start bloom probe (``maybe_seen``) filters to the maybe-seen
    slice, an exact SEMI join against the round-start ``seen`` confirms
    — no seen-set shuffle for the overwhelmingly-unseen case. Every
    expression here is JVM-side."""
    is_pl_parent = F.col("parent").rlike("://[^/]*/pl/")
    is_pl_child = F.col("url").rlike("://[^/]*/pl/")
    cut_parents = (
        outlinks.filter(is_pl_parent & ~is_pl_child & F.col("maybe_seen"))
        .join(seen.select("url_hash"), "url_hash", "left_semi")
        .select("parent")
        .distinct()
    )
    kept_cont = outlinks.filter(is_pl_parent & is_pl_child).join(
        cut_parents, "parent", "left_anti"
    )
    links = outlinks.filter(~(is_pl_parent & is_pl_child)).unionByName(kept_cont)
    return links.select(
        "url",
        "url_hash",
        host_of(F.col("url")).alias("host"),
        (F.col("parent_depth") + 1).cast("int").alias("depth"),
        F.col("seq").cast("long").alias("seq"),
        F.lit(r + 1).cast("int").alias("round"),
        F.lit(0).cast("int").alias("attempt"),
        "parent",
    )


def unseen_frontier(
    pending: DataFrame,
    robots: DataFrame,
    seen: DataFrame,
    bitmap_bc,
    k: int,
    cuckoo_bc=None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Steps 1-3 of a round: (unseen, excluded, robots_joined).

    1. seen-tier probe on the scan side: one Arrow pass adds
       ``maybe_seen`` (bloom, then the cuckoo re-probe of the bloom
       positives when ``cuckoo_bc`` is given) in one task per pending
       scan split, before any shuffle;
    2. frontier dedup (window, one row per url_hash — ``maybe_seen`` is a
       function of url_hash, so the kept rows carry the same flags as a
       probe after the dedup would give them), then the robots exclusion
       (broadcast dim join);
    3. exact confirm: probe positives anti-join ``seen``.

    ``robots_joined`` is the probe+dedup+robots node, returned PERSISTED
    (the caller releases it): the allowed chain (-> fetch), the excluded
    chain (-> dead letters) and both branches of the unseen filter
    (probe negatives, anti-join of probe positives) read the one cached
    copy, so the probe and the dedup window shuffle each run once per
    round, not once per consumer."""
    probed = dedup_frontier(bloom_probe(pending, bitmap_bc, k, cuckoo_bc=cuckoo_bc))
    allowed, excluded, robots_joined = split_robots_excluded(probed, robots)
    robots_joined.persist()
    return unseen_of_probed(allowed, seen), excluded, robots_joined


class _StepTimer:
    """Per-step wall timing, RECORDED into ``times`` (``RoundResult.timings``,
    the revisit summary and ``MediaSweepResult.timings`` carry it to
    callers; the scaling bench reports per-stage efficiencies from the
    round's)."""

    def __init__(self) -> None:
        self.times: dict[str, float] = {}
        self._t = None
        self._name = None

    def step(self, name: str) -> None:
        now = time.perf_counter()
        if self._name is not None:
            self.times[self._name] = self.times.get(self._name, 0.0) + (now - self._t)
        self._t, self._name = now, name

    def done(self) -> None:
        self.step("_end")

    def rounded(self) -> dict[str, float]:
        """Ends the current step; every step's wall rounded to ms."""
        self.done()
        return {k: round(v, 3) for k, v in self.times.items()}

    def timed(self, name: str, fn):
        """``fn`` wrapped to record its own wall (rounded to ms) under
        ``name`` — for jobs that run concurrently, outside the step
        sequence."""

        def run():
            t0 = time.perf_counter()
            try:
                return fn()
            finally:
                self.times[name] = round(time.perf_counter() - t0, 3)

        return run


@dataclass
class RoundResult:
    round: int
    admitted: int
    fetched_ok: int
    failed: int
    deferred: int
    new_links: int
    excluded: int
    pending_next: int
    timings: dict | None = None  # per-stage wall seconds (_StepTimer)


@dataclass
class RoundHandle:
    """What ``finish_round`` needs once ``run_round_critical`` has joined
    every bookkeeping job: the snapshot ids of the round's five committed
    tables (fetched, seen, pending, crawl_order, dead), the two cached
    counts and the step timer."""

    round: int
    sids: dict[str, int]
    excluded: int
    unseen: int
    tm: _StepTimer


def run_round_critical(
    spark: SparkSession,
    cat: Catalog,
    cfg: CrawlConfig,
    r: int,
    robots: DataFrame,
    bloom: np.ndarray,
    cuckoo=None,
) -> RoundHandle:
    """Round ``r`` up to its last data commit: fetch + span commit, then
    every bookkeeping job (seen, cuckoo increment, pending, crawl_order,
    dead letters, counts, host stats, scores) run concurrently and
    joined here, in one place. The bloom increment and the outlinks come
    out of the fetch pass itself (``fetch_and_commit``). The round's
    persisted frames are released before this returns, also when any
    step fails; ``finish_round`` then derives metrics + lineage from the
    committed snapshots.

    ``bloom`` (and ``cuckoo``) are merged IN PLACE once every job has
    succeeded; the driver checkpoints them after ``finish_round``
    returns."""
    tm = _StepTimer()
    tm.step("read+plan")
    pending = cat.read("pending", FRONTIER)
    seen = cat.read("seen", SEEN)
    backoff = None
    if cfg.adaptive_backoff:
        # adaptive politeness: per-host delay-stretch factors from the
        # HOST_STATS history AS OF ROUND START (catalog.read binds files
        # eagerly, so this round's concurrent job_hoststats append is
        # invisible here by construction, like seen/pending)
        from ..operators.politeness import host_backoff_factors

        backoff = host_backoff_factors(cat.read("host_stats", HOST_STATS))

    # 1-3. seen-tier probe (bloom, then cuckoo on its positives),
    #    frontier dedup and robots exclusion in ONE persisted node
    #    (robots_joined); the exact anti-join confirms only the probe
    #    positives (unseen_frontier). ``unseen`` is persisted too: both
    #    the admitted chain (fetch) and the deferred chain (next-round
    #    pending) hang off it.
    bitmap_bc = spark.sparkContext.broadcast(bloom.tobytes())
    cuckoo_bc = (
        spark.sparkContext.broadcast(cuckoo.tables) if cuckoo is not None else None
    )
    unseen, excluded, robots_joined = unseen_frontier(
        pending, robots, seen, bitmap_bc, cfg.bloom_hashes, cuckoo_bc
    )
    # the round's persisted frames (robots_joined, unseen) are released
    # however the round ends
    try:
        unseen.persist()

        # 4. politeness admission (rank vs crawl-delay budget), optionally
        #    preceded by the spider-trap guard: at most trap_template_cap
        #    rows per (host, URL template) enter admission this round, the
        #    overflow stays pending (operators/politeness.py cap_per_template;
        #    off by default — reference parity has no adversarial URL space)
        trap_overflow = None
        if cfg.trap_template_cap is not None:
            unseen_capped, trap_overflow = cap_per_template(unseen, cfg)
        else:
            unseen_capped = unseen
        if cfg.score_admission:
            # importance-first scheduler: the standing OPIC in-link mass
            # (operators/scoretable, read at the round-start snapshot like
            # seen/pending) ranks the budgeted slots. Same two-phase
            # skew-safe top-k underneath. The score vector is materialized
            # exactly once here: admitted/deferred feed several downstream
            # jobs (fetch, seen/pending/crawl_order commits), and without
            # this cut each of them would re-execute the scoring subplan
            # (measured: bookkeeping 33.5 s -> 91.6 s at local[2]/2M URLs).
            # One row per scored URL — small next to the fetch; the RDD is
            # released by the ContextCleaner when the round's frames drop.
            from ..operators.politeness import score_admitted
            from ..operators.scoretable import read_scores

            tm.step("admission_scores")
            scores = read_scores(cat).localCheckpoint(eager=True)
            tm.step("read+plan")
            admitted_df, deferred_df = score_admitted(
                unseen_capped, scores, robots, cfg, backoff=backoff
            )
        else:
            admitted_df, deferred_df = split_admitted(
                unseen_capped, robots, cfg, backoff=backoff
            )
        deferred_df = deferred_df.select(*FRONTIER_COLS)
        if trap_overflow is not None:
            deferred_df = deferred_df.unionByName(trap_overflow.select(*FRONTIER_COLS))

        # 5. salted-bucket batch fetch -> ROUND SCRATCH TABLE, written ONCE
        #    to parquet (fetch_and_commit); every downstream consumer reads it
        #    back column-pruned. The same pass yields the resolved rows'
        #    bloom increment and the canonical, hashed, probed outlinks, so
        #    no later job of the round crosses into Python.
        tm.step("fetch_scratch_write")
        fc = fetch_and_commit(
            cat,
            admitted_df,
            cfg,
            r,
            {"round": r},
            bloom_bc=bitmap_bc,
        )
        sid_fetch = fc.sid
        fetched = cat.read("fetched", FETCHED)
        failed = fetched.filter(~F.col("ok"))
        # ok pages plus cross-host 301 handoffs (fetch.resolved). With
        # redirects off (synth_redirect_prob=0, the reference-parity
        # default) no 301 rows exist and resolved == ok.
        resolved = fetched.filter(is_resolved(F.col("ok"), F.col("status_code")))

        # 6. span documents (the interleaved text+media payload): a ZERO-COPY
        #    manifest append — the spans table commits the scratch snapshot's
        #    data files with a name mapping (doc_id<-url, round<-fetch_round)
        #    and a row-filter predicate (ok only; the Iceberg delete-file
        #    analogue). No bytes are rewritten.
        tm.step("spans_write")
        adopt_spans(cat, sid_fetch, {"round": r})

        # 7. bookkeeping, run CONCURRENTLY from driver threads (serial
        #    small commits each pay a fixed driver/scheduling latency that
        #    does not shrink with cores; overlapped, the latencies
        #    coincide). Every job reads only the committed fetch
        #    scratch or round-start state and writes its OWN table (separate
        #    manifest files -> commit isolation), so concurrency cannot
        #    change any output byte: each write keeps its deterministic
        #    repartition+sortWithinPartitions layout.
        def job_seen() -> int:
            # one row per RESOLVED URL (fetched ok + 301 handoffs — identical
            # to fetched-ok when redirects are off), so this commit's
            # rows_delta IS ok_n (no separate count job)
            return append_seen(cat, resolved, cfg, r, {"round": r})

        def job_cuckoo() -> np.ndarray:
            # cuckoo increment: each key shard's table updates in its own
            # task (disjoint shards — the cuckoo analogue of the bloom's
            # OR-reduce; same "driver never sees hashes" property)
            from ..operators.cuckoo import build_cuckoo_increment

            return build_cuckoo_increment(resolved.select("url_hash"), cuckoo).tables

        # retries + dead letters (at-least-once semantics; reference nack ->
        # dead queue, New_YouTube_Crawler_Channel_Updater.py:41-46).
        # Failure CLASSIFICATION (C6/P5): fatal codes — the 403/413 analogue
        # the reference aborts on with NO retry
        # (New_YouTube_Crawler_Comment.py:50-52) and the permanent
        # private/blocked page dispositions (view_count_crawler.py:51-70) —
        # go straight to dead with reason 'fatal_<code>' at their current
        # attempt; only transient failures (500) enter the bounded-retry path.
        transient = failed.filter(F.col("status_code") == 500)
        retry_base = transient.withColumn("attempt", F.col("attempt") + 1).withColumn(
            "round", F.lit(r + 1).cast("int")
        )
        retries = retry_base.filter(F.col("attempt") < cfg.max_attempts).select(*FRONTIER_COLS)

        # frontier expansion: the fetch pass's outlinks -> next round's
        # pending rows (LAZY — built here so job_pending and the optional
        # job_scores share one definition). Each branch re-reads the
        # outlink files, a JVM scan; when no row could expand the table is
        # empty, reads as a LocalRelation, and the optimizer drops the
        # whole branch. ``seen`` was bound to the round-start snapshot at
        # step 1 (catalog.read resolves files eagerly), so the concurrent
        # job_seen append is invisible to the cutoff by construction.
        new_links = frontier_links(
            cat.read(OUTLINKS_TABLE, OUTLINKS, snapshot=fc.outlinks_sid), seen, r
        )

        def job_pending() -> int:
            next_pending = (
                deferred_df.select(*FRONTIER_COLS)
                .unionByName(retries)
                .unionByName(new_links)
            )
            return cat.overwrite(
                "pending",
                _pending_layout(next_pending, cfg.frontier_partitions),
                meta={"round": r + 1},
            )

        def job_order() -> int:
            # crawl-order log — the judge-replayable total order. ord is the
            # dense rank over the PRIORITY key within the round, computed by
            # the scalable range-sort + prefix-offset rank (no single-reducer
            # window). Its final exchange pins every row's FILE assignment
            # to a pure function of ord (one contiguous ord block per file),
            # so the written bytes are identical across runs even though the
            # rank's internal range sampling races under the concurrent
            # bookkeeping jobs — the byte-identical-resume contract of this
            # table. Reads only the flat key columns (column pruning hits
            # the scratch parquet).
            ranked, ranked_handle = with_global_ord(
                fetched.select("url", "host", "depth", "seq", "url_hash", "ok"),
                priority_order(),
                cfg.frontier_partitions,
            )
            order_rows = ranked.select(
                F.lit(r).cast("int").alias("round"),
                F.col("ord"),
                "url",
                "host",
                "depth",
                "ok",
            )
            try:
                return cat.append("crawl_order", order_rows, meta={"round": r})
            finally:
                ranked_handle.unpersist()

        def job_dead() -> int:
            # retries + dead letters (at-least-once semantics; reference
            # nack -> dead queue,
            # New_YouTube_Crawler_Channel_Updater.py:41-46)
            dead_fetch = (
                retry_base.filter(F.col("attempt") >= cfg.max_attempts)
                .select(*FRONTIER_COLS)
                .withColumn("reason", F.lit("max_attempts"))
                .withColumn("dead_round", F.lit(r).cast("int"))
            )
            dead_fatal = (
                # 500 retries; 301 handoffs resolve via the frontier — neither
                # is dead. Everything else (403/413 fatal, 508 redirect loop)
                # aborts with no retry.
                failed.filter(~F.col("status_code").isin(500, 301))
                .withColumn(
                    "reason", F.concat(F.lit("fatal_"), F.col("status_code").cast("string"))
                )
                .select(*FRONTIER_COLS, "reason")
                .withColumn("dead_round", F.lit(r).cast("int"))
            )
            dead_robots = (
                excluded.select(*FRONTIER_COLS)
                .withColumn("reason", F.lit("robots"))
                .withColumn("dead_round", F.lit(r).cast("int"))
            )
            return cat.append(
                "dead",
                _part_by_hash(dead_robots.unionByName(dead_fetch).unionByName(dead_fatal), 1),
                meta={"round": r},
            )

        def job_counts() -> tuple[int, int]:
            # two O(1) counts on cached intermediates (robots_joined/unseen)
            return excluded.count(), unseen.count()

        def job_hoststats() -> int:
            # per-(host, round) outcome counts — the adaptive-backoff signal
            # round r+1's admission reads. Dimension-sized: one row per
            # fetched host.
            st = (
                fetched.groupBy("host")
                .agg(
                    F.sum(F.col("ok").cast("long")).alias("ok_n"),
                    F.sum((F.col("status_code") == 500).cast("long")).alias("transient_n"),
                )
                .select(
                    "host",
                    F.lit(r).cast("int").alias("round"),
                    "ok_n",
                    "transient_n",
                )
            )
            return cat.append(
                "host_stats", _part_by_hash(st, 1, col="host"), meta={"round": r}
            )

        tm.step("bookkeeping")
        jobs = {
            "seen": job_seen,
            "pending": job_pending,
            "order": job_order,
            "dead": job_dead,
            "counts": job_counts,
        }
        if cuckoo is not None:
            jobs["cuckoo"] = job_cuckoo
        if cfg.adaptive_backoff:
            jobs["hoststats"] = job_hoststats
        if cfg.score_admission:
            # O(delta) contribution append, then the log's own compaction —
            # both before the checkpoint; round r+1's admission reads them
            from ..operators.scoretable import append_contributions

            jobs["scores"] = lambda: append_contributions(cat, new_links, r)
        # the with block waits for EVERY job, failed or not, so no job's
        # thread outlives this round; each job's own wall is bk_<name>
        with concurrent.futures.ThreadPoolExecutor(
            len(jobs), thread_name_prefix=f"bk-r{r}"
        ) as ex:
            futs = {n: ex.submit(tm.timed(f"bk_{n}", fn)) for n, fn in jobs.items()}
        out = {n: f.result() for n, f in futs.items()}
    finally:
        for handle in (robots_joined, unseen):
            handle.unpersist()
    or_words(bloom, fc.bloom_words)
    if cuckoo is not None:
        # merged in place like the bloom: round r+1 probes the caller's
        # object, and the driver checkpoints it after finish_round
        cuckoo.tables[...] = out["cuckoo"]
    excluded_n, unseen_n = out["counts"]
    return RoundHandle(
        round=r,
        sids={
            "fetched": sid_fetch,
            "seen": out["seen"],
            "pending": out["pending"],
            "crawl_order": out["order"],
            "dead": out["dead"],
        },
        excluded=excluded_n,
        unseen=unseen_n,
        tm=tm,
    )


def finish_round(cat: Catalog, h: RoundHandle) -> RoundResult:
    """Metrics + lineage of round ``h.round``, derived from its committed
    snapshots. The driver writes the round checkpoint after this
    returns."""
    r, tm, sids = h.round, h.tm, h.sids

    # metrics + per-partition lineage. Every count is DERIVED — from
    # parquet footer stats recorded at commit time (rows_delta: the seen
    # commit is 1:1 with fetched-ok rows, so ok_n needs no job) plus the
    # two cached counts — the metrics step runs no further Spark job
    # over round data and writes via a direct pyarrow commit.
    tm.step("metrics_counts")
    admitted_n = cat.rows_delta("fetched", sids["fetched"])
    ok_n = cat.rows_delta("seen", sids["seen"])
    failed_n = admitted_n - ok_n
    dead_fetch_n = cat.rows_delta("dead", sids["dead"]) - h.excluded
    retries_n = failed_n - dead_fetch_n
    pending_next_n = cat.rows_delta("pending", sids["pending"])
    deferred_n = h.unseen - admitted_n               # unseen = admitted + deferred
    counts = {
        "admitted": admitted_n,
        "fetched_ok": ok_n,
        "failed": failed_n,
        "deferred": deferred_n,
        "excluded": h.excluded,
        "new_links": pending_next_n - deferred_n - retries_n,
        "pending_next": pending_next_n,
    }
    tm.step("metrics_write")
    cat.append_rows(
        "metrics",
        [("round", str(r), k, int(v), r) for k, v in counts.items()],
        METRICS,
        meta={"round": r},
    )
    # per-partition lineage (north rule): rows-out per written partition of
    # every stage this round committed — straight from the manifests'
    # footer stats, no Spark job
    lineage_rows = [
        (r, stage, pid, int(n))
        for stage in ("fetched", "seen", "crawl_order", "dead", "pending")
        for pid, n in enumerate(cat.file_rows(stage, sids[stage]))
    ]
    cat.append_rows("lineage", lineage_rows, LINEAGE, meta={"round": r})
    tm.done()

    return RoundResult(
        round=r,
        admitted=counts["admitted"],
        fetched_ok=counts["fetched_ok"],
        failed=counts["failed"],
        deferred=counts["deferred"],
        new_links=counts["new_links"],
        excluded=counts["excluded"],
        pending_next=counts["pending_next"],
        timings=dict(tm.times),
    )
