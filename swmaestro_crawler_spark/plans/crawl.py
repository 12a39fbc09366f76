"""The crawl driver loop: rounds + checkpoint + byte-identical resume.

Replaces the reference supervisor's poll-queue-until-empty loop
(supervisor.py:70-92,128-138,162-194) with a driver-side round loop whose
termination aggregate is ``pending.count() == 0`` (SURVEY.md A3/C5).

Rounds run strictly one after another: ``run_round_critical`` joins
every bookkeeping job of round r (they run concurrently with each
other), ``finish_round`` writes its metrics and lineage, and its
checkpoint is written before round r+1 reads anything.

Checkpoint protocol (per committed round):
  1. every table append/overwrite commits an atomic snapshot (catalog.py)
  2. the bloom bitmap is persisted to ``bloom-r{r}.npy``
  3. ``_crawl_checkpoint.json`` is replaced atomically LAST, recording the
     round and each table's current snapshot id
Resume rolls every table back to the checkpoint's snapshot ids and re-runs
from the next round. Because every stage is deterministic (pure-function
transport, data-derived ordering, fixed partitioning), the re-run writes
byte-identical files — verified by tests/test_resume.py.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import Catalog, write_atomic
from ..config import CrawlConfig
from ..functions.canonical import with_canonical
from ..operators.politeness import synth_robots
from ..operators.seen import empty_bloom
from ..schema import DEAD, FRONTIER, ROBOTS, SEEN
from .round import (
    FRONTIER_COLS,
    RoundResult,
    _part_by_hash,
    _pending_layout,
    finish_round,
    run_round_critical,
)

TABLES = (
    "pending",
    "seen",
    "spans",
    "dead",
    "crawl_order",
    "metrics",
    "robots",
    "fetched",
    "lineage",
    "link_scores",
    "host_stats",
    "observations",
)


def warehouse_views() -> dict:
    """table -> declared schema for every standard warehouse table: the
    registry behind ``Catalog.register_views`` — the engine's plain-SQL
    query surface over a crawl warehouse (the reference's consumers are
    all psycopg2 SELECTs over its PostgreSQL tables)."""
    from ..operators.fetch import FETCHED
    from ..operators.scoretable import SCORES
    from ..schema import (
        CRAWL_ORDER,
        HOST_STATS,
        LINEAGE,
        METRICS,
        OBSERVATIONS,
        SPANS_DOC,
    )
    from .media import MEDIA_BLOBS, MEDIA_REFS

    return {
        "pending": FRONTIER,
        "seen": SEEN,
        "spans": SPANS_DOC,
        "dead": DEAD,
        "crawl_order": CRAWL_ORDER,
        "metrics": METRICS,
        "robots": ROBOTS,
        "fetched": FETCHED,
        "lineage": LINEAGE,
        "link_scores": SCORES,
        "host_stats": HOST_STATS,
        "observations": OBSERVATIONS,
        "media_refs": MEDIA_REFS,
        "media_blobs": MEDIA_BLOBS,
    }


def seeds_to_frontier(seeds: DataFrame) -> DataFrame:
    """Seed rows -> round-0 frontier. Priority within a host follows seed
    rank (Utils/Nox_Crawler.py:98-113: top-500 rank orders)."""
    return (
        seeds.transform(with_canonical)
        .select(
            "url",
            "url_hash",
            "host",
            F.lit(0).cast("int").alias("depth"),
            F.col("rank").cast("long").alias("seq"),
            F.lit(0).cast("int").alias("round"),
            F.lit(0).cast("int").alias("attempt"),
            F.lit(None).cast("string").alias("parent"),
        )
    )


class Crawl:
    def __init__(self, spark: SparkSession, cfg: CrawlConfig):
        self.spark = spark
        self.cfg = cfg
        self.cat = Catalog(spark, cfg.warehouse)

    # -- checkpoint ----------------------------------------------------------
    @property
    def _ckpt_path(self) -> str:
        return os.path.join(self.cat.warehouse, "_crawl_checkpoint.json")

    def _bloom_path(self, r: int) -> str:
        return os.path.join(self.cat.warehouse, f"bloom-r{r}.npy")

    def _cuckoo_path(self, r: int) -> str:
        return os.path.join(self.cat.warehouse, f"cuckoo-r{r}.npy")

    def _write_checkpoint(
        self,
        r: int,
        bloom: np.ndarray,
        cuckoo_tables: np.ndarray | None = None,
    ) -> None:
        """Record round ``r`` as committed: every table's CURRENT snapshot
        id plus the bloom (and cuckoo) arrays. Called only when nothing
        else is committing — after a round's bookkeeping has been joined,
        or from bootstrap."""
        np.save(self._bloom_path(r), bloom)
        ckpt = {
            "round": r,
            "snapshots": {t: self.cat.current_snapshot(t) for t in TABLES},
            "bloom": os.path.basename(self._bloom_path(r)),
        }
        if cuckoo_tables is not None:
            np.save(self._cuckoo_path(r), cuckoo_tables)
            ckpt["cuckoo"] = os.path.basename(self._cuckoo_path(r))
        self._replace_checkpoint(ckpt)

    def _replace_checkpoint(self, ckpt: dict) -> None:
        """Atomically replace the checkpoint JSON with ``ckpt``."""
        write_atomic(
            self._ckpt_path,
            lambda tmp: Path(tmp).write_text(json.dumps(ckpt, indent=1, sort_keys=True)),
        )

    def _load_checkpoint(self) -> dict | None:
        if not os.path.exists(self._ckpt_path):
            return None
        with open(self._ckpt_path) as f:
            return json.load(f)

    def register_consistent_views(self, prefix: str = "") -> dict[str, int]:
        """SQL views over the last CHECKPOINTED round's per-table snapshot
        ids — a cross-table-consistent read of the warehouse. The plain
        ``Catalog.register_views`` pins each table independently at call
        time; a reader racing a running round can catch its concurrent
        bookkeeping commits half done (e.g. spans and seen already show
        round r while crawl_order still shows r-1). The checkpoint is
        written only after a round's commits have all landed, so views
        registered from it always agree. Returns the pinned {table:
        snapshot} map."""
        ckpt = self._load_checkpoint()
        if ckpt is None:
            raise RuntimeError(
                "no checkpoint yet — bootstrap or run the crawl first"
            )
        views = warehouse_views()
        pinned: dict[str, int] = {}
        for t, sid in ckpt["snapshots"].items():
            if t in views:
                self.cat.read(t, views[t], snapshot=sid).createOrReplaceTempView(
                    prefix + t
                )
                pinned[t] = sid
        return pinned

    # -- lifecycle -------------------------------------------------------------
    def bootstrap(
        self,
        seeds: DataFrame | None = None,
        frontier: DataFrame | None = None,
    ) -> None:
        """Initialize crawl state (round -1 checkpoint = empty-but-seeded).
        Either ``seeds`` (rank-ordered seed rows) or a pre-built FRONTIER
        DataFrame may be supplied (the latter for bulk synthetic frontiers
        generated JVM-side, e.g. the scaling bench)."""
        self._overwrite_robots(synth_robots(self.spark, self.cfg))
        if frontier is None:
            frontier = seeds_to_frontier(seeds)
        self.cat.overwrite(
            "pending",
            _pending_layout(frontier, self.cfg.frontier_partitions),
            meta={"round": 0},
        )
        for t in (
            "seen",
            "spans",
            "dead",
            "crawl_order",
            "metrics",
            "fetched",
            "lineage",
            "link_scores",
            "host_stats",
        ):
            # materialize an empty snapshot 0 so resume rollback has a target
            self.cat.overwrite_stage(t, self.cat.new_stage(t))
        if self.cfg.score_admission:
            # edges injected with the bootstrap frontier are discoveries
            # too: log their OPIC contributions so round 0's admission
            # already ranks by them (operators/scoretable)
            from ..operators.scoretable import append_contributions

            append_contributions(self.cat, frontier, -1)
        self._write_checkpoint(
            -1, empty_bloom(self.cfg.bloom_bits), cuckoo_tables=self._empty_cuckoo()
        )

    def _overwrite_robots(self, robots: DataFrame) -> None:
        """Commit the robots dimension as one file sorted on host."""
        self.cat.overwrite("robots", robots.repartition(1).sortWithinPartitions("host"))

    def _empty_cuckoo(self) -> np.ndarray | None:
        if self.cfg.cuckoo_buckets is None:
            return None
        from ..operators.cuckoo import CUCKOO_PARTS, PartitionedCuckoo

        return PartitionedCuckoo.empty(CUCKOO_PARTS, self.cfg.cuckoo_buckets).tables

    def resume_or_bootstrap(self, seeds: DataFrame) -> tuple[int, np.ndarray, object]:
        """Returns (next_round, bloom, cuckoo | None). Rolls tables back
        to the last committed checkpoint if a later, uncommitted round
        left appends. The cuckoo tier resumes from its checkpointed
        tables; a warehouse checkpointed before the tier was enabled
        rebuilds them from the (rolled-back) seen table — one
        distributed pass, FN-free like any other path."""
        ckpt = self._load_checkpoint()
        if ckpt is None:
            self.bootstrap(seeds)
            ckpt = self._load_checkpoint()
        for t, sid in ckpt["snapshots"].items():
            if self.cat.current_snapshot(t) != sid:
                self.cat.rollback(t, sid)
        bloom = np.load(os.path.join(self.cat.warehouse, ckpt["bloom"]))
        cuckoo = None
        if self.cfg.cuckoo_buckets is not None:
            from ..operators.cuckoo import PartitionedCuckoo, build_cuckoo_increment

            want_shape = self._empty_cuckoo().shape  # (P, B, S) from cfg
            loaded = (
                np.load(os.path.join(self.cat.warehouse, ckpt["cuckoo"]))
                if "cuckoo" in ckpt
                else None
            )
            if loaded is not None and loaded.shape == want_shape:
                cuckoo = PartitionedCuckoo(loaded)
            else:
                if loaded is not None:
                    # config changed since the checkpoint (e.g. the user
                    # enlarged the filter after an over-capacity error):
                    # resuming with the old undersized tables would hit
                    # the same failure with no hint why. Rebuild at the
                    # NEW shape from the rolled-back seen table — the
                    # same FN-free path pre-tier checkpoints take.
                    import warnings

                    warnings.warn(
                        f"checkpointed cuckoo shape {loaded.shape} != configured "
                        f"{want_shape}; rebuilding the tier from the seen table",
                        stacklevel=2,
                    )
                cuckoo = build_cuckoo_increment(
                    self.cat.read("seen", SEEN).select("url_hash"),
                    PartitionedCuckoo(self._empty_cuckoo()),
                )
        return ckpt["round"] + 1, bloom, cuckoo

    def requeue_dead(self) -> int:
        """Drain the dead-letter table back into the frontier — the
        reference's dead-queue drainers republish failed ids for another
        pass (channel_updater_dead at
        New_YouTube_Crawler_Channel_Updater_Error.py:31-56,
        video_crawler_dead at New_YouTube_Crawler_proxy_APP_Error.py:26-51).
        Only ``max_attempts`` rows are requeued; they restart with
        attempt=0, and the dead table keeps the other reasons. Returns rows
        requeued."""
        dead = self.cat.read("dead", DEAD)
        requeue = dead.filter(F.col("reason") == "max_attempts")
        keep = dead.filter(F.col("reason") != "max_attempts")
        pending = self.cat.read("pending", FRONTIER)
        revived = requeue.select(*FRONTIER_COLS).withColumn(
            "attempt", F.lit(0).cast("int")
        )
        # count the requeued rows DIRECTLY (tiny table). Differencing the
        # new pending snapshot against the previous one is wrong once
        # expire_snapshots has dropped it (data_files -> [] -> silent 0).
        n = revived.count()
        self.cat.overwrite(
            "pending", _pending_layout(pending.unionByName(revived), self.cfg.frontier_partitions)
        )
        self.cat.overwrite("dead", _part_by_hash(keep, 1))
        # fold the requeue into the checkpoint, else a later resume would
        # roll pending/dead back and silently undo it. Only the snapshot
        # ids change: the filter files the checkpoint names stay as they
        # are, so a kill here leaves the old or the new JSON, both loadable
        ckpt = self._load_checkpoint()
        if ckpt is not None:
            ckpt["snapshots"] = {t: self.cat.current_snapshot(t) for t in TABLES}
            self._replace_checkpoint(ckpt)
        return n

    def run(self, seeds: DataFrame, rounds: int | None = None) -> list[RoundResult]:
        """Run (or resume) the crawl for up to ``rounds`` rounds.

        Each round runs its fetch, spans commit and every bookkeeping
        job, joined together (``run_round_critical``), then its metrics
        and lineage (``finish_round``), then the round's checkpoint is
        written. A kill or a failed job can therefore lose only the round
        in flight, which resume re-runs deterministically."""
        rounds = rounds if rounds is not None else self.cfg.max_rounds
        start, bloom, cuckoo = self.resume_or_bootstrap(seeds)
        robots = self.cat.read("robots", ROBOTS)
        # robots TTL revalidation epoch currently in the table: 0 for a
        # fresh bootstrap; unknown after a resume (-1 forces the first
        # loop pass to re-fetch — idempotent, the bodies are a pure
        # function of (host, epoch), and the dimension is tiny)
        robots_epoch = 0 if start == 0 else -1
        results = []
        for r in range(start, rounds):
            if self.cat.row_count("pending") == 0:
                break  # frontier drained — reference: queue len == 0
                # (footer stats of the prior round's pending commit)
            if self.cfg.robots_ttl_rounds:
                epoch = r // self.cfg.robots_ttl_rounds
                if epoch != robots_epoch:
                    # TTL expired: re-fetch + re-parse every host's
                    # robots.txt (the same body->parse chain as the
                    # bootstrap) and overwrite the dimension — the
                    # new rules/delays bind from THIS round on
                    self._overwrite_robots(synth_robots(self.spark, self.cfg, epoch))
                    robots = self.cat.read("robots", ROBOTS)
                    robots_epoch = epoch
            results.append(
                finish_round(
                    self.cat,
                    run_round_critical(
                        self.spark, self.cat, self.cfg, r, robots, bloom, cuckoo
                    ),
                )
            )
            self._write_checkpoint(
                r, bloom, cuckoo.tables if cuckoo is not None else None
            )
        return results
