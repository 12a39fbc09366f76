"""Engine configuration.

Every knob that affects the data path is pinned, here or as a module
constant next to its single user, so runs are reproducible across cluster
sizes (the N vs 4N crawl-order/byte-identity requirement): partition
counts come from config or module constants, never from the number of
cores available at runtime.
"""

from __future__ import annotations

import os
from dataclasses import dataclass


@dataclass(frozen=True)
class CrawlConfig:
    """Parameters of one crawl run.

    The politeness constants echo the reference's hard-coded governors
    (0.2 s/API call at New_YouTube_Crawler.py:93, >=6 s/page floor at
    New_YouTube_Crawler_Comment.py:443-448, retry budget 5 at
    New_YouTube_Crawler_Comment.py:45-53).
    """

    # scheduling
    round_seconds: float = 30.0      # politeness budget window per round
    max_rounds: int = 3
    max_depth: int = 4
    max_attempts: int = 5            # reference: retries=5
    per_host_cap: int = 1000         # hard cap on admissions per host per round
    trap_template_cap: int | None = None  # max admissions per (host, URL template)
    #                                per round (spider-trap guard; None = off,
    #                                the reference-parity setting)

    # partitioning (fixed, cluster-size independent — required for
    # deterministic crawl order and byte-identical resume; the per-host
    # sub-bucket counts are the constants operators/politeness.
    # ADMISSION_SALTS and operators/fetch.FETCH_HOST_SPLITS)
    frontier_partitions: int = 32
    seen_buckets: int = 64           # bucket count of the exact seen table

    # bloom tier
    bloom_bits: int = 1 << 22        # 4 Mi bits (test scale); size for n at prod
    bloom_hashes: int = 5

    # cuckoo tier (optional middle tier of the seen stack: bloom ->
    # cuckoo -> exact anti-join; None = off). 16-bit fingerprints at
    # ~1e-4 FP re-probe the bloom's false positives so only a sliver
    # pays the exact-confirm shuffle; FN-free, so digests are identical
    # either way. Size parts*buckets*4 slots >= ~1.05x expected seen URLs.
    #
    # Regime guidance (measured): the tier's fixed cost is the
    # per-round filter rebuild/increment plus the fused-fetch probe —
    # roughly constant per round — while its payoff is the avoided
    # exact-confirm shuffle of bloom false positives, which grows with
    # |seen|. At 2M URLs / 8 cores the tier cost +42% wall
    # (BENCH/scaling.json cuckoo_digest_check); at 30k URLs best-of-3
    # it cost ~+2.4 s over a ~30 s crawl (BENCH/cuckoo_ab.json). The
    # bloom's FP count is n_frontier_rows x bloom_FP_rate; only when
    # that times the per-row exact-confirm shuffle cost exceeds the
    # tier's fixed per-round cost does the tier win — with the default
    # ~1% bloom FP target that crossover sits around 10^8-10^9 seen
    # URLs (where the exact seen table no longer fits a
    # broadcast/local join and each confirm is a real shuffle). Leave
    # cuckoo_buckets=None below ~1e8 URLs.
    cuckoo_buckets: int | None = None  # buckets PER SHARD; power of two
    cuckoo_parts: int = 8            # disjoint key shards (mod url_hash)

    # storage
    warehouse: str = "./warehouse"

    def __post_init__(self) -> None:
        """Driver-side config guard (reference P7: the proxy-port range
        check at New_YouTube_Crawler_proxy_APP.py:26-30 rejects workers
        outside 5035-5049 before any work starts)."""
        if self.frontier_partitions < 1:
            raise ValueError("frontier_partitions must be >= 1")
        if not (0 < self.round_seconds):
            raise ValueError("round_seconds must be positive")
        if self.max_attempts < 1:
            raise ValueError("max_attempts must be >= 1 (reference retries=5)")
        if self.bloom_bits < 64 or self.bloom_bits % 64:
            raise ValueError("bloom_bits must be a positive multiple of 64")
        if self.bloom_hashes < 1:
            raise ValueError("bloom_hashes must be >= 1")
        if self.trap_template_cap is not None and self.trap_template_cap < 1:
            raise ValueError("trap_template_cap must be >= 1 (or None to disable)")
        if self.cuckoo_buckets is not None:
            if self.cuckoo_buckets < 2 or self.cuckoo_buckets & (self.cuckoo_buckets - 1):
                raise ValueError("cuckoo_buckets must be a power of two >= 2")
            if self.cuckoo_parts < 1:
                raise ValueError("cuckoo_parts must be >= 1")
        if not (0.0 <= self.synth_fail_prob < 1.0):
            raise ValueError("synth_fail_prob must be in [0, 1)")
        if not (0.0 <= self.synth_fatal_prob < 1.0):
            raise ValueError("synth_fatal_prob must be in [0, 1)")
        if not (0.0 <= self.synth_redirect_prob < 1.0):
            raise ValueError("synth_redirect_prob must be in [0, 1)")
        if not (0.0 <= self.synth_redirect_same <= 1.0):
            raise ValueError("synth_redirect_same must be in [0, 1]")
        if self.max_redirect_hops < 1:
            raise ValueError("max_redirect_hops must be >= 1")

    # synthetic web (sandbox transport; swap for an HTTP fetcher in prod)
    synth_n_hosts: int = 200
    synth_seed: int = 42
    synth_fail_prob: float = 0.02    # transient; deterministic per (url, attempt)
    synth_fatal_prob: float = 0.02   # URL-permanent 403/413 (straight to dead,
                                     # no retry — C6/P5 fatal classification)
    synth_watch_pool: int = 1 << 48  # id space for watch-page link targets;
                                     # small values make videos shared across
                                     # playlists (exercises the O5 cutoff)

    # 3xx redirects (sources/synth_web redirect section): a URL is a
    # permanent redirect source with this probability; same-host chains
    # are followed inline in the fetch (content recorded under the
    # requested URL — requests-transparent-follow parity), cross-host
    # targets return 301 and re-enter the frontier at depth+1 so the
    # target host's politeness budget applies; chains > max_redirect_hops
    # resolve to 508 (fatal). 0.0 (default) disables redirects entirely —
    # every pinned digest is byte-identical to pre-redirect builds.
    synth_redirect_prob: float = 0.0
    synth_redirect_same: float = 0.75  # P(target on the same host)
    max_redirect_hops: int = 4

    # adaptive per-host backoff (operators/politeness.host_backoff_factors):
    # a host whose observed rounds keep majority-failing with transient
    # errors gets its effective crawl-delay stretched 2^min(streak, 4)
    # — the Heritrix/Nutch adaptive-politeness behavior.
    # Off by default: crawl-order parity vs the reference oracle assumes
    # the reference's fixed delays.
    adaptive_backoff: bool = False

    # robots.txt TTL revalidation: every N rounds the crawler re-fetches
    # and re-parses every known host's robots.txt and OVERWRITES the
    # ROBOTS table — real policies drift (RFC 9309 §2.4 allows caching
    # "for a reasonable time"; Heritrix/Nutch default to ~24h TTLs), and
    # a crawler that never revalidates keeps honoring dead rules and
    # violating new ones. None (default) = fetch once at bootstrap (the
    # reference's behavior; digest-neutral). The synthetic web's policy
    # generation is round//ttl (synth_web.robots_for_host epoch), so the
    # sequential oracle re-derives the same drift independently.
    robots_ttl_rounds: int | None = None

    # O5/V4: drop a playlist page's next-page continuation when any of its
    # video items is already seen as of round start (the reference kills the
    # whole pagination chain on the first seen video,
    # New_YouTube_Crawler.py:263-273 keep_going=False)
    playlist_cutoff: bool = True
    synth_work_iters: int = 0        # CPU stand-in for real fetch+parse cost
                                     # (see sources/synth_web.parse_work)

    # importance-first admission: spend each host's politeness budget on
    # the most-linked pending URLs first (OPIC in-link mass over the
    # round's parent->url edges, operators/politeness.frontier_scores,
    # which orders URLs as one PageRank superstep does) instead of
    # the reference's LIFO order. OFF by default — crawl-order parity vs
    # the reference oracle is a correctness criterion; the scored order
    # is int64-exact and therefore still deterministic at any
    # parallelism (pinned by tests/test_score_admission.py)
    score_admission: bool = False

    # Standing score table instead of per-round recompute
    # (operators/scoretable): OPIC contributions append per round
    # (O(delta) — outdeg(parent) is final at emission because a parent is
    # fetched exactly once), read merge-on-read (groupBy sum), compacted
    # on demand. Semantics upgrade over the per-round recompute: a
    # deferred URL keeps the in-link mass frontier dedup would otherwise
    # drop with its duplicate rows. Requires score_admission.
    score_table: bool = False

    # Auto-compact the score-contribution log every N rounds (0 = only
    # on demand via scoretable.compact_scores). The log otherwise grows
    # one snapshot per round forever; compaction collapses it to one
    # pre-summed row per URL. Read-invariant (sum is associative), so
    # any admission decision — and therefore every crawl digest other
    # than the link_scores file bytes themselves — is unchanged at any
    # setting (pinned by tests/test_score_table.py).
    score_compact_every: int = 0


def spark_builder(app: str, master: str | None = None, shuffle_partitions: int = 32):
    """SparkSession builder with the engine's standard conf.

    AQE on, Arrow on, UTC session timezone (so timestamp semantics match
    the DuckDB oracle), small broadcast threshold raised so dimension
    joins broadcast.
    """
    from pyspark.sql import SparkSession

    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    return (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
