"""Reference oracle: a sequential, row-at-a-time crawl simulator.

The reference crawler cannot run in the sandbox (no network, no
PostgreSQL/RabbitMQ), so this ~200-LoC simulator reimplements its exact
scheduling semantics — FIFO frontier seeding in SELECT order
(sendToRabbitMQ.py:63-66), LIFO newest-first continuation expansion
(New_YouTube_Crawler_Comment.py:162-166, realized as depth-DESC
priority), stop-on-seen dedup (New_YouTube_Crawler.py:267-270), per-host
crawl-delay budget (New_YouTube_Crawler.py:93,
New_YouTube_Crawler_Comment.py:443-448), bounded retry with dead-letter
(New_YouTube_Crawler_Comment.py:45-53,
New_YouTube_Crawler_Channel_Updater_Error.py:31-56) — over the same
deterministic synthetic web the engine fetches
(swmaestro_crawler_spark/sources/synth_web.py).

It is deliberately the style the engine replaces: Python sets, dict
lookups, one URL at a time. The engine's DataFrame pipeline must produce
IDENTICAL crawl order, URL-seen membership, and span documents.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from swmaestro_crawler_spark.config import CrawlConfig
from swmaestro_crawler_spark.functions.canonical import canonicalize_one
from swmaestro_crawler_spark.functions.hashing import murmur3_32_str, xxhash64_str
from swmaestro_crawler_spark.operators.politeness import BACKOFF_MAX_EXP
from swmaestro_crawler_spark.sources import synth_web


@dataclass
class Row:
    url: str
    url_hash: int
    host: str
    depth: int
    seq: int
    round: int
    attempt: int
    parent: str | None


@dataclass
class OracleResult:
    crawl_order: list[tuple] = field(default_factory=list)  # (round, ord, url, host, depth, ok)
    seen: set = field(default_factory=set)                   # url_hash
    fingerprints: dict = field(default_factory=dict)         # url_hash -> murmur3_32
    docs: dict = field(default_factory=dict)                 # url -> [(kind,text,media_ref,offset)]
    dead: list = field(default_factory=list)                 # (url, reason, round)
    pending_left: list = field(default_factory=list)


def _priority_key(row: Row) -> tuple:
    # engine PRIORITY: depth DESC, seq ASC, url_hash ASC
    return (-row.depth, row.seq, row.url_hash)


def _dedup_key(row: Row) -> tuple:
    # engine dedup_frontier: attempt DESC, depth DESC, seq ASC, parent ASC NULLS FIRST
    return (-row.attempt, -row.depth, row.seq, row.parent is not None, row.parent or "")


def _path_of(url: str) -> str:
    rest = url.split("://", 1)[1]
    slash = rest.find("/")
    return rest[slash:] if slash >= 0 else ""


def _is_playlist(url: str) -> bool:
    return _path_of(url).startswith("/pl/")


def make_row(url: str, depth: int, seq: int, rnd: int, attempt: int, parent: str | None) -> Row:
    cu = canonicalize_one(url)
    host = cu.split("://", 1)[1].split("/", 1)[0]
    return Row(cu, xxhash64_str(cu), host, depth, seq, rnd, attempt, parent)


def run_oracle(
    seeds: list[dict],
    cfg: CrawlConfig,
    rounds: int | None = None,
    playlist_cutoff: bool = True,
) -> OracleResult:
    """Sequential replay of the crawl. ``playlist_cutoff=False`` skips the
    O5 pagination cutoff (always on in the engine), so a test can show
    that the cutoff fires."""
    rounds = rounds if rounds is not None else cfg.max_rounds
    robots = {h: synth_web.robots_for_host(h, cfg) for h in synth_web.hosts(cfg.synth_n_hosts)}
    robots_epoch = 0  # TTL revalidation generation currently in force
    res = OracleResult()
    pending: list[Row] = [
        make_row(s["url"], 0, int(s["rank"]), 0, 0, None) for s in seeds
    ]

    # adaptive backoff state (mirror of politeness.host_backoff_factors):
    # per-host streak of OBSERVED erroring rounds since the last observed
    # non-erroring round; a round errs when transient failures >= ok and > 0
    backoff_streak: dict[str, int] = {}

    for r in range(rounds):
        if not pending:
            break
        # 0. robots TTL revalidation (mirror of Crawl.run): every
        # robots_ttl_rounds rounds the policy generation advances and
        # the whole dimension is re-derived — new disallows/delays bind
        # from this round on
        if getattr(cfg, "robots_ttl_rounds", None):
            epoch = r // cfg.robots_ttl_rounds
            if epoch != robots_epoch:
                robots = {
                    h: synth_web.robots_for_host(h, cfg, epoch)
                    for h in synth_web.hosts(cfg.synth_n_hosts)
                }
                robots_epoch = epoch
        # 1. dedup by url_hash, keeping the engine's dedup winner
        by_hash: dict[int, Row] = {}
        for row in sorted(pending, key=_dedup_key):
            by_hash.setdefault(row.url_hash, row)
        rows = list(by_hash.values())

        # 2. robots exclusion
        allowed: list[Row] = []
        for row in rows:
            rb = robots.get(row.host)
            path = _path_of(row.url)
            if rb and any(path.startswith(p) for p in rb["disallow_prefixes"]):
                res.dead.append((row.url, "robots", r))
            else:
                allowed.append(row)

        # 3. seen filter (engine: bloom probe + exact confirm == plain anti-join)
        unseen = [row for row in allowed if row.url_hash not in res.seen]

        # 4. per-host politeness budget; over-budget rows defer to next round
        by_host: dict[str, list[Row]] = {}
        for row in unseen:
            by_host.setdefault(row.host, []).append(row)
        admitted: list[Row] = []
        deferred: list[Row] = []
        for host, hrows in by_host.items():
            delay = robots[host]["crawl_delay_s"] if host in robots else 1.0
            if cfg.adaptive_backoff:
                # exact power-of-two factor -> identical IEEE double
                # arithmetic on both sides
                delay = delay * float(1 << min(backoff_streak.get(host, 0), BACKOFF_MAX_EXP))
            # math.floor(a / b), NOT a // b: Python floor-division computes
            # floor((a - a%b)/b) which disagrees with IEEE a/b for 6.0/0.2
            # (29.0 vs 30.0); Spark's F.floor(lit(a)/col(b)) is the latter.
            budget = min(cfg.per_host_cap, max(1, math.floor(cfg.round_seconds / delay)))
            hrows.sort(key=_priority_key)
            admitted.extend(hrows[:budget])
            deferred.extend(hrows[budget:])

        # 5. fetch in global priority order (the crawl-order invariant)
        admitted.sort(key=_priority_key)
        next_pending: list[Row] = deferred
        # O5 cutoff checks membership against the seen set AS OF ROUND
        # START (the engine's batch semantics) — snapshot before this
        # round's inserts mutate res.seen
        seen_start = set(res.seen)
        host_ok: dict[str, int] = {}
        host_tn: dict[str, int] = {}
        host_obs: set[str] = set()
        for ord_, row in enumerate(admitted):
            # redirect semantics (synth_web redirect section): same-host
            # chains resolve inline to their final target (content
            # recorded under the requested URL, the requests-transparent-
            # follow the reference gets for free); cross-host targets
            # come back as a 301 handoff; >max-hop chains are 508 fatal
            handoff, final, code = synth_web.resolve_redirect(row.url, cfg)
            if code == 0:
                code = synth_web.status_code(final, row.attempt, cfg)
            ok = code == 200
            # the engine's job_hoststats writes a row for EVERY fetched
            # host (a fatal/301-only round still resets the streak)
            host_obs.add(row.host)
            if ok:
                host_ok[row.host] = host_ok.get(row.host, 0) + 1
            elif code == 500:
                host_tn[row.host] = host_tn.get(row.host, 0) + 1
            res.crawl_order.append((r, ord_, row.url, row.host, row.depth, ok))
            if ok:
                page = synth_web.page_for(final, cfg)
                res.docs[row.url] = page["spans"]
                res.seen.add(row.url_hash)
                res.fingerprints[row.url_hash] = murmur3_32_str(row.url)
                # O5 pagination cutoff: a playlist page with an
                # already-seen video item does not enqueue its /pl/
                # next-page continuation (New_YouTube_Crawler.py:263-273)
                drop_cont = False
                if playlist_cutoff and _is_playlist(row.url):
                    for link in page["outlinks"]:
                        cu = canonicalize_one(link)
                        if not _is_playlist(cu) and xxhash64_str(cu) in seen_start:
                            drop_cont = True
                            break
                if row.depth < cfg.max_depth:
                    for i, link in enumerate(page["outlinks"]):
                        if drop_cont and _is_playlist(canonicalize_one(link)):
                            continue  # seq keeps the pre-drop index (engine
                            # assigns seq at posexplode, before the cutoff)
                        next_pending.append(make_row(link, row.depth + 1, i, r + 1, 0, row.url))
            elif code == synth_web.REDIRECT_CODE:
                # cross-host 301: the URL is conclusively resolved (seen)
                # and its single outlink — the redirect target — enters
                # the frontier at depth+1 under the TARGET host's
                # politeness budget
                res.seen.add(row.url_hash)
                res.fingerprints[row.url_hash] = murmur3_32_str(row.url)
                if row.depth < cfg.max_depth:
                    next_pending.append(make_row(handoff, row.depth + 1, 0, r + 1, 0, row.url))
            elif code != 500:
                # fatal class (403/413 analogue, 508 redirect loop):
                # abort immediately, no retry —
                # New_YouTube_Crawler_Comment.py:50-52
                res.dead.append((row.url, f"fatal_{code}", r))
            elif row.attempt + 1 < cfg.max_attempts:
                next_pending.append(
                    Row(row.url, row.url_hash, row.host, row.depth, row.seq,
                        r + 1, row.attempt + 1, row.parent)
                )
            else:
                res.dead.append((row.url, "max_attempts", r))
        # adaptive-backoff streak update from this round's observations
        for host in host_obs:
            tn, okn = host_tn.get(host, 0), host_ok.get(host, 0)
            backoff_streak[host] = (
                backoff_streak.get(host, 0) + 1 if (tn > 0 and tn >= okn) else 0
            )
        pending = next_pending

    res.pending_left = pending
    return res
