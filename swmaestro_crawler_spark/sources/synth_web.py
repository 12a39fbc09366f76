"""Deterministic synthetic web — the sandbox transport.

A page is a PURE function of the canonical URL's xxhash64 (the same
``url_hash`` the engine already carries): the same URL always yields the
same interleaved span document and outlinks. Both the engine's batch
fetcher and the reference oracle build pages with the same generator,
``payload_arrays`` (the oracle on one-element arrays, via ``page_for``),
so both crawl one web and results are comparable byte-for-byte without
a network.

The page is materialized as a flat PAYLOAD string — span segments joined
by ``\\x02``, each segment ``kind\\x01text\\x01media_ref`` — generated
fully vectorized (numpy splitmix64 chains + pyarrow.compute string
kernels, no per-row Python). The ENGINE never parses it row-at-a-time
in Python: span extraction runs as pure Arrow C compute kernels inside
the fused ``mapInArrow`` fetch stage (operators/spans.extract_spans_arrow
— chosen over Spark HOF ``transform``, which is interpreted per
element); only the oracle uses the scalar ``parse_payload``, so span
extraction stays checked by two independent implementations.

Page shape mirrors what the reference harvests from one watch page:
stats first (view/like counts yielded before comments,
New_YouTube_Crawler_Comment.py:121,175), then interleaved text spans and
media refs (comment text vs author thumbnail URL,
New_YouTube_Crawler_Comment.py:172,182), tag spans (og:video:tag metas,
view_count_crawler.py:132-135), then outlinks (playlist/continuation
expansion, New_YouTube_Crawler.py:213-229).

Host popularity is Zipf-skewed (s=1.2) so one hot domain exists — the
skew axis the salted host bucketing defuses.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from ..config import CrawlConfig
from ..functions.hashing import _splitmix64_np, stable64, xxhash64_str

FIELD = "\x01"   # kind \x01 text \x01 media_ref
SPANSEP = "\x02"

VOCAB = [f"lorem{i:03d}" for i in range(64)] + [
    "crawl", "frontier", "span", "media", "video", "channel", "comment",
    "politeness", "robots", "bloom", "cuckoo", "shard", "replica", "quorum",
]

_MAX_TEXT = 5   # 1..5 text spans, each optionally followed by a media span
_MAX_TAG = 2    # 0..2 tag spans
_MAX_LINK = 8   # 2..8 link spans

# Typed page kinds mirroring the reference's crawl graph (supervisor
# stages channel_updater -> video_inserter -> video_crawler,
# supervisor.py:38-196): /ch/ channel pages (X1) link to own-host
# playlists; /pl/ playlist pages (S6) link to own-host watch pages plus a
# paginated next-page continuation; /w/ watch pages (X5/X3) carry stats,
# comments, tags and cross-host related links. Any other path (e.g. /p/)
# uses the watch template.
KIND_CHANNEL, KIND_PLAYLIST, KIND_WATCH = 0, 1, 2


@lru_cache(maxsize=8)
def hosts(n_hosts: int) -> tuple[str, ...]:
    return tuple(f"host{i:04d}.example.com" for i in range(n_hosts))


ZIPF_S = 1.2  # Zipf exponent of host popularity (seed and link targets)


@lru_cache(maxsize=8)
def _zipf_cdf(n_hosts: int, s: float) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n_hosts + 1, dtype=np.float64), s)
    return np.cumsum(w / w.sum())


def _rng(tag: str, url: str, extra: str = "") -> np.random.Generator:
    """Seeded generator for DRIVER-side artifacts (seeds, robots) only —
    never on the fetch hot path."""
    return np.random.Generator(np.random.PCG64(stable64(f"{tag}:{url}:{extra}")))


# ---------------------------------------------------------------------------
# Vectorized deterministic draws: splitmix64 chains keyed on (url_hash, tag)
# ---------------------------------------------------------------------------
_G = np.uint64(0x9E3779B97F4A7C15)


def _mix(h: np.ndarray, tag: int) -> np.ndarray:
    with np.errstate(over="ignore"):
        return _splitmix64_np(h + np.uint64(tag) * _G)


def _u01(x: np.ndarray) -> np.ndarray:
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _uh(url_hash) -> np.ndarray:
    return np.asarray(url_hash, dtype=np.int64).view(np.uint64)


FATAL_CODES = (403, 413)  # reference: ajax_request returns {} immediately
                          # (no retry) on these, New_YouTube_Crawler_Comment.py:50-52


def fatal_code_np(url_hash, cfg: CrawlConfig) -> np.ndarray:
    """0 = not fatal, else the fatal HTTP code (403 or 413).

    Derived from the URL alone — a private/blocked page stays blocked on
    every attempt (the reference marks such videos status=FALSE
    permanently, view_count_crawler.py:51-63) — so fatal URLs fail
    identically at any attempt and retrying would be pointless, which is
    exactly why the engine routes them straight to dead letters."""
    h = _uh(url_hash)
    is_fatal = _u01(_mix(h, 0xFA7A)) < cfg.synth_fatal_prob
    pick = (_mix(h, 0xFA7B) & np.uint64(1)).astype(bool)
    return np.where(is_fatal, np.where(pick, FATAL_CODES[0], FATAL_CODES[1]), 0).astype(
        np.int64
    )


def status_code_np(url_hash, attempt, cfg: CrawlConfig) -> np.ndarray:
    """Deterministic HTTP-ish status per fetch: 200 ok, 403/413 fatal
    (URL-permanent), 500 transient — per (url_hash, attempt), so a retry
    of a transient failure can re-roll (reference retry loop,
    New_YouTube_Crawler_Comment.py:45-53)."""
    with np.errstate(over="ignore"):
        h = _uh(url_hash) + np.asarray(attempt, dtype=np.int64).view(np.uint64) * np.uint64(
            0xC2B2AE3D27D4EB4F
        )
    transient_ok = _u01(_mix(h, 0xFE7C)) >= cfg.synth_fail_prob
    fatal = fatal_code_np(url_hash, cfg)
    return np.where(fatal > 0, fatal, np.where(transient_ok, 200, 500)).astype(np.int64)


def parse_work(url_hash, iters: int) -> int:
    """Deterministic, cache-resident CPU stand-in for real page fetch+parse
    cost. The sandbox's 1 KB synthetic pages are ~100× lighter than real
    ~100 KB HTML (the reference parses watch pages with regex byte-scans
    and lxml, view_count_crawler.py:41-118 — milliseconds per page), so
    benchmarks may add ``iters`` splitmix64 passes (~3.4 µs per URL per
    1000 iters) to measure the engine's orchestration at realistic
    per-page compute. Pure register/L2 math — no memory-bandwidth
    pressure, no effect on any output (result is discarded)."""
    if iters <= 0 or len(url_hash) == 0:
        return 0
    x = _uh(url_hash).copy()
    t = np.empty_like(x)
    # in-place passes: one reused scratch buffer instead of ~4 fresh
    # temporaries per pass — under 8+ concurrent workers the allocator
    # and cache churn of the temporary-chain measurably degrades
    # multi-core scaling on shared-LLC hosts, and the stand-in's job is
    # to SCALE like compute, not to stress the allocator
    with np.errstate(over="ignore"):
        for _ in range(iters):
            x += np.uint64(0x9E3779B97F4A7C15)
            np.right_shift(x, np.uint64(30), out=t)
            x ^= t
            x *= np.uint64(0xBF58476D1CE4E5B9)
            np.right_shift(x, np.uint64(27), out=t)
            x ^= t
            x *= np.uint64(0x94D049BB133111EB)
            np.right_shift(x, np.uint64(31), out=t)
            x ^= t
    return int(x[0] & np.uint64(1))


_HEX_TAB = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)


def _hex_pa(x: np.ndarray, width: int):
    """Fixed-width lowercase hex of uint64 values (< 16**width) as an
    Arrow string array — the vectorized ``%0{width}x``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    x = np.asarray(x, dtype=np.uint64)
    out = np.empty((len(x), width), dtype=np.uint8)
    for i in range(width):
        shift = np.uint64(4 * (width - 1 - i))
        out[:, i] = _HEX_TAB[((x >> shift) & np.uint64(0xF)).astype(np.intp)]
    return pc.cast(pa.array(out.view(f"S{width}").ravel()), pa.string())


@lru_cache(maxsize=8)
def _hosts_pa(n_hosts: int):
    import pyarrow as pa

    return pa.array(hosts(n_hosts), type=pa.string())


@lru_cache(maxsize=1)
def _vocab_pa():
    import pyarrow as pa

    return pa.array(VOCAB, type=pa.string())


def kind_codes_pa(urls) -> np.ndarray:
    """Vectorized page-kind from the URL path prefix of an Arrow string
    array; any other path uses the watch template."""
    import pyarrow.compute as pc

    m = pc.struct_field(pc.extract_regex(urls, r"://[^/]*/(?P<k>ch|pl|w)/"), 0)
    is_ch = pc.fill_null(pc.equal(m, "ch"), False).to_numpy(zero_copy_only=False)
    is_pl = pc.fill_null(pc.equal(m, "pl"), False).to_numpy(zero_copy_only=False)
    return np.where(is_ch, KIND_CHANNEL, np.where(is_pl, KIND_PLAYLIST, KIND_WATCH)).astype(
        np.int64
    )


def payload_arrays(url_hash, own_host, cfg: CrawlConfig, kind_code=None):
    """url_hash + own host (+ page kind) -> (payload, links) as
    pa.Array<string>, built with pyarrow.compute kernels over contiguous
    string buffers (no per-row Python strings). ``own_host`` may be a pa
    string array (zero-copy from the fetch batch) or any object-string
    sequence.

    Span order within a page: stat, then (text, media?)*, tags, links —
    the reference's stats-before-content document order. ``links`` is the
    outlink targets alone (SPANSEP-joined), pre-extracted so frontier
    expansion reads a flat column instead of re-parsing the payload.

    Kind templates (see KIND_* above): channel = subscriber stat, 2 text
    spans, avatar media, 2-4 own-host playlist links; playlist = item
    stat, 1 text span, 4-8 own-host watch links + a 50% next-page
    continuation (the reference's LIFO pagination, O2); watch = the
    view/like stat, 1-5 text spans with thumbnails, tags, 2-8 related
    watch links (cross-host 50%)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    h = _uh(url_hash)
    n = len(h)
    if n == 0:
        e = pa.array([], type=pa.string())
        return e, e
    kc = (
        np.full(n, KIND_WATCH, dtype=np.int64)
        if kind_code is None
        else np.asarray(kind_code, dtype=np.int64)
    )
    is_ch, is_pl = kc == KIND_CHANNEL, kc == KIND_PLAYLIST
    is_ch_pa, is_pl_pa = pa.array(is_ch), pa.array(is_pl)
    # absent slots become NULL and the final join skips them (a present
    # slot is never the empty string, so no separator runs form)
    empty = pa.scalar(None, type=pa.string())
    nv = np.uint64(len(VOCAB))
    vocab = _vocab_pa()

    def dec(x: np.ndarray):  # uint64 -> decimal string
        return pc.cast(pa.array(x), pa.string())

    def vtake(idx: np.ndarray):
        return pc.take(vocab, pa.array(idx.astype(np.int64)))

    def cat(*parts):  # element-wise concat, "" separator
        return pc.binary_join_element_wise(*parts, "")

    slots = []

    views = _mix(h, 1) % np.uint64(1_000_000)
    likes = _mix(h, 2) % np.uint64(10_000)
    dislikes = _mix(h, 3) % np.uint64(1_000)
    watch_stat = cat("views=", dec(views), " likes=", dec(likes), " dislikes=", dec(dislikes))
    ch_stat = cat("subscribers=", dec(views), " videos=", dec(likes))
    pl_stat = cat("items=", dec(likes))
    stat_body = pc.if_else(is_pl_pa, pl_stat, pc.if_else(is_ch_pa, ch_stat, watch_stat))
    slots.append(cat("stat" + FIELD, stat_body, FIELD))

    n_text = (_mix(h, 4) % np.uint64(_MAX_TEXT)).astype(np.int64) + 1  # 1..5
    n_text = np.where(is_ch, 2, np.where(is_pl, 1, n_text))
    cdf = _zipf_cdf(cfg.synth_n_hosts, ZIPF_S)
    hosts_arr = _hosts_pa(cfg.synth_n_hosts)
    for j in range(_MAX_TEXT):
        w0 = vtake(_mix(h, 10 + 4 * j) % nv)
        w1 = vtake(_mix(h, 11 + 4 * j) % nv)
        w2 = vtake(_mix(h, 12 + 4 * j) % nv)
        tok = _hex_pa(_mix(h, 13 + 4 * j) % np.uint64(1 << 32), 8)
        text = cat("text" + FIELD, w0, " ", w1, " ", w2, " w", tok, FIELD)
        slots.append(pc.if_else(pa.array(j < n_text), text, empty))

        media = cat(
            "media" + FIELD + FIELD + "http://cdn.example.com/img/",
            _hex_pa(_mix(h, 30 + j) % np.uint64(1 << 40), 10),
            ".jpg",
        )
        # watch: 40% thumbnail per text span; channel: avatar after the
        # first text span; playlist: no media
        has_media = (j < n_text) & np.where(
            is_ch, j == 0, np.where(is_pl, False, _u01(_mix(h, 80 + j)) < 0.4)
        )
        slots.append(pc.if_else(pa.array(has_media), media, empty))

    n_tag = (_mix(h, 5) % np.uint64(_MAX_TAG + 1)).astype(np.int64)  # 0..2
    n_tag = np.where(kc == KIND_WATCH, n_tag, 0)  # og:video:tag on watch only
    for j in range(_MAX_TAG):
        tag = cat("tag" + FIELD, vtake(_mix(h, 40 + j) % nv), FIELD)
        slots.append(pc.if_else(pa.array(j < n_tag), tag, empty))

    n_link = (_mix(h, 6) % np.uint64(_MAX_LINK - 1)).astype(np.int64) + 2  # 2..8
    n_link = np.where(
        is_ch,
        (_mix(h, 7) % np.uint64(3)).astype(np.int64) + 2,
        np.where(is_pl, (_mix(h, 8) % np.uint64(5)).astype(np.int64) + 4, n_link),
    )
    own_pa = (
        own_host
        if isinstance(own_host, (pa.Array, pa.ChunkedArray))
        else pa.array(np.asarray(own_host, dtype=object), type=pa.string())
    )
    next_roll = _u01(_mix(h, 9)) < 0.5
    link_targets = []
    for j in range(_MAX_LINK):
        # cross-host related links exist only on watch pages
        cross = (kc == KIND_WATCH) & (_u01(_mix(h, 50 + j)) >= 0.5)
        tgt_host = pc.if_else(
            pa.array(cross),
            pc.take(
                hosts_arr,
                pa.array(np.searchsorted(cdf, _u01(_mix(h, 60 + j))).astype(np.int64)),
            ),
            own_pa,
        )
        # target path prefix by page kind: channels link to playlists;
        # playlists link to watches except a 50% last-slot next-page
        # continuation (/pl/); watches link to watches
        is_next_page = is_pl & (j == (n_link - 1)) & next_roll
        prefix = pc.if_else(pa.array(is_ch | is_next_page), pa.scalar("/pl/"), pa.scalar("/w/"))
        # watch targets draw from a (possibly small) per-host id POOL so the
        # same video appears in many playlists/pages — the sharing that makes
        # the reference's stop-on-seen pagination cutoff meaningful;
        # playlist targets stay in the wide space (chains are unique)
        tgt_space = np.where(
            is_ch | is_next_page, np.uint64(1 << 48), np.uint64(cfg.synth_watch_pool)
        )
        target = pc.if_else(
            pa.array(j < n_link),
            cat("http://", tgt_host, prefix, _hex_pa(_mix(h, 70 + j) % tgt_space, 12)),
            empty,
        )
        link_targets.append(target)
        slots.append(cat("link" + FIELD + FIELD, target))  # null target -> null slot

    payload = pc.binary_join_element_wise(*slots, SPANSEP, null_handling="skip")
    links = pc.binary_join_element_wise(*link_targets, SPANSEP, null_handling="skip")
    return payload, links


# ---------------------------------------------------------------------------
# Scalar wrappers (oracle + tests); the engine never parses in Python
# ---------------------------------------------------------------------------
def parse_payload(payload: str) -> dict:
    """payload -> {spans: [(kind,text,media_ref,offset)...], outlinks: [...]}
    — mirror of the engine's codegen extraction (operators/spans.py)."""
    spans = []
    outlinks = []
    if payload:
        for off, seg in enumerate(payload.split(SPANSEP)):
            kind, text, media = (seg.split(FIELD) + ["", ""])[:3]
            spans.append((kind, text, media, off))
            if kind == "link":
                outlinks.append(media)
    return {"spans": spans, "outlinks": outlinks}


def _host_of(url: str) -> str:
    return url.split("://", 1)[1].split("/", 1)[0]


def page_for(url: str, cfg: CrawlConfig) -> dict:
    """Pure URL -> parsed page (scalar path for the oracle/tests)."""
    import pyarrow as pa

    payload, _ = payload_arrays(
        np.array([xxhash64_str(url)], dtype=np.int64),
        [_host_of(url)],
        cfg,
        kind_codes_pa(pa.array([url], type=pa.string())),
    )
    return parse_payload(payload[0].as_py())


def status_code(url: str, attempt: int, cfg: CrawlConfig) -> int:
    return int(
        status_code_np(
            np.array([xxhash64_str(url)], dtype=np.int64),
            np.array([attempt], dtype=np.int64),
            cfg,
        )[0]
    )


def fetch_ok(url: str, attempt: int, cfg: CrawlConfig) -> bool:
    return status_code(url, attempt, cfg) == 200


def _pick_host(rng: np.random.Generator, cfg: CrawlConfig) -> str:
    cdf = _zipf_cdf(cfg.synth_n_hosts, ZIPF_S)
    return hosts(cfg.synth_n_hosts)[int(np.searchsorted(cdf, rng.random()))]


def _new_path(rng: np.random.Generator, prefix: str = "/ch/") -> str:
    return f"{prefix}{rng.integers(0, 1 << 48):012x}"


def robots_for_host(host: str, cfg: CrawlConfig, epoch: int = 0) -> dict:
    """Deterministic robots entry: crawl-delay drawn from the reference's
    own constants {0.2, 1.0, 6.0} (New_YouTube_Crawler.py:93 /
    New_YouTube_Crawler_Comment.py:443-448) and occasional disallows.

    ``epoch`` models POLICY DRIFT for TTL revalidation
    (cfg.robots_ttl_rounds): epoch 0 is byte-identical to the historic
    policy (the default path never changes a digest); at epoch > 0 some
    hosts tighten a /w/ hex shard (a disallow that actually bites — the
    watch-page space) and some re-draw their crawl-delay, each a pure
    function of (host, epoch) so engine and oracle re-derive the same
    rules independently."""
    rng = _rng("robots", host)
    delay = [0.2, 1.0, 6.0][int(rng.integers(0, 3))]
    disallow = []
    if rng.random() < 0.25:
        disallow.append(f"/p/{rng.integers(0, 16):01x}")  # one hex-prefix shard blocked
    if epoch > 0:
        r2 = _rng("robots-epoch", host, str(epoch))
        if r2.random() < 0.3:
            disallow.append(f"/w/{r2.integers(0, 16):01x}")
        if r2.random() < 0.3:
            delay = [0.2, 1.0, 6.0][int(r2.integers(0, 3))]
    return {
        "host": host,
        "crawl_delay_s": delay,
        "disallow_prefixes": disallow,
        # the synthetic web emits no Allow lines (crawl digests across
        # rounds/benches stay comparable); Allow semantics are covered by
        # tests/test_parse_robots.py against RFC 9309 examples
        "allow_prefixes": [],
        "fetched_round": 0,
    }


def robots_txt_for_host(host: str, cfg: CrawlConfig, epoch: int = 0) -> str:
    """The same deterministic policy rendered as an actual robots.txt
    BODY — what the engine fetches and parses (the ROBOTS table is built
    by functions/robots.parse_robots over these, not handed structured
    rows; the oracle keeps using the structured robots_for_host, so any
    render/parse disagreement fails the crawl-equality tests)."""
    r = robots_for_host(host, cfg, epoch)
    lines = [
        f"# synthetic robots for {host}",
        "User-agent: *",
        f"Crawl-delay: {r['crawl_delay_s']}",
        *[f"Disallow: {p}" for p in r["disallow_prefixes"]],
        # Sitemap directives are section-independent per the spec; the
        # structured parser ignores unknown keys, so this line changes
        # no politeness output — it feeds sitemap DISCOVERY only
        # (functions/robots.sitemaps_from_robots_bodies)
        f"Sitemap: http://{host}/sitemap.xml",
        "",
    ]
    return "\n".join(lines)


def sitemap_xml_for_host(host: str, cfg: CrawlConfig, n_urls: int = 20) -> str:
    """Deterministic sitemap.xml BODY for a host — the open-web analogue
    of the reference's curated CSV seed lists (Utils/Nox_Crawler.py:115):
    a site publishes its own entry points, the crawler bulk-ingests them.
    Same determinism scheme as robots_txt_for_host: content is a pure
    function of (host, synth_seed), so seed extraction is replayable."""
    rng = _rng("sitemap", host, str(cfg.synth_seed))
    entries = []
    for i in range(n_urls):
        path = _new_path(rng)
        day = 1 + int(rng.integers(0, 28))
        entries.append(
            "  <url>\n"
            f"    <loc>http://{host}{path}</loc>\n"
            f"    <lastmod>2024-01-{day:02d}</lastmod>\n"
            "  </url>"
        )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
        + "\n".join(entries)
        + "\n</urlset>\n"
    )


def make_seeds(cfg: CrawlConfig, n_seeds: int = 100) -> list[dict]:
    """Deterministic seed list mirroring the Nox/Vling category rankings
    (Utils/Nox_Crawler.py:86-113): 15 categories x 4 rank orders."""
    rng = _rng("seeds", str(cfg.synth_seed), str(n_seeds))
    cats = [f"cat{i:02d}" for i in range(15)]
    kinds = ["score", "avgview", "growth", "views"]
    out = []
    for i in range(n_seeds):
        host = _pick_host(rng, cfg)
        out.append(
            {
                "url": f"http://{host}{_new_path(rng)}",
                "category": cats[int(rng.integers(0, len(cats)))],
                "rank_kind": kinds[i % 4],
                "rank": i // 4 + 1,
            }
        )
    return out


# ---------------------------------------------------------------------------
# Redirects (3xx): deterministic per-URL, opt-in via synth_redirect_prob
# ---------------------------------------------------------------------------
# A URL is a PERMANENT redirect source with probability
# ``synth_redirect_prob`` (drawn from its hash alone — attempt-independent,
# like a real 301). Its target is a /w/ URL on the SAME host with
# probability ``synth_redirect_same``, else on a Zipf-drawn host. The
# reference's ``requests`` sessions follow redirects transparently and
# record everything under the requested URL — the engine mirrors that for
# same-host chains (followed inline in the vectorized fetch, content
# recorded under the requested URL), but hands CROSS-host targets back to
# the frontier as a 301: following them inline would bypass the target
# host's politeness budget, the one thing a crawler must never do at
# scale. Chains longer than ``max_redirect_hops`` resolve to HTTP 508
# (Loop Detected) and die as fatal. Default prob 0.0 keeps every pinned
# digest byte-identical.

REDIRECT_CODE = 301
REDIRECT_LOOP_CODE = 508

_HEX_TAB_U8 = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
_HTTP_PREFIX_U8 = np.frombuffer(b"http://", dtype=np.uint8)
_W_SEG_U8 = np.frombuffer(b"/w/", dtype=np.uint8)


def is_redirect_np(url_hash, cfg: CrawlConfig) -> np.ndarray:
    """True where the URL is a redirect source (pure function of hash)."""
    h = _uh(url_hash)
    if cfg.synth_redirect_prob <= 0.0:
        return np.zeros(len(h), dtype=bool)
    return _u01(_mix(h, 0xBED0)) < cfg.synth_redirect_prob


def _redirect_draws(h: np.ndarray, cfg: CrawlConfig):
    """(same_host bool, zipf host index, 48-bit target path) per source."""
    same = _u01(_mix(h, 0xBED1)) < cfg.synth_redirect_same
    cdf = _zipf_cdf(cfg.synth_n_hosts, ZIPF_S)
    host_idx = np.searchsorted(cdf, _u01(_mix(h, 0xBED2)))
    path = _mix(h, 0xBED3) % np.uint64(1 << 48)
    return same, host_idx, path


def _same_host_target_hash(hmat: np.ndarray, hlens: np.ndarray, path: np.ndarray) -> np.ndarray:
    """xxhash64 of ``http://<host>/w/<12-hex path>`` built directly as
    byte rows — no string objects anywhere (hot-path kernel). Rows are
    bucketed by host length so each bucket is one fixed-width matrix."""
    from ..functions.hashing import xxhash64_np_fixed

    out = np.empty(len(hlens), dtype=np.int64)
    for l in np.unique(hlens):
        m = hlens == l
        li = int(l)
        buf = np.empty((int(m.sum()), 7 + li + 3 + 12), dtype=np.uint8)
        buf[:, :7] = _HTTP_PREFIX_U8
        buf[:, 7 : 7 + li] = hmat[m, :li]
        buf[:, 7 + li : 10 + li] = _W_SEG_U8
        p = path[m]
        for k in range(12):
            buf[:, 10 + li + k] = _HEX_TAB_U8[
                ((p >> np.uint64(4 * (11 - k))) & np.uint64(0xF)).astype(np.int64)
            ]
        out[m] = xxhash64_np_fixed(buf)
    return out


def resolve_redirects_np(url_hash, host, cfg: CrawlConfig):
    """Vectorized redirect-chain resolution for one fetch batch.

    Returns ``(eff_hash, code_override, handoff, followed)``:
    ``eff_hash`` — the hash whose page the row actually serves (the final
    same-host target for followed chains, else the input hash);
    ``code_override`` — 0 normal, 301 cross-host handoff, 508 chain
    exceeded max_redirect_hops; ``handoff`` — pa.Array<string> of the
    cross-host target for 301 rows ("" elsewhere), or None when redirects
    are disabled; ``followed`` — bool mask of rows whose content comes
    from a followed target (their page kind is the target's /w/ kind)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    eff = np.asarray(url_hash, dtype=np.int64).copy()
    n = len(eff)
    code = np.zeros(n, dtype=np.int64)
    followed = np.zeros(n, dtype=bool)
    if cfg.synth_redirect_prob <= 0.0 or n == 0:
        return eff, code, None, followed

    if isinstance(host, (pa.Array, pa.ChunkedArray)):
        host_np = np.asarray(host.to_pandas(), dtype=object)
    else:
        host_np = np.asarray(host, dtype=object)
    hs = np.char.encode(host_np.astype("U"), "ascii")
    hmat = hs.view(np.uint8).reshape(n, hs.dtype.itemsize)
    hlens = np.char.str_len(hs)
    host_tab = np.asarray(hosts(cfg.synth_n_hosts))
    handoff = np.full(n, "", dtype=object)

    active = is_redirect_np(eff, cfg)
    for _ in range(cfg.max_redirect_hops):
        idx = np.flatnonzero(active)
        if idx.size == 0:
            break
        same, hidx, path = _redirect_draws(_uh(eff[idx]), cfg)
        cross = idx[~same]
        if cross.size:
            code[cross] = REDIRECT_CODE
            hx = np.char.mod("%012x", path[~same].astype(np.int64))
            handoff[cross] = np.char.add(
                np.char.add("http://", host_tab[hidx[~same]].astype("U")),
                np.char.add("/w/", hx),
            )
        sm = idx[same]
        active = np.zeros(n, dtype=bool)
        if sm.size:
            eff[sm] = _same_host_target_hash(hmat[sm], hlens[sm], path[same])
            followed[sm] = True
            active[sm] = is_redirect_np(eff[sm], cfg)
    # a chain still redirecting after max hops is a loop/too-deep: 508
    code[active] = REDIRECT_LOOP_CODE
    return eff, code, pa.array(handoff, type=pa.string()), followed


def resolve_redirect(url: str, cfg: CrawlConfig) -> tuple[str | None, str, int]:
    """Scalar mirror of ``resolve_redirects_np`` for the oracle:
    (handoff_url | None, final_url, code_override 0/301/508)."""
    if cfg.synth_redirect_prob <= 0.0:
        return None, url, 0
    cur = url
    for _ in range(cfg.max_redirect_hops):
        h = np.array([xxhash64_str(cur)], dtype=np.int64)
        if not is_redirect_np(h, cfg)[0]:
            return None, cur, 0
        same, hidx, path = _redirect_draws(_uh(h), cfg)
        tgt_host = (
            _host_of(cur) if same[0] else hosts(cfg.synth_n_hosts)[int(hidx[0])]
        )
        tgt = f"http://{tgt_host}/w/{int(path[0]):012x}"
        if not same[0]:
            return tgt, cur, REDIRECT_CODE
        cur = tgt
    h = np.array([xxhash64_str(cur)], dtype=np.int64)
    if is_redirect_np(h, cfg)[0]:
        return None, cur, REDIRECT_LOOP_CODE
    return None, cur, 0
