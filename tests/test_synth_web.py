from __future__ import annotations

from swmaestro_crawler_spark.config import CrawlConfig
from swmaestro_crawler_spark.sources import synth_web


def test_page_is_pure_function():
    cfg = CrawlConfig(synth_n_hosts=20)
    url = "http://host0003.example.com/p/0000deadbeef"
    a, b = synth_web.page_for(url, cfg), synth_web.page_for(url, cfg)
    assert a == b
    offs = [s[3] for s in a["spans"]]
    assert offs == list(range(len(offs)))  # dense span offsets
    assert a["spans"][0][0] == "stat"  # stats yielded first (reference order)
    kinds = {s[0] for s in a["spans"]}
    assert kinds <= {"stat", "text", "media", "link", "tag"}
    link_refs = [s[2] for s in a["spans"] if s[0] == "link"]
    assert link_refs == a["outlinks"]  # outlinks interleaved as link spans


def test_seeds_deterministic_and_skewed():
    cfg = CrawlConfig(synth_n_hosts=20)
    s1 = synth_web.make_seeds(cfg, 200)
    s2 = synth_web.make_seeds(cfg, 200)
    assert s1 == s2
    hosts = [s["url"].split("//")[1].split("/")[0] for s in s1]
    top = max(set(hosts), key=hosts.count)
    assert hosts.count(top) > 200 / 20  # Zipf: hot host over-represented


def test_fetch_ok_varies_by_attempt():
    cfg = CrawlConfig(synth_fail_prob=0.5, synth_n_hosts=20)
    urls = [f"http://host0000.example.com/p/{i:012x}" for i in range(64)]
    r0 = [synth_web.fetch_ok(u, 0, cfg) for u in urls]
    r1 = [synth_web.fetch_ok(u, 1, cfg) for u in urls]
    assert r0 != r1  # retries re-roll
    assert any(r0) and not all(r0)


def test_payload_arrays_parity():
    """The empty batch yields empty (payload, links) arrays."""
    import numpy as np

    cfg = CrawlConfig(synth_n_hosts=20)
    e_pl, e_lk = synth_web.payload_arrays(
        np.array([], dtype=np.int64), np.array([], dtype=object), cfg
    )
    assert len(e_pl) == 0 and len(e_lk) == 0


def test_kind_codes_pa_parity():
    import pyarrow as pa

    urls = [
        "http://host0001.example.com/ch/abc",
        "http://host0001.example.com/pl/abc",
        "http://host0001.example.com/w/abc",
        "http://host0001.example.com/p/abc",  # unknown path -> watch
        "http://host0001.example.com/",       # no path kind -> watch
    ]
    got = synth_web.kind_codes_pa(pa.array(urls, type=pa.string()))
    assert list(got) == [0, 1, 2, 2, 2]
