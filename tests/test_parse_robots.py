"""Vectorized robots.txt parsing: golden cases + Spark UDF round-trip
into the ROBOTS table the politeness scheduler consumes."""

from __future__ import annotations

import pandas as pd

from swmaestro_crawler_spark.functions.robots import (
    DEFAULT_CRAWL_DELAY_S,
    parse_robots_frame,
)

SIMPLE = """
User-agent: *
Disallow: /private/
Crawl-delay: 2.5
"""

OTHER_AGENT = """
User-agent: googlebot
Disallow: /google-only/
Crawl-delay: 9

User-agent: *
Disallow: /a
Disallow: /b
"""

HEADERLESS = """# global rules, no UA header
Disallow: /x
Crawl-delay: 6
"""

MIXED_GROUP = """
User-agent: friendbot
User-agent: *
Disallow: /shared
"""

EMPTY_DISALLOW = """
User-agent: *
Disallow:
"""


def test_parse_cases():
    out = parse_robots_frame(
        pd.Series([SIMPLE, OTHER_AGENT, HEADERLESS, MIXED_GROUP, EMPTY_DISALLOW, "", None])
    )
    assert out.loc[0, "crawl_delay_s"] == 2.5
    assert out.loc[0, "disallow_prefixes"] == ["/private/"]
    # directives for another agent are ignored
    assert out.loc[1, "crawl_delay_s"] == DEFAULT_CRAWL_DELAY_S
    assert out.loc[1, "disallow_prefixes"] == ["/a", "/b"]
    # headerless (section 0) rules apply
    assert out.loc[2, "crawl_delay_s"] == 6.0
    assert out.loc[2, "disallow_prefixes"] == ["/x"]
    # a UA group containing '*' applies
    assert out.loc[3, "disallow_prefixes"] == ["/shared"]
    # empty Disallow = allow all
    assert out.loc[4, "disallow_prefixes"] == []
    assert out.loc[5, "disallow_prefixes"] == []
    assert out.loc[6, "crawl_delay_s"] == DEFAULT_CRAWL_DELAY_S


def test_udf_builds_robots_table(spark):
    from swmaestro_crawler_spark.functions.robots import robots_table_from_bodies
    from swmaestro_crawler_spark.schema import ROBOTS

    df = spark.createDataFrame(
        [("h1.example.com", SIMPLE), ("h2.example.com", OTHER_AGENT)], ["host", "body"]
    )
    table = robots_table_from_bodies(df)
    assert [(f.name, f.dataType) for f in table.schema.fields] == [
        (f.name, f.dataType) for f in ROBOTS.fields
    ]  # nullability differs (UDF outputs are nullable); names+types must match
    rows = {r.host: r for r in table.collect()}
    assert rows["h1.example.com"].crawl_delay_s == 2.5
    assert rows["h1.example.com"].disallow_prefixes == ["/private/"]
    assert rows["h2.example.com"].disallow_prefixes == ["/a", "/b"]


def test_render_parse_round_trip(spark):
    """synth_web.robots_txt_for_host rendered bodies must parse back to
    exactly the structured policy the oracle consumes."""
    from swmaestro_crawler_spark.functions.robots import parse_robots_frame
    from swmaestro_crawler_spark.sources.synth_web import (
        hosts,
        robots_for_host,
        robots_txt_for_host,
    )
    from tests.conftest import small_cfg

    import pandas as pd

    cfg = small_cfg("/tmp/unused")
    hs = hosts(cfg.synth_n_hosts)
    parsed = parse_robots_frame(pd.Series([robots_txt_for_host(h, cfg) for h in hs]))
    for i, h in enumerate(hs):
        want = robots_for_host(h, cfg)
        assert parsed["crawl_delay_s"].iloc[i] == want["crawl_delay_s"], h
        assert list(parsed["disallow_prefixes"].iloc[i]) == want["disallow_prefixes"], h


ALLOW_CASE = """
User-agent: *
Allow: /private/ok
Disallow: /private/
Allow:
"""


def test_parse_allow_lines():
    out = parse_robots_frame(pd.Series([ALLOW_CASE, SIMPLE]))
    assert out.loc[0, "allow_prefixes"] == ["/private/ok"]
    assert out.loc[0, "disallow_prefixes"] == ["/private/"]
    # bodies without Allow lines get an empty list, not NaN
    assert out.loc[1, "allow_prefixes"] == []


def _blocked(spark, dis, alw, paths):
    """Run split_robots_excluded over one host and return
    {path: blocked} — the RFC 9309 longest-match verdict per URL."""
    from swmaestro_crawler_spark.operators.politeness import split_robots_excluded

    robots = spark.createDataFrame(
        [("h", 1.0, dis, alw, 0)],
        "host string, crawl_delay_s double, disallow_prefixes array<string>, "
        "allow_prefixes array<string>, fetched_round int",
    )
    frontier = spark.createDataFrame(
        [(f"http://h{p}", "h") for p in paths], "url string, host string"
    )
    allowed, excluded, _ = split_robots_excluded(frontier, robots)
    ok = {r.url.removeprefix("http://h") for r in allowed.collect()}
    blocked = {r.url.removeprefix("http://h") for r in excluded.collect()}
    assert ok | blocked == set(paths) and not (ok & blocked)
    return {p: p in blocked for p in paths}


def test_rfc9309_longest_match_precedence(spark):
    """RFC 9309 §2.2.2: the most specific (longest) matching pattern
    wins; Allow wins ties; no match = allowed."""
    v = _blocked(
        spark,
        dis=["/"],
        alw=["/p"],
        paths=["/page", "/p", "/folder/x", "/"],
    )
    # '/p' (allow, len 2) beats '/' (disallow, len 1) wherever it matches
    assert v == {"/page": False, "/p": False, "/folder/x": True, "/": True}

    # tie -> allow wins
    v = _blocked(spark, dis=["/dup"], alw=["/dup"], paths=["/dup/x"])
    assert v == {"/dup/x": False}

    # longer disallow beats shorter allow
    v = _blocked(spark, dis=["/a/b/c"], alw=["/a"], paths=["/a/b/c/d", "/a/b"])
    assert v == {"/a/b/c/d": True, "/a/b": False}


def test_rfc9309_wildcards_and_anchor(spark):
    """'*' matches any chars; '$' anchors the end of the path."""
    v = _blocked(
        spark,
        dis=["/*.php$"],
        alw=[],
        paths=["/index.php", "/index.php?x=1", "/a/b.php", "/index.html"],
    )
    assert v == {
        "/index.php": True,
        "/index.php?x=1": False,  # $ anchor: query chars follow .php
        "/a/b.php": True,
        "/index.html": False,
    }
    # mid-pattern wildcard + SQL-special chars in the path stay literal
    v = _blocked(
        spark,
        dis=["/fish*/salmon"],
        alw=[],
        paths=["/fishery/salmon", "/fish/salmon", "/fish_y/100%/salmon", "/salmon"],
    )
    assert v == {
        "/fishery/salmon": True,
        "/fish/salmon": True,
        "/fish_y/100%/salmon": True,
        "/salmon": False,
    }
