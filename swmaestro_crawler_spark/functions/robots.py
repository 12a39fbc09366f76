"""Vectorized robots.txt parsing (SURVEY.md §2.11 ``parse_robots``).

The reference hardcodes its politeness constants (0.2 s/call at
New_YouTube_Crawler.py:93; ≥6 s/page at New_YouTube_Crawler_Comment.py:
443-448) and never reads robots.txt. The engine's politeness scheduler is
driven by a ROBOTS table instead; this module turns raw robots.txt bodies
(fetched like any other page) into that table's rows — wholly with pandas
C string kernels (no per-row Python), exposed as an Arrow ``pandas_udf``.

Parsing rules (the subset the scheduler consumes, applied to the merged
``User-agent: *`` sections):
- ``Disallow: <pattern>`` lines -> disallow_prefixes (empty value = allow
  all, dropped)
- ``Allow: <pattern>`` lines -> allow_prefixes (RFC 9309 §2.2.2; empty
  value dropped). Precedence is decided at MATCH time by the politeness
  operator: the most specific (longest) matching pattern wins, Allow
  winning ties — see operators/politeness.split_robots_excluded.
- ``Crawl-delay: <seconds>`` -> crawl_delay_s (first wins; default 1.0)
- comments (#...), blank lines, other directives ignored

Patterns are stored RAW (as written in robots.txt, including ``*``
wildcards and ``$`` end anchors); translation to an executable matcher
is the politeness operator's job, so the stored table stays a faithful
record of the fetched policy.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

DEFAULT_CRAWL_DELAY_S = 1.0

PARSED_ROBOTS = StructType(
    [
        StructField("crawl_delay_s", DoubleType(), False),
        StructField("disallow_prefixes", ArrayType(StringType(), False), False),
        StructField("allow_prefixes", ArrayType(StringType(), False), False),
    ]
)


def parse_robots_frame(bodies: pd.Series) -> pd.DataFrame:
    """Vectorized: robots.txt bodies -> (crawl_delay_s, disallow_prefixes).

    Strategy: explode all lines of all bodies into ONE flat frame
    (C-level split/explode), track each line's user-agent section with a
    cumulative group id, and aggregate the ``*``-section directives back
    per document — no Python loop over documents or lines."""
    bodies = bodies.fillna("")
    lines = bodies.str.split("\n").explode()
    doc = lines.index  # original row id survives the explode
    df = pd.DataFrame({"doc": doc, "line": lines.to_numpy(dtype=object)})
    # strip comments + whitespace
    df["line"] = df["line"].str.replace(r"#.*$", "", regex=True).str.strip()
    parts = df["line"].str.extract(r"(?i)^([a-z\-]+)\s*:\s*(.*)$")
    df["key"] = parts[0].str.lower()
    df["val"] = parts[1].str.strip()

    # user-agent sections: a run of ua lines starts a section; a section
    # applies to '*' if ANY of its ua lines is '*'
    is_ua = df["key"] == "user-agent"
    new_section = is_ua & ~(is_ua.groupby(df["doc"]).shift(fill_value=False))
    df["section"] = new_section.groupby(df["doc"]).cumsum()
    ua_star = (
        (is_ua & (df["val"] == "*"))
        .groupby([df["doc"], df["section"]])
        .transform("max")
    )
    # directives before any User-agent line (section 0) also apply
    in_star = ua_star | (df["section"] == 0)

    dis = df[in_star & (df["key"] == "disallow") & (df["val"] != "")]
    alw = df[in_star & (df["key"] == "allow") & (df["val"] != "")]
    delays = df[in_star & (df["key"] == "crawl-delay")]
    delay_num = pd.to_numeric(delays["val"], errors="coerce").dropna()

    idx = pd.RangeIndex(len(bodies))
    out_delay = (
        delay_num.groupby(delays.loc[delay_num.index, "doc"])
        .first()
        .reindex(idx)
        .fillna(DEFAULT_CRAWL_DELAY_S)
    )
    out_dis = dis.groupby("doc")["val"].agg(list).reindex(idx)
    out_dis = out_dis.apply(lambda x: x if isinstance(x, list) else [])
    out_alw = alw.groupby("doc")["val"].agg(list).reindex(idx)
    out_alw = out_alw.apply(lambda x: x if isinstance(x, list) else [])
    return pd.DataFrame(
        {
            "crawl_delay_s": out_delay.to_numpy(),
            "disallow_prefixes": out_dis.to_numpy(),
            "allow_prefixes": out_alw.to_numpy(),
        }
    )


@pandas_udf(PARSED_ROBOTS)
def parse_robots_udf(bodies: pd.Series) -> pd.DataFrame:
    return parse_robots_frame(bodies)


SITEMAP_RE = r"(?im)^[ \t]*sitemap[ \t]*:[ \t]*(\S+)"


def sitemaps_from_robots_bodies(df):
    """(host, robots.txt body) -> (host, sitemap_url): every ``Sitemap:``
    directive, which per the robots spec is section-independent (it
    applies regardless of User-agent groups — why it is NOT part of the
    per-agent PARSED_ROBOTS struct). Pure codegen regexp extraction, no
    Python evaluation node; chain the result into
    sources/seeds.seeds_from_sitemap_bodies for robots -> sitemap ->
    frontier seed discovery."""
    # DSL form, not F.expr: the pattern's backslash classes must reach
    # the Java regex engine verbatim, not pass through SQL-literal
    # escape parsing
    locs = F.regexp_extract_all(F.col("body"), F.lit(SITEMAP_RE), 1)
    return df.select("host", F.explode(locs).alias("sitemap_url"))


def robots_table_from_bodies(df):
    """(host, robots.txt body) rows -> ROBOTS-schema DataFrame."""
    parsed = df.select("host", parse_robots_udf(F.col("body")).alias("p"))
    return parsed.select(
        "host",
        F.col("p.crawl_delay_s").alias("crawl_delay_s"),
        F.col("p.disallow_prefixes").alias("disallow_prefixes"),
        F.col("p.allow_prefixes").alias("allow_prefixes"),
        F.lit(0).cast("int").alias("fetched_round"),
    )
