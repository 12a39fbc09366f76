"""Canonical-URL normalization.

Replaces the reference's ad-hoc URL handling (relative-href + base join at
Selenium_YouTube_Crawler/YouTube_Crawler.py:316-326; ``url.split('/')[-1]``
ID extraction at Utils/Nox_Crawler.py:86-87) with one canonical form used
everywhere hashing/dedup happens:

- scheme and host lowercased
- default ports stripped (:80 for http, :443 for https)
- fragment dropped
- empty path -> '/' ; non-root trailing slash stripped
- missing scheme -> 'http://'

Implemented ONCE as a vectorized pandas function; the engine wraps it in
an Arrow ``pandas_udf`` and the oracle calls the same code on 1-element
Series — zero drift between the two.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_URL_RE = r"^(?P<scheme>[A-Za-z][A-Za-z0-9+.\-]*)://(?P<host>[^/?#]*)(?P<rest>[^#]*)"


def canonicalize_series(urls: pd.Series) -> pd.Series:
    """Vectorized canonicalization (pandas C string kernels, no row loop)."""
    s = urls.fillna("").str.strip()
    s = s.where(s.str.contains("://", regex=False), "http://" + s)
    parts = s.str.extract(_URL_RE)
    scheme = parts["scheme"].str.lower().fillna("http")
    host = parts["host"].str.lower().fillna("")
    host = host.where(~((scheme == "http") & host.str.endswith(":80")), host.str.slice(0, -3))
    host = host.where(~((scheme == "https") & host.str.endswith(":443")), host.str.slice(0, -4))
    rest = parts["rest"].fillna("")
    # strip ALL trailing '/' (one at a time would not be idempotent) and
    # guarantee a leading '/' (a query with no path, 'host?q', must become
    # 'host/?q') — both found by tests/test_canonical_properties.py
    rest = rest.str.replace(r"/+$", "", regex=True)
    rest = rest.where(rest.str.startswith("/") | (rest == ""), "/" + rest)
    rest = rest.where(rest != "", "/")
    return scheme.str.cat(host, sep="://").str.cat(rest)


def canonicalize_one(url: str) -> str:
    """Oracle-side scalar wrapper around the same vectorized kernel."""
    return canonicalize_series(pd.Series([url])).iloc[0]


@pandas_udf(StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    return canonicalize_series(urls)


def host_of(url_col):
    """Host extraction as a native Spark expression (codegen, no Python)."""
    return F.regexp_extract(url_col, r"^[a-z][a-z0-9+.\-]*://([^/?#]*)", 1)


def with_canonical(df):
    """url -> canonical url + host + url_hash (xxhash64) + fingerprint.

    Hashing is Spark-native (whole-stage codegen); only the
    canonicalization string kernel crosses into Arrow.
    """
    return (
        df.withColumn("url", canonicalize_udf(F.col("url")))
        .withColumn("host", host_of(F.col("url")))
        .withColumn("url_hash", F.xxhash64(F.col("url")))
        .withColumn("fingerprint", F.hash(F.col("url")))
    )
