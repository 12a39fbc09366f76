"""Vectorized real-HTML field extraction (X4/F4/F15/F16/F17 + P6).

The reference's core page-parsing skill, re-expressed as pure Spark
codegen STRING EXPRESSIONS (whole-stage-codegen'd JVM kernels — the
vectorized-not-per-row requirement, and faster than pandas string ops
because the html column never crosses to Python):

- ``find_value``     byte-offset key extraction — mirror of
                     New_YouTube_Crawler_Comment.py:39-42
                     (find(key)+len(key)+num_chars .. find(separator))
- ``marker_first_token`` the ``text.split(marker)[1].split(" ")[0]``
                     idiom of view_count_crawler.py:77-88 (view counts)
                     and :90-117 (like/dislike labels, "No ..." -> 0)
- ``parse_label_count`` comma-grouped int with the "No" zero case
                     (view_count_crawler.py:86-88, int(re.sub(",","")))
- ``meta_contents``  meta-tag splitting — the split-on
                     '<meta property=... content="' loop of
                     view_count_crawler.py:132-135 (og:video:tag)
- ``extract_comments`` comment-item harvest with the REPLY SKIP
                     (P6: '.' in data-cid passes,
                     New_YouTube_Crawler_Comment.py:332 / :169)
- ``strip_edited``   "(edited)" suffix strip = drop the last
                     space-token when 'edited' present
                     (pre_process_write_date,
                     New_YouTube_Crawler_Comment.py:358-361)
- ``normalize_date_label`` "Premiered/Streamed live on Mar 5, 2021"
                     -> DATE (F15, the Selenium crawler's upload-date
                     label handling, YouTube_Crawler.py:194-218)

``q_html_field_extract`` is the contract query: it BUILDS a realistic
watch-page HTML string per document (deterministic function of the
documents row), extracts every field back through the kernels above, and
the DuckDB oracle recomputes the expected values ANALYTICALLY from
doc_id — so the comparison proves the extraction kernels invert the page
exactly (round-trip to the last bit), not merely that two engines ran
the same regex.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..sources.testdata import load

# ---------------------------------------------------------------------------
# kernels (all pure codegen Column expressions)
# ---------------------------------------------------------------------------


def find_value(html: Column, key: str, num_chars: int = 2, separator: str = '"') -> Column:
    """Reference ``find_value``: slice from ``find(key)+len(key)+num_chars``
    to the next ``separator``. NULL when the key is absent (the reference
    assumes presence; html[-1:...] nonsense on a miss) or when the
    separator never follows (stricter than the reference's silent
    drop-last-char)."""
    pos = F.locate(key, html)  # 1-based; 0 = absent
    beg = pos + len(key) + num_chars
    tail = F.substring(html, beg, F.length(html))
    end = F.locate(separator, tail)  # relative scan (F.locate pos must be int)
    return F.when((pos > 0) & (end > 0), F.substring(tail, 1, end - 1))


def marker_first_token(html: Column, marker: str) -> Column:
    """``html.split(marker)[1].split(" ")[0]`` — first space-token after a
    marker, within its quoted value (view_count_crawler.py:77-88)."""
    return F.substring_index(find_value(html, marker, 0), " ", 1)


def parse_label_count(token: Column) -> Column:
    """Comma-grouped count token -> BIGINT; the reference maps a leading
    "No" ("No likes") to 0 (view_count_crawler.py:90-104)."""
    return (
        F.when(token == "No", F.lit(0))
        .otherwise(F.regexp_replace(token, ",", "").cast("long"))
        .cast("long")
    )


def meta_contents(html: Column, prop: str) -> Column:
    """All ``content`` values of ``<meta property="{prop}" ...>`` in page
    order — the split-loop of view_count_crawler.py:132-135 as one
    vectorized regexp_extract_all."""
    return F.regexp_extract_all(
        html, F.lit(f'<meta property="{prop}" content="([^"]*)">'), F.lit(1)
    )


def strip_edited(text: Column) -> Column:
    """pre_process_write_date: if 'edited' in text, drop the last
    space-token (text[: text.rfind(" ")])."""
    return F.when(
        text.contains("edited"), F.regexp_replace(text, " [^ ]*$", "")
    ).otherwise(text)


def normalize_date_label(label: Column) -> Column:
    """F15: strip the 'Premiered ' / 'Streamed live on ' prefixes the
    watch page puts in front of the date string, then parse
    'MMM d, yyyy'."""
    return F.to_date(
        F.regexp_replace(label, "^(Premiered |Streamed live on )", ""), "MMM d, yyyy"
    )


def extract_comments(html: Column) -> Column:
    """Array of top-level comment texts in page order: split the page on
    the ``data-cid`` item marker, SKIP replies — a '.' in the cid
    (New_YouTube_Crawler_Comment.py:332) — and items without a text span,
    and take each kept item's OWN text: after its text marker, up to
    ``</span>``. Returns array<string>. (Both markers are regex-safe
    literals for ``split``.)"""
    items = F.filter(
        F.split(html, '<div class="comment-item" data-cid="'), lambda _, i: i > 0
    )
    text_marker = '<span class="comment-text-content">'
    kept = F.filter(
        items,
        lambda it: ~F.substring_index(it, '"', 1).contains(".")
        & it.contains(text_marker),
    )
    return F.transform(
        kept, lambda it: F.substring_index(F.split(it, text_marker)[1], "</span>", 1)
    )


# ---------------------------------------------------------------------------
# synthetic watch-page builder (deterministic function of the documents row)
# ---------------------------------------------------------------------------

_LIKE_MARKER = (
    '{"iconType":"LIKE"},"defaultText":{"accessibility":{"accessibilityData":{"label":"'
)
_VIEW_MARKER = '{"videoViewCountRenderer":{"viewCount":{"simpleText":"'


def _date_label(d: Column, did: Column) -> Column:
    fmt = F.date_format(d, "MMM d, yyyy")
    return (
        F.when(did % 3 == 0, F.concat(F.lit("Premiered "), fmt))
        .when(did % 3 == 1, F.concat(F.lit("Streamed live on "), fmt))
        .otherwise(fmt)
    )


def build_watch_html(did: Column) -> Column:
    """A watch-page-shaped HTML string whose every field is a pure
    function of doc_id (so the oracle can verify extraction
    analytically). Mirrors the byte layout the reference scrapes: meta
    tags in <head>, ytInitialData-style JSON blobs, info strings, and
    .comment-item divs with data-cid (replies carry a '.')."""
    views = did * 7919 % 1000000
    likes = did * 104729 % 10000
    like_label = F.when(likes == 0, F.lit("No likes")).otherwise(
        F.concat(F.format_number(likes, 0), F.lit(" likes"))
    )
    pub = F.date_add(F.lit("2020-01-01").cast("date"), (did % 1000).cast("int"))
    is_live = F.when(did % 7 == 0, F.lit("true")).otherwise(F.lit("false"))
    n_tags = F.when(did % 3 == 0, F.lit(1)).otherwise(F.lit(2))
    tag_segs = [
        F.when(
            F.lit(j) < n_tags,
            F.concat(
                F.lit('<meta property="og:video:tag" content="tag'),
                ((did + j * 3) % 7).cast("string"),
                F.lit('">'),
            ),
        ).otherwise(F.lit(""))
        for j in range(2)
    ]
    n_comments = (did % 4).cast("int")
    comment_segs = []
    for i in range(3):
        cid = F.concat(
            F.lit("c"),
            did.cast("string"),
            F.lit("." if i % 2 == 1 else "x"),  # odd index = reply ('.' in cid)
            F.lit(str(i)),
        )
        text = F.concat(
            F.lit("word"),
            ((did + i) % 9).cast("string"),
            F.when((did + i) % 5 == 0, F.lit(" (edited)")).otherwise(F.lit("")),
        )
        comment_segs.append(
            F.when(
                F.lit(i) < n_comments,
                F.concat(
                    F.lit('<div class="comment-item" data-cid="'),
                    cid,
                    F.lit('"><span class="comment-text-content">'),
                    text,
                    F.lit("</span></div>"),
                ),
            ).otherwise(F.lit(""))
        )
    return F.concat(
        F.lit("<html><head>"),
        *tag_segs,
        F.lit("</head><body><script>var ytInitialData = {"),
        F.lit('"isLiveContent":'),
        is_live,
        F.lit(","),
        F.lit(_VIEW_MARKER),
        F.format_number(views, 0),
        F.lit(' views"}},'),
        F.lit(_LIKE_MARKER),
        like_label,
        F.lit('"}}}};</script><div id="date">'),
        _date_label(pub, did),
        F.lit("</div>"),
        *comment_segs,
        F.lit("</body></html>"),
    )


# ---------------------------------------------------------------------------
# contract query + analytic oracle
# ---------------------------------------------------------------------------


def q_html_field_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the page per document, then recover every field FROM THE
    HTML ALONE with the codegen kernels."""
    html = F.col("html")
    kept = extract_comments(html)
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", build_watch_html(F.col("doc_id")).alias("html"))
        .select(
            "doc_id",
            parse_label_count(marker_first_token(html, _VIEW_MARKER)).alias("view_count"),
            parse_label_count(marker_first_token(html, _LIKE_MARKER)).alias("likes"),
            (find_value(html, '"isLiveContent":', 0, ",") == "true").alias("is_live"),
            normalize_date_label(
                F.regexp_extract(html, '<div id="date">([^<]*)</div>', 1)
            ).alias("pub_date"),
            F.size(meta_contents(html, "og:video:tag")).alias("n_tags"),
            F.get(meta_contents(html, "og:video:tag"), 0).alias("first_tag"),
            F.size(kept).alias("n_comments"),
            strip_edited(F.get(kept, 0)).alias("first_comment"),
        )
    )


# The oracle does NOT re-run the extraction: it derives what the page
# generator embedded, straight from doc_id — proving the kernels invert
# the page exactly.
SQL_HTML_FIELD_EXTRACT = """
SELECT doc_id,
       CAST(doc_id * 7919 % 1000000 AS BIGINT)  AS view_count,
       CAST(doc_id * 104729 % 10000 AS BIGINT)  AS likes,
       doc_id % 7 = 0                            AS is_live,
       DATE '2020-01-01' + CAST(doc_id % 1000 AS INT) AS pub_date,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 2 END AS INT) AS n_tags,
       'tag' || CAST(doc_id % 7 AS VARCHAR)      AS first_tag,
       -- comments 0..K-1 exist (K = doc_id % 4); odd indexes are replies
       -- (skipped): kept = ceil(K / 2); first kept is index 0, whose
       -- ' (edited)' suffix the strip removes
       CAST((doc_id % 4 + 1) // 2 AS INT)        AS n_comments,
       CASE WHEN doc_id % 4 > 0
            THEN 'word' || CAST(doc_id % 9 AS VARCHAR) END AS first_comment
FROM documents
"""

QUERIES = {
    "html_field_extract": (q_html_field_extract, SQL_HTML_FIELD_EXTRACT),
}
