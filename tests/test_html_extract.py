"""Golden tests for the vectorized HTML extraction kernels
(functions/html_extract.py) on literal, hand-written watch-page-ish HTML
— including semantic parity with the reference's scalar ``find_value``
(New_YouTube_Crawler_Comment.py:39-42) on the same fixtures."""

from __future__ import annotations

from pyspark.sql import functions as F

from swmaestro_crawler_spark.functions.html_extract import (
    extract_comments,
    find_value,
    marker_first_token,
    meta_contents,
    normalize_date_label,
    parse_label_count,
    strip_edited,
)

PAGE = (
    '<html><head><meta property="og:video:tag" content="music">'
    '<meta property="og:video:tag" content="live concert"></head>'
    '<body><script>var ytInitialData = {"isLiveContent":false,'
    '{"videoViewCountRenderer":{"viewCount":{"simpleText":"1,234,567 views"}},'
    '"likeCount":"8765","channelId":"UCabc123"};</script>'
    '<div id="date">Streamed live on Jan 3, 2021</div>'
    '<div class="comment-item" data-cid="Ugx1"><span class="comment-text-content">'
    "great video</span></div>"
    '<div class="comment-item" data-cid="Ugx1.reply9"><span class="comment-text-content">'
    "a reply</span></div>"
    '<div class="comment-item" data-cid="Ugx2"><span class="comment-text-content">'
    "nice one (edited)</span></div>"
    "</body></html>"
)


def reference_find_value(html: str, key: str, num_chars: int = 2, separator: str = '"') -> str:
    """Verbatim semantics of the reference's find_value
    (New_YouTube_Crawler_Comment.py:39-42)."""
    pos_begin = html.find(key) + len(key) + num_chars
    pos_end = html.find(separator, pos_begin)
    return html[pos_begin:pos_end]


def _one(spark, col):
    return spark.createDataFrame([(PAGE,)], "html string").select(col.alias("v")).first().v


def test_find_value_matches_reference_semantics(spark):
    for key, num_chars, sep in [
        ('"likeCount":"', 0, '"'),
        ('"channelId":"', 0, '"'),
        ('"isLiveContent":', 0, ","),
        ('"viewCount":{"simpleText":"', 0, '"'),
    ]:
        got = _one(spark, find_value(F.col("html"), key, num_chars, sep))
        want = reference_find_value(PAGE, key, num_chars, sep)
        assert got == want, (key, got, want)


def test_find_value_missing_key_is_null(spark):
    assert _one(spark, find_value(F.col("html"), '"nonexistent":"', 0)) is None


def test_view_count_pipeline(spark):
    tok = marker_first_token(
        F.col("html"), '{"videoViewCountRenderer":{"viewCount":{"simpleText":"'
    )
    assert _one(spark, parse_label_count(tok)) == 1234567


def test_no_label_maps_to_zero(spark):
    df = spark.range(1).select(F.lit("No").alias("t"))
    assert df.select(parse_label_count(F.col("t")).alias("v")).first().v == 0


def test_meta_tag_splitting(spark):
    tags = _one(spark, meta_contents(F.col("html"), "og:video:tag"))
    assert tags == ["music", "live concert"]


def test_comment_extraction_skips_replies(spark):
    """P6: the '.' in data-cid reply skip
    (New_YouTube_Crawler_Comment.py:332) — 'a reply' must not appear."""
    got = _one(spark, extract_comments(F.col("html")))
    assert got == ["great video", "nice one (edited)"]


def test_strip_edited_last_token(spark):
    df = spark.createDataFrame(
        [("nice one (edited)",), ("untouched text",), ("2 days ago (edited)",)],
        "t string",
    )
    got = [r.v for r in df.select(strip_edited(F.col("t")).alias("v")).collect()]
    want = [
        t[: t.rfind(" ")] if "edited" in t else t  # pre_process_write_date
        for t in ["nice one (edited)", "untouched text", "2 days ago (edited)"]
    ]
    assert got == want


def test_date_label_normalization(spark):
    import datetime

    df = spark.createDataFrame(
        [("Streamed live on Jan 3, 2021",), ("Premiered Dec 25, 2020",), ("Mar 5, 2022",)],
        "t string",
    )
    got = [r.v for r in df.select(normalize_date_label(F.col("t")).alias("v")).collect()]
    assert got == [
        datetime.date(2021, 1, 3),
        datetime.date(2020, 12, 25),
        datetime.date(2022, 3, 5),
    ]


def test_kernels_are_codegen_not_python(spark):
    """The whole extraction must stay JVM-side: no BatchEvalPython /
    ArrowEvalPython nodes in the plan."""
    from swmaestro_crawler_spark.functions.html_extract import q_html_field_extract

    plan = (
        q_html_field_extract(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan, plan
