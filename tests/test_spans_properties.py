"""Property-based equivalence: the Arrow C span-extraction kernel
(operators/spans.extract_spans_arrow — the fetch hot path) must agree
with the scalar reference parser (sources/synth_web.parse_payload — what
the oracle uses) on ARBITRARY payloads, not just the generator's output:
random span tuples, empty payloads, missing fields, and batch shapes."""

from __future__ import annotations

import pyarrow as pa
from hypothesis import given, settings, strategies as st

from swmaestro_crawler_spark.operators.spans import extract_spans_arrow
from swmaestro_crawler_spark.sources.synth_web import FIELD, SPANSEP, parse_payload

# segment text alphabet excludes the two control separators by construction
_TXT = st.text(alphabet="abcz 09:/._-", min_size=0, max_size=12)


@st.composite
def payloads(draw):
    n = draw(st.integers(min_value=0, max_value=6))
    segs = []
    for _ in range(n):
        kind = draw(st.sampled_from(["stat", "text", "media", "tag", "link"]))
        text = draw(_TXT)
        media = draw(_TXT)
        # sometimes emit truncated segments (fewer than 3 fields) — the
        # scalar parser pads with ""; the kernel must match
        form = draw(st.integers(min_value=0, max_value=2))
        if form == 0:
            segs.append(kind)
        elif form == 1:
            segs.append(kind + FIELD + text)
        else:
            segs.append(kind + FIELD + text + FIELD + media)
    return SPANSEP.join(segs)


@settings(max_examples=200, deadline=None)
@given(st.lists(payloads(), min_size=1, max_size=8))
def test_arrow_kernel_matches_scalar_parser(batch):
    got = extract_spans_arrow(pa.array(batch, type=pa.string())).to_pylist()
    for payload, spans in zip(batch, got):
        want = [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for (k, t, m, o) in parse_payload(payload)["spans"]
        ]
        assert spans == want, (payload, spans, want)


def test_kernel_empty_batch_and_empty_payloads():
    assert extract_spans_arrow(pa.array([], type=pa.string())).to_pylist() in ([], [[]])
    got = extract_spans_arrow(pa.array(["", "", ""], type=pa.string())).to_pylist()
    assert got == [[], [], []]


# ---------------------------------------------------------------------------
# same treatment for the codegen HTML comment harvest
# (functions/html_extract.extract_comments): random pages with replies,
# missing text spans, and junk between items, against a scalar mirror of
# the extraction semantics
# ---------------------------------------------------------------------------

_ITEM = '<div class="comment-item" data-cid="'
_TEXTM = '<span class="comment-text-content">'


def _scalar_comments(html: str) -> list[str]:
    out = []
    for frag in html.split(_ITEM)[1:]:
        cid = frag.split('"')[0]
        if "." in cid:
            continue
        parts = frag.split(_TEXTM)
        if len(parts) < 2:
            continue
        out.append(parts[1].split("</span>")[0])
    return out


_CID = st.text(alphabet="abc019.x", min_size=0, max_size=8)
_CTXT = st.text(alphabet="abc z019'", min_size=0, max_size=10)


@st.composite
def comment_pages(draw):
    n = draw(st.integers(min_value=0, max_value=4))
    page = "<html>" + draw(_CTXT)
    for _ in range(n):
        cid = draw(_CID)
        page += _ITEM + cid + '">'
        if draw(st.booleans()):
            page += _TEXTM + draw(_CTXT) + "</span>"
        page += "</div>" + draw(_CTXT)
    return page + "</html>"


@settings(max_examples=150, deadline=None)
@given(st.lists(comment_pages(), min_size=1, max_size=6))
def test_comment_harvest_matches_scalar_mirror(spark, batch):
    from pyspark.sql import functions as F

    from swmaestro_crawler_spark.functions.html_extract import extract_comments

    rows = (
        spark.createDataFrame(list(enumerate(batch)), "i int, html string")
        .select("i", extract_comments(F.col("html")).alias("c"))
        .collect()
    )
    got = [r.c for r in sorted(rows, key=lambda r: r.i)]
    assert got == [_scalar_comments(h) for h in batch], batch
