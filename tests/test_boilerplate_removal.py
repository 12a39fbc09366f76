"""Boilerplate-removal surgery (urlspace.q_boilerplate_removal): every
word covered by a per-source template BP_N-gram (the detection query's
thresholds) is cut from EVERY document — no keeper, unlike dup-span
removal. Constructed corpus: a navigation header shared by most docs of
one source must vanish everywhere; unique body text survives; another
source's identical-looking text is NOT template there (per-source DF)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from swmaestro_crawler_spark.operators.urlspace import (
    BP_MIN_DF,
    _doc_windows,
    q_boilerplate_removal,
)


@pytest.fixture()
def corpus(spark, tmp_path):
    header = "home login menu"
    rows = []
    # bodies are fully unique word sequences — no cross-doc bigram repeats
    # (a shared scaffold like "talks about" would legitimately be template)
    def body(i):
        return f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i} zeta{i}"

    # source A: 10 docs, 8 share the header (df=8 >= BP_MIN_DF, >= 20%)
    for i in range(10):
        text = f"{header} {body(i)}" if i < 8 else body(i)
        rows.append((i, text, "en", "A", len(text)))
    # source B: 10 docs, only 2 carry the header (df=2 < BP_MIN_DF=4)
    for i in range(10, 20):
        text = f"{header} {body(i)}" if i < 12 else body(i)
        rows.append((i, text, "en", "B", len(text)))
    # a doc shorter than BP_N words: passthrough
    rows.append((99, "solo", "en", "A", 4))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(f"{d}/documents.parquet")
    return d


def test_template_removed_everywhere_in_source(spark, corpus):
    out = {r.doc_id: r for r in q_boilerplate_removal(spark, corpus).collect()}
    assert len(out) == 21
    # every source-A doc that had the header lost exactly those 3 words
    # (plus any bridging bigram words — header is a prefix, so the cut
    # covers 'home login menu' and the gram joining it to the body)
    for i in range(8):
        r = out[i]
        assert "home" not in r.cleaned_text and "menu" not in r.cleaned_text
        assert f"beta{i}" in r.cleaned_text  # unique body survives
        assert r.n_removed_words >= 3
    # source-A docs without the header are untouched
    for i in range(8, 10):
        assert out[i].n_removed_words == 0
        assert out[i].cleaned_text.startswith(f"alpha{i}")
    # source B: df=2 below BP_MIN_DF → header NOT template there
    for i in range(10, 12):
        assert "home login menu" in out[i].cleaned_text
        assert out[i].n_removed_words == 0
    # short doc passthrough
    assert out[99].cleaned_text == "solo" and out[99].n_removed_words == 0


def test_windows_plan_is_shuffle_free(spark, corpus):
    from swmaestro_crawler_spark.sources.testdata import load

    d = load(spark, corpus, "documents").select("doc_id", "source", "text")
    plan = _doc_windows(d)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # windows are a pure codegen projection
