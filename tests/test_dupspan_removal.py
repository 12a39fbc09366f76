"""Duplicate-span removal semantics (Lee et al. 2022 keep-one rule) on an
engineered corpus where the expected surgery is known exactly; the
full-corpus DuckDB equality lives in the contract mirror
(test_driver_contract.py::dupspan_removal)."""

from __future__ import annotations

from pyspark.sql import functions as F

from swmaestro_crawler_spark.functions.text import word_hash, word_ngrams, words
from swmaestro_crawler_spark.operators.curation import (
    dup_removal_positions,
    ngram_windows,
    remove_spans,
)

W = 8
SPAN = "s1 s2 s3 s4 s5 s6 s7 s8"  # exactly one W-word window


def _run(spark, rows):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    w = ngram_windows(docs, W).select(
        "doc_id", "pos", word_hash(F.col("g")).alias("gh")
    )
    out = remove_spans(docs, dup_removal_positions(w, W))
    return {r["doc_id"]: r.asDict() for r in out.collect()}


def test_keeper_untouched_duplicate_cut_short_doc_passthrough(spark):
    rows = [
        (1, "a b " + SPAN),          # keeper (min doc_id holding the span)
        (2, "x y " + SPAN + " z"),   # loses the 8 covered words
        (3, "p q r s t u v w nine"), # 9 words, no duplication
        (4, "tiny doc"),             # < W words: no windows, passthrough
    ]
    got = _run(spark, rows)
    assert got[1]["cleaned_text"] == "a b " + SPAN
    assert got[1]["n_removed_words"] == 0
    # doc 2 shares exactly one window (the span itself: its other windows
    # include x/y/z surroundings unique to doc 2) -> 8 words cut
    assert got[2]["cleaned_text"] == "x y z"
    assert got[2]["n_removed_words"] == 8
    assert got[2]["n_words"] == 11
    assert got[3]["cleaned_text"] == rows[2][1]
    assert got[4] == {
        "doc_id": 4,
        "n_words": 2,
        "n_removed_words": 0,
        "cleaned_text": "tiny doc",
    }


def test_overlapping_duplicate_windows_merge_not_double_count(spark):
    # doc 12 repeats the keeper's 9-word run: two overlapping duplicated
    # windows (pos 1 and pos 2) cover words 1..9 -> 9 removed, not 16.
    run = "r1 r2 r3 r4 r5 r6 r7 r8 r9"
    rows = [(11, "k0 " + run), (12, "z0 " + run + " z1")]
    got = _run(spark, rows)
    assert got[11]["n_removed_words"] == 0
    assert got[12]["n_removed_words"] == 9
    assert got[12]["cleaned_text"] == "z0 z1"


def test_whole_doc_duplicate_leaves_empty_string(spark):
    text = " ".join(f"w{i}" for i in range(W))
    got = _run(spark, [(21, text), (22, text)])
    assert got[21]["cleaned_text"] == text
    assert got[22]["cleaned_text"] == ""
    assert got[22]["n_removed_words"] == W


def test_word_ngrams_positions_text_and_short_docs(spark):
    """Window i joins words i..i+n-1 with single spaces; a doc shorter
    than n yields [] (never a descending sequence) and no window rows."""
    ten = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, ten), (2, "only  three words")], "doc_id long, text string"
    )
    for n, short in ((2, ["only three", "three words"]), (W, [])):
        want = [" ".join(f"w{i + j}" for j in range(n)) for i in range(10 - n + 1)]
        arrays = docs.select("doc_id", word_ngrams(words(F.col("text")), n).alias("g"))
        assert {r.doc_id: r.g for r in arrays.collect()} == {1: want, 2: short}
        rows = ngram_windows(docs, n).collect()
        assert sorted((r.doc_id, r.pos, r.g) for r in rows) == sorted(
            [(1, i, g) for i, g in enumerate(want)] + [(2, i, g) for i, g in enumerate(short)]
        )
