"""Text-analysis column builders (tokenize, hash, quality, lang-id).

All Spark-native expressions (codegen; no Python on the data path). Each
builder has a DuckDB-SQL twin used by the driver's correctness oracle —
the SQL strings live next to the Column builders so the two cannot drift.

Cross-engine word hash: the first 8 hex chars of md5 parsed as a 32-bit
int — md5 is bit-identical everywhere, giving MinHash/SimHash/fingerprint
oracles that agree with Spark to the last bit (no float, no
engine-specific hash).

Reference precedent: the crawler's scalar string surgery —
comma-grouped int parse (New_YouTube_Crawler_Comment.py:93-118),
``find_value`` byte-offset extraction (:39-42), truncation
(Selenium_YouTube_Crawler/YouTube_Crawler.py:428-429) — generalized to
corpus-scale text ops.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# ---------------------------------------------------------------------------
# tokenization
# ---------------------------------------------------------------------------


def words(c: Column) -> Column:
    """Whitespace tokens, empties dropped (codegen'd array ops)."""
    return F.filter(F.split(c, " "), lambda w: w != "")


SQL_WORDS = "list_filter(string_split({c}, ' '), w -> w <> '')"


def word_ngrams(ws: Column, n: int) -> Column:
    """Every word n-gram window of the token array ``ws`` in position
    order, each the n words joined by single spaces (duplicates kept).
    An array shorter than n yields ``[]``: ``sequence`` is never asked to
    count down."""
    return F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(ws, (i + j + 1).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

# BPE-ish regex tokens: letter runs, digit runs, single other symbols
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def bpe_token_count(c: Column) -> Column:
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(BPE_RE), 0))


SQL_BPE_COUNT = f"len(regexp_extract_all(lower({{c}}), '{BPE_RE}'))"

# ---------------------------------------------------------------------------
# F2/F1 sanitize: NUL strip + quote doubling — the reference's
# pre_process_comment (New_YouTube_Crawler_Comment.py:350-355: bytearray
# replace of b"\\x00", lossy re-decode, re.sub("'", "''")) as one codegen
# expression. The engine WRITES parameterized (no SQL strings), so the
# quote-doubling is a compatibility kernel for exporting to engines that
# still splice strings; the NUL strip is required regardless (parquet and
# Postgres both reject embedded NULs in text).
# ---------------------------------------------------------------------------


def sanitize_text(c: Column) -> Column:
    return F.regexp_replace(F.regexp_replace(c, "\x00", ""), "'", "''")


SQL_SANITIZE_TEXT = "replace(replace({c}, chr(0), ''), '''', '''''')"

# ---------------------------------------------------------------------------
# cross-engine 32-bit word hash (md5 prefix)
# ---------------------------------------------------------------------------


def word_hash(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


SQL_WORD_HASH = "(('0x' || substr(md5({c}), 1, 8))::BIGINT)"

# ---------------------------------------------------------------------------
# language-ID heuristic (marker-word ratio argmax). The synthetic corpus
# shares one vocabulary across its ``lang`` labels, so the guess is mostly
# 'en'/'unknown' — the operator semantics (deterministic marker-ratio
# classifier) are what's exercised, identically in both engines.
# ---------------------------------------------------------------------------
LANG_MARKERS = {
    "en": ("the", "a"),
    "de": ("der", "das"),
    "fr": ("le", "la"),
    "es": ("el", "los"),
}


def lang_guess(words_col: Column) -> Column:
    n = F.greatest(F.size(words_col), F.lit(1))
    scores = []
    for lang, marks in LANG_MARKERS.items():
        hits = F.size(F.filter(words_col, lambda w: w.isin(*marks)))
        scores.append(F.struct((hits / n).alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("unknown"))


def sql_lang_guess(ws: str) -> str:
    n = f"greatest(len({ws}), 1)"
    structs = []
    for lang, marks in LANG_MARKERS.items():
        inlist = ", ".join(f"'{m}'" for m in marks)
        hits = f"len(list_filter({ws}, w -> w in ({inlist})))"
        structs.append(f"{{'score': {hits}::DOUBLE / {n}, 'lang': '{lang}'}}")
    best = f"list_max([{', '.join(structs)}])"
    return f"(CASE WHEN ({best}).score > 0 THEN ({best}).lang ELSE 'unknown' END)"
