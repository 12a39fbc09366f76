"""Text-analysis queries over the documents corpus: token stats, quality
scoring, language-ID.

Engine-new capabilities for training-data curation (the reference's text
handling stops at SQL-escaping and truncation,
New_YouTube_Crawler_Comment.py:351-362,
Selenium_YouTube_Crawler/YouTube_Crawler.py:428-429). All Spark-native
array/string expressions; DuckDB oracles built from the same constants in
functions/text.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.text import (
    SQL_BPE_COUNT,
    SQL_WORD_HASH,
    SQL_WORDS,
    bpe_token_count,
    lang_guess,
    sql_lang_guess,
    word_hash,
    word_ngrams,
    words,
)
from ..sources.testdata import load

_WS = SQL_WORDS.format(c="text")


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish-regex token counting (SURVEY.md training-data
    ops). n_chars cross-checks the table's own metadata column."""
    d = load(spark, sf_dir, "documents")
    ws = words(F.col("text"))
    return d.select(
        "doc_id",
        F.size(ws).alias("n_tokens"),
        F.size(F.array_distinct(ws)).alias("n_types"),
        bpe_token_count(F.col("text")).alias("bpe_tokens"),
        (F.length("text") == F.col("n_chars")).cast("int").alias("chars_match"),
    )


SQL_TOKEN_STATS = f"""
SELECT doc_id,
       len({_WS}) AS n_tokens,
       len(list_distinct({_WS})) AS n_types,
       {SQL_BPE_COUNT.format(c='text')} AS bpe_tokens,
       CAST(length(text) = n_chars AS INT) AS chars_match
FROM documents
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristics: mean word length, type-token ratio, stopword
    ratio — all exact rationals of integer counts, then one rounded score."""
    d = load(spark, sf_dir, "documents")
    ws = words(F.col("text"))
    n = F.size(ws)
    stop_hits = F.size(F.filter(ws, lambda w: w.isin("the", "a")))
    base = d.select(
        "doc_id",
        n.alias("n_tokens"),
        F.size(F.array_distinct(ws)).alias("n_types"),
        stop_hits.alias("n_stop"),
        F.aggregate(ws, F.lit(0), lambda acc, w: acc + F.length(w)).alias("sum_wlen"),
    ).filter(F.col("n_tokens") > 0)
    return base.select(
        "doc_id",
        F.round(F.col("sum_wlen") / F.col("n_tokens"), 4).alias("avg_word_len"),
        F.round(F.col("n_types") / F.col("n_tokens"), 4).alias("type_token_ratio"),
        F.round(F.col("n_stop") / F.col("n_tokens"), 4).alias("stopword_ratio"),
    )


SQL_QUALITY_SCORE = f"""
WITH base AS (
  SELECT doc_id,
         len(ws) AS n_tokens,
         len(list_distinct(ws)) AS n_types,
         len(list_filter(ws, w -> w IN ('the', 'a'))) AS n_stop,
         list_reduce(list_prepend(0, list_transform(ws, w -> length(w))),
                     (acc, x) -> acc + x) AS sum_wlen
  FROM (SELECT doc_id, {_WS} AS ws FROM documents)
  WHERE len(ws) > 0)
SELECT doc_id,
       round(sum_wlen::DOUBLE / n_tokens, 4) AS avg_word_len,
       round(n_types::DOUBLE / n_tokens, 4) AS type_token_ratio,
       round(n_stop::DOUBLE / n_tokens, 4) AS stopword_ratio
FROM base
"""


def q_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "lang", lang_guess(words(F.col("text"))).alias("lang_guess")
    )


SQL_LANG_GUESS = f"""
SELECT doc_id, lang, {sql_lang_guess(_WS)} AS lang_guess FROM documents
"""

# F7 — rich-text runs flatten: the reference joins a comment's styled-text
# runs back into one string (''.join(c['text'] for c in contentText.runs),
# New_YouTube_Crawler_Comment.py:172). Engine form: build the runs
# array<struct<text,bold>> then array_join(transform(runs, r -> r.text)).
def q_runs_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    ws = words(F.col("text"))
    runs = F.transform(
        ws, lambda w, i: F.struct(w.alias("text"), (i % 2 == 0).alias("bold"))
    )
    flat = F.array_join(F.transform(runs, lambda r: r["text"]), " ")
    return d.select(
        "doc_id",
        F.size(runs).alias("n_runs"),
        (flat == F.array_join(ws, " ")).cast("int").alias("lossless"),
        F.substring(flat, 1, 40).alias("flat_prefix"),
    )


SQL_RUNS_FLATTEN = f"""
WITH r AS (
  SELECT doc_id,
         list_transform({_WS}, w -> {{'text': w}}) AS runs,
         array_to_string({_WS}, ' ') AS direct
  FROM documents)
SELECT doc_id, len(runs) AS n_runs,
       CAST(array_to_string(list_transform(runs, x -> x.text), ' ') = direct AS INT)
         AS lossless,
       substr(array_to_string(list_transform(runs, x -> x.text), ' '), 1, 40)
         AS flat_prefix
FROM r
"""

# ---------------------------------------------------------------------------
# deterministic train/valid/test split — a training-data pipeline staple.
# The split key is the engine-independent md5-prefix hash of doc_id (same
# kernel as the MinHash word hash), NOT a random draw: reproducible across
# engines, runs, and cluster sizes, and stable under re-partitioning.
# 80/10/10 by hash mod 10.
# ---------------------------------------------------------------------------
def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = word_hash(F.col("doc_id").cast("string")) % 10
    split = (
        F.when(h < 8, F.lit("train")).when(h < 9, F.lit("valid")).otherwise(F.lit("test"))
    )
    return load(spark, sf_dir, "documents").select("doc_id", split.alias("split"))


SQL_SAMPLE_SPLIT = f"""
SELECT doc_id,
       CASE WHEN h < 8 THEN 'train' WHEN h < 9 THEN 'valid' ELSE 'test' END AS split
FROM (SELECT doc_id,
             {SQL_WORD_HASH.format(c="CAST(doc_id AS VARCHAR)")} % 10 AS h
      FROM documents)
"""


# ---------------------------------------------------------------------------
# corpus vocabulary top-k: global word counts, top 100 by (count DESC,
# word ASC). Spark's orderBy+limit compiles to TakeOrderedAndProject —
# a distributed partial top-k per partition merged on the driver, NOT a
# single-reducer global sort; ties are broken by word so the cut is a
# total order (deterministic LIMIT).
# ---------------------------------------------------------------------------
VOCAB_TOPK = 100


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .select(F.explode(words(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("w").asc())
        .limit(VOCAB_TOPK)
    )


SQL_VOCAB_TOPK = f"""
SELECT w, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest({SQL_WORDS.format(c="text")}) AS w FROM documents)
GROUP BY w ORDER BY n DESC, w ASC LIMIT {VOCAB_TOPK}
"""


# ---------------------------------------------------------------------------
# end-to-end corpus curation: quality filter -> exact dedup (keep the
# min-id representative) -> deterministic split assignment -> per-split
# stats, composed from the battery's own kernels in ONE declarative plan
# (what a real training-data pipeline chains). Thresholds compare exact
# integer rationals, so the filter cannot flake across engines.
# ---------------------------------------------------------------------------
CURATION_MIN_TOKENS = 5
CURATION_MIN_TTR_NUM, CURATION_MIN_TTR_DEN = 1, 2  # type/token ratio >= 1/2


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").withColumn("ws", words(F.col("text")))
    quality = d.filter(
        (F.size(F.col("ws")) >= CURATION_MIN_TOKENS)
        & (
            F.size(F.array_distinct(F.col("ws"))) * CURATION_MIN_TTR_DEN
            >= F.size(F.col("ws")) * CURATION_MIN_TTR_NUM
        )
    )
    rep = (
        quality.groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(F.min("doc_id").alias("doc_id"), F.max("n_chars").alias("n_chars"))
    )
    h = word_hash(F.col("doc_id").cast("string")) % 10
    split = (
        F.when(h < 8, F.lit("train")).when(h < 9, F.lit("valid")).otherwise(F.lit("test"))
    )
    return (
        rep.withColumn("split", split)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


SQL_CORPUS_CURATION = f"""
WITH q AS (
  SELECT doc_id, text, n_chars, {SQL_WORDS.format(c="text")} AS ws FROM documents),
quality AS (
  SELECT * FROM q
  WHERE len(ws) >= {CURATION_MIN_TOKENS}
    AND len(list_distinct(ws)) * {CURATION_MIN_TTR_DEN} >= len(ws) * {CURATION_MIN_TTR_NUM}),
rep AS (
  SELECT md5(text) AS text_md5, min(doc_id) AS doc_id, max(n_chars) AS n_chars
  FROM quality GROUP BY 1),
assigned AS (
  SELECT *, {SQL_WORD_HASH.format(c="CAST(doc_id AS VARCHAR)")} % 10 AS h FROM rep)
SELECT CASE WHEN h < 8 THEN 'train' WHEN h < 9 THEN 'valid' ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM assigned GROUP BY 1
"""


# ---------------------------------------------------------------------------
# stratified downsampling: cap documents per (lang, source) stratum at K,
# keeping a DETERMINISTIC hash-ordered prefix (not a random draw) — the
# class-balancing step of corpus assembly, reproducible across engines,
# runs, and partitionings. The rank is a per-stratum window (hash-
# partitioned shuffle on the stratum key; no global ordering anywhere).
# ---------------------------------------------------------------------------
STRATUM_CAP = 20


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").withColumn(
        "h", word_hash(F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("lang", "source").orderBy(F.col("h").asc(), F.col("doc_id").asc())
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= STRATUM_CAP)
        .select("doc_id", "lang", "source", F.col("rn").cast("int").alias("rn"))
    )


SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang, source, CAST(rn AS INT) AS rn FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY lang, source
           ORDER BY {SQL_WORD_HASH.format(c="CAST(doc_id AS VARCHAR)")} ASC,
                    doc_id ASC) AS rn
  FROM documents) WHERE rn <= {STRATUM_CAP}
"""


# ---------------------------------------------------------------------------
# corpus length quantiles per language — nearest-rank (type-1) selection:
# value at row ceil(p*n/100) of the (n_chars, doc_id)-sorted group. All
# integer math (rank = (n*p + 99) div 100), so the result is engine-exact
# — no interpolation semantics to align between Spark percentile and
# DuckDB quantile_cont. The per-lang window is disclosed: groups are
# language-sized; at extreme per-group volume swap the exact selection
# for approx_percentile's sketch (same output schema).
# ---------------------------------------------------------------------------
QUANTILE_PCTS = (50, 90, 99)


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = (
        load(spark, sf_dir, "documents")
        .select("lang", "n_chars", "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("lang")))
    )
    pcts = F.explode(F.array(*[F.lit(p) for p in QUANTILE_PCTS])).alias("pct")
    return (
        ranked.select("lang", "n_chars", "rn", "n", pcts)
        .filter(F.col("rn") == F.expr("(n * pct + 99) DIV 100"))
        .select("lang", "pct", F.col("n_chars").alias("value"))
    )


SQL_LENGTH_QUANTILES = f"""
WITH ranked AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents)
SELECT lang, pct, n_chars AS value
FROM ranked, (SELECT unnest([{", ".join(str(p) for p in QUANTILE_PCTS)}]) AS pct) p
WHERE rn = (n * pct + 99) // 100
"""


# ---------------------------------------------------------------------------
# TF-IDF top terms per document — the classic salience ranking, kept
# engine-exact: tf and df are integer counts, N*tf is exact int64, and
# the single int/int division to double is correctly rounded identically
# in both engines (no log(), whose libm rounding may differ — the
# rational N*tf/df is order-equivalent to tf/df_fraction for ranking).
# Plan shape: tf = one groupBy(doc_id, w); df = one groupBy(w) off tf
# (already map-side combined); the vocab-sized df table and the 1-row
# corpus count BROADCAST back onto tf; top-3 is a doc_id-keyed window.
# ---------------------------------------------------------------------------
TFIDF_TOPN = 3


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(words(F.col("text"))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "w")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * F.col("n_docs") / F.col("df"))
    )
    win = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("w").asc())
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= TFIDF_TOPN)
        .select(
            "doc_id",
            F.col("w").alias("term"),
            "tf",
            "df",
            F.round(F.col("score"), 4).alias("score"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


SQL_TFIDF_TOP_TERMS = f"""
WITH tf AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({SQL_WORDS.format(c="text")}) AS w FROM documents)
  GROUP BY doc_id, w),
dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
scored AS (
  SELECT tf.doc_id, tf.w, tf.tf, dfreq.df,
         CAST(tf.tf * (SELECT count(*) FROM documents) AS DOUBLE) / dfreq.df AS score
  FROM tf JOIN dfreq USING (w))
SELECT doc_id, w AS term, tf, df, round(score, 4) AS score, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, w ASC) AS rn
      FROM scored)
WHERE rn <= {TFIDF_TOPN}
"""


# ---------------------------------------------------------------------------
# Corpus-trained bigram language-model scoring (the CCNet/KenLM-shaped
# fluency filter, reduced to exact integer arithmetic): pass 1 trains the
# model — bigram counts C(w1 w2) and continuation-mass prefix counts
# P(w1) — as two map-side-combinable aggregations; pass 2 scores every
# document by its mean scaled conditional probability
#   cond_milli(w1 w2) = (1e6 * C(w1 w2)) div P(w1)
# joined back per bigram occurrence. All counts and divisions are int64,
# so DuckDB replays the train+score bit-identically.
#
# Scale shape: the trained tables are vocabulary-sized (bounded, Zipf),
# not corpus-sized; the score join is keyed on the bigram string —
# uniformly hash-distributed, broadcastable when the model is pruned.
# A production LM filter prunes counts < k; here the corpus is small
# enough to keep every bigram, which the oracle replays exactly.
# ---------------------------------------------------------------------------
LM_SCALE = 1_000_000


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    occ = d.select(
        "doc_id", F.explode(word_ngrams(words(F.col("text")), 2)).alias("bg")
    ).withColumn("w1", F.split(F.col("bg"), " ", 2)[0])
    # collapse the occurrence stream to per-(doc, bigram) counts FIRST and
    # persist: the regex tokenization + explode run once instead of three
    # times, and the model aggregations + score join all work over the
    # much smaller distinct-bigram-per-doc table (sum(nb) reproduces every
    # occurrence-level count exactly)
    db = occ.groupBy("doc_id", "bg", "w1").agg(F.count(F.lit(1)).alias("nb"))
    db.persist()
    cnt = db.groupBy("bg").agg(F.sum("nb").alias("cb"))
    pfx = db.groupBy("w1").agg(F.sum("nb").alias("pw"))
    scored = (
        db.join(cnt, "bg")
        .join(pfx, "w1")
        .withColumn("cm", F.expr(f"({LM_SCALE} * cb) div pw"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("nb").alias("n_bigrams"),
            F.sum(F.col("nb") * F.col("cm")).alias("sum_milli"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.expr("sum_milli div n_bigrams").alias("avg_cond_milli"),
        )
    )


_SQL_BIGRAMS = f"""
  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS bg, ws[i] AS w1
  FROM (SELECT doc_id, {SQL_WORDS.format(c="text")} AS ws FROM documents),
       UNNEST(range(1, len(ws))) AS t(i)
"""

SQL_BIGRAM_LM_SCORE = f"""
WITH bg AS ({_SQL_BIGRAMS}),
cnt AS (SELECT bg, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY bg),
pfx AS (SELECT w1, CAST(count(*) AS BIGINT) AS pw FROM bg GROUP BY w1),
scored AS (
  SELECT b.doc_id, ({LM_SCALE} * c.cb) // p.pw AS cm
  FROM bg b JOIN cnt c USING (bg) JOIN pfx p USING (w1))
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(cm) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_cond_milli
FROM scored GROUP BY doc_id
"""


QUERIES = {
    "text_token_stats": (q_token_stats, SQL_TOKEN_STATS),
    "text_quality_score": (q_quality_score, SQL_QUALITY_SCORE),
    "text_lang_guess": (q_lang_guess, SQL_LANG_GUESS),
    "text_runs_flatten": (q_runs_flatten, SQL_RUNS_FLATTEN),
    "sample_split": (q_sample_split, SQL_SAMPLE_SPLIT),
    "vocab_topk": (q_vocab_topk, SQL_VOCAB_TOPK),
    "corpus_curation_pipeline": (q_corpus_curation, SQL_CORPUS_CURATION),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "corpus_length_quantiles": (q_length_quantiles, SQL_LENGTH_QUANTILES),
    "tfidf_top_terms": (q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS),
    "bigram_lm_score": (q_bigram_lm_score, SQL_BIGRAM_LM_SCORE),
}
