"""Corpus-curation operators beyond dedup: benchmark decontamination,
duplicate-ngram span detection, repetition quality flags, and
domain-mixture sampling.

Engine-new training-data capabilities (the reference stops at per-page
scraping; these are the corpus-assembly steps a 100 TB crawl feeds):

- **Benchmark decontamination** (GPT-3 appendix C / Dolma style): flag
  corpus documents sharing any word n-gram with a held-out benchmark
  set. The benchmark's n-gram fingerprint set is small by nature
  (benchmarks are ~10^5 docs), so it is BROADCAST to the corpus scan —
  the 100-TB side never shuffles its text, only (doc_id, gh) survivors
  of the broadcast-hash probe reach the count aggregation.
- **Duplicate n-gram spans** (Lee et al. 2022, "Deduplicating Training
  Data Makes Language Models Better"): the distributed stand-in for a
  suffix-array scan — every W-word window is rolling-hashed, windows
  whose hash occurs in >=2 distinct docs are duplicated spans. Only
  (doc_id, pos, gh) tuples shuffle (never text); the dup-hash set is
  produced by one map-side-combinable groupBy and joined back with a
  plain shuffle hash join, both keyed on the 32-bit gh — uniform by
  construction, no skew.
- **Repetition flags** (Gopher / Rae et al. 2021 quality rules): the
  top-bigram fraction per document. Per-doc windows are tiny (docs are
  the unit of parallelism), so the per-doc row_number window shuffles
  once on doc_id.
- **Domain-mixture sampling**: deterministic hash-threshold sampling to
  a per-source keep rate — the mixture-weighting step of corpus
  assembly. Pure map-side predicate + one groupBy(source); reproducible
  across engines, runs, and partitionings (no random draw).

All plans are whole-stage-codegen Column expressions; DuckDB oracle
twins are built from the same constants so the two cannot drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..functions.text import SQL_WORD_HASH, SQL_WORDS, word_hash, word_ngrams, words
from ..sources.testdata import load

# ---------------------------------------------------------------------------
# position-preserving word n-gram windows
# ---------------------------------------------------------------------------


def ngram_windows(docs: DataFrame, n: int, *keep: str) -> DataFrame:
    """(doc_id, *keep, pos, g): every word n-gram window of ``text``
    (``functions.text.word_ngrams``), one row per position. Duplicates
    are kept: span detection and boilerplate fractions count positions;
    set-semantics callers (dedup.shingles_of) distinct the grams."""
    docs = docs.withColumn("ws", words(F.col("text"))).filter(F.size("ws") >= n)
    return docs.select(
        "doc_id", *keep, F.posexplode(word_ngrams(F.col("ws"), n)).alias("pos", "g")
    )


def _sql_ngram_windows(n: int) -> str:
    ws = SQL_WORDS.format(c="text")
    parts = " || ' ' || ".join(f"ws[i + {j}]" for j in range(n))
    return f"""
SELECT doc_id, CAST(x.pos AS INT) AS pos, x.g AS g
FROM (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - {n - 1}),
           i -> {{'pos': i - 1, 'g': {parts}}})) AS x
  FROM (SELECT doc_id, {ws} AS ws FROM documents)
  WHERE len(ws) >= {n})"""


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------
DECONTAM_NGRAM = 5
DECONTAM_MOD = 23  # doc is "benchmark" iff word_hash(doc_id) % 23 == 0 (~4%)

_SQL_IS_BENCH = f"({SQL_WORD_HASH.format(c='CAST(doc_id AS VARCHAR)')} % {DECONTAM_MOD} = 0)"


def _is_bench(doc_id: Column) -> Column:
    return word_hash(doc_id.cast("string")) % DECONTAM_MOD == 0


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per non-benchmark doc: how many distinct 5-gram hashes it shares
    with the benchmark slice, plus the contaminated flag. The benchmark
    n-gram set is broadcast (disclosed bound: benchmarks are ~10^5 docs
    * ~10^3 grams * 8 B ≈ 1 GB worst-case — above that, drop the
    F.broadcast hint and let AQE pick; semantics unchanged)."""
    d = load(spark, sf_dir, "documents")
    g = (
        ngram_windows(d, DECONTAM_NGRAM)
        .select("doc_id", word_hash(F.col("g")).alias("gh"))
        .distinct()
    )
    bench_g = g.filter(_is_bench(F.col("doc_id"))).select("gh").distinct()
    hits = (
        g.filter(~_is_bench(F.col("doc_id")))
        .join(F.broadcast(bench_g), "gh")
        .groupBy("doc_id")
        .agg(F.countDistinct("gh").alias("n_shared"))
    )
    return (
        d.filter(~_is_bench(F.col("doc_id")))
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .withColumn("n_shared", F.coalesce("n_shared", F.lit(0).cast("long")))
        .select(
            "doc_id",
            "n_shared",
            (F.col("n_shared") > 0).cast("int").alias("contaminated"),
        )
    )


SQL_DECONTAMINATE = f"""
WITH g AS (
  SELECT DISTINCT doc_id, {SQL_WORD_HASH.format(c='g')} AS gh
  FROM ({_sql_ngram_windows(DECONTAM_NGRAM)})),
bench AS (SELECT DISTINCT gh FROM g WHERE {_SQL_IS_BENCH}),
hits AS (
  SELECT doc_id, CAST(count(DISTINCT gh) AS BIGINT) AS n_shared
  FROM g JOIN bench USING (gh)
  WHERE NOT {_SQL_IS_BENCH}
  GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
       CAST(coalesce(h.n_shared, 0) > 0 AS INT) AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE NOT {_SQL_IS_BENCH}
"""


# ---------------------------------------------------------------------------
# duplicate n-gram spans (suffix-array-style substring dedup, hashed)
# ---------------------------------------------------------------------------
DUPSPAN_NGRAM = 8


def q_dupspan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: total 8-word windows and how many are duplicated spans
    (window hash present in >=2 DISTINCT docs). Text never shuffles —
    the window table is (doc_id, gh), the dup set one groupBy(gh)."""
    w = ngram_windows(load(spark, sf_dir, "documents"), DUPSPAN_NGRAM).select(
        "doc_id", word_hash(F.col("g")).alias("gh")
    )
    dup = (
        w.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh", F.lit(1).alias("isdup"))
    )
    per = (
        w.join(dup, "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce("isdup", F.lit(0))).alias("n_dup_windows"),
        )
    )
    return per.select(
        "doc_id",
        "n_windows",
        "n_dup_windows",
        F.round(F.col("n_dup_windows") / F.col("n_windows"), 4).alias("dup_frac"),
    )


SQL_DUPSPAN = f"""
WITH w AS (
  SELECT doc_id, {SQL_WORD_HASH.format(c='g')} AS gh
  FROM ({_sql_ngram_windows(DUPSPAN_NGRAM)})),
dup AS (
  SELECT gh, 1 AS isdup FROM w GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
per AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_windows,
         CAST(sum(coalesce(isdup, 0)) AS BIGINT) AS n_dup_windows
  FROM w LEFT JOIN dup USING (gh)
  GROUP BY doc_id)
SELECT doc_id, n_windows, n_dup_windows,
       round(n_dup_windows::DOUBLE / n_windows, 4) AS dup_frac
FROM per
"""


# ---------------------------------------------------------------------------
# duplicate-span REMOVAL: the actual text surgery (Lee et al. 2022 §4)
# ---------------------------------------------------------------------------


def dup_removal_positions(w: DataFrame, n: int) -> DataFrame:
    """Word positions to cut, per doc, under the keep-one rule: a window
    hash occurring in >=2 distinct docs is a duplicated span; the doc
    with the smallest doc_id containing the hash KEEPS its occurrences,
    every other doc loses the n covered words.

    ``w`` is ``(doc_id, pos, gh)`` from ``ngram_windows`` + the window
    hash. Returns ``(doc_id, q)`` distinct covered word positions.

    Scale shape: the dup-set groupBy and the join back are both keyed on
    the 32-bit window hash (uniform by construction — no skew); the ×n
    position explode applies only to DUPLICATED windows, so the covered
    table is proportional to dup density, never corpus size.
    """
    dup = (
        w.groupBy("gh")
        .agg(
            F.countDistinct("doc_id").alias("nd"),
            F.min("doc_id").alias("keeper"),
        )
        .filter(F.col("nd") >= 2)
        .select("gh", "keeper")
    )
    return covered_positions(
        w.join(dup, "gh").filter(F.col("doc_id") != F.col("keeper")), n
    )


def covered_positions(w: DataFrame, n: int) -> DataFrame:
    """(doc_id, q): the distinct word positions the n-word windows
    ``w`` (doc_id, pos, ...) cover — what ``remove_spans`` cuts."""
    return w.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias("q"),
    ).distinct()


def remove_spans(docs: DataFrame, covered: DataFrame) -> DataFrame:
    """Cut the covered word positions out of each doc's text. The cut is
    a pure codegen array expression (indexed ``filter`` + ``concat_ws``)
    over the doc's own word array — the corpus text crosses exactly one
    join (docs ⋈ per-doc position arrays on doc_id; the right side is
    dup-doc-sized, AQE broadcasts it when small), never an explode."""
    rem = covered.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("q")).alias("qs")
    )
    qs0 = F.coalesce(F.col("qs"), F.expr("CAST(array() AS ARRAY<INT>)"))
    kept = F.filter(F.col("ws"), lambda _w, i: ~F.array_contains(qs0, i))
    return (
        docs.withColumn("ws", words(F.col("text")))
        .join(rem, "doc_id", "left")
        .select(
            "doc_id",
            F.size("ws").cast("long").alias("n_words"),
            F.coalesce(F.size("qs"), F.lit(0)).cast("long").alias("n_removed_words"),
            F.concat_ws(" ", kept).alias("cleaned_text"),
        )
    )


def q_dupspan_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-level duplicate-span removal (Lee et al. 2022, the surgery
    q_dupspan only detects): every 8-word window duplicated across >=2
    distinct docs is cut from every doc except the smallest-doc_id
    keeper; emits the surgically cleaned corpus
    (doc_id, n_words, n_removed_words, cleaned_text)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    w = ngram_windows(docs, DUPSPAN_NGRAM).select(
        "doc_id", "pos", word_hash(F.col("g")).alias("gh")
    )
    return remove_spans(docs, dup_removal_positions(w, DUPSPAN_NGRAM))


SQL_DUPSPAN_REMOVAL = f"""
WITH w AS (
  SELECT doc_id, pos, {SQL_WORD_HASH.format(c='g')} AS gh
  FROM ({_sql_ngram_windows(DUPSPAN_NGRAM)})),
dup AS (
  SELECT gh, min(doc_id) AS keeper
  FROM w GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
cov AS (
  SELECT DISTINCT w.doc_id, w.pos + j.j AS q
  FROM w JOIN dup USING (gh), generate_series(0, {DUPSPAN_NGRAM - 1}) AS j(j)
  WHERE w.doc_id <> dup.keeper),
d AS (SELECT doc_id, {SQL_WORDS.format(c='text')} AS ws FROM documents),
toks AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ws)),
                i -> {{'q': i - 1, 'w': ws[i]}})) AS x
  FROM d),
keptagg AS (
  SELECT t.doc_id, string_agg(t.x.w, ' ' ORDER BY t.x.q) AS cleaned_text
  FROM toks t
  WHERE NOT EXISTS (
    SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.q = t.x.q)
  GROUP BY t.doc_id),
remn AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed_words
  FROM cov GROUP BY doc_id)
SELECT d.doc_id,
       CAST(len(d.ws) AS BIGINT) AS n_words,
       coalesce(remn.n_removed_words, 0) AS n_removed_words,
       coalesce(keptagg.cleaned_text, '') AS cleaned_text
FROM d
LEFT JOIN remn USING (doc_id)
LEFT JOIN keptagg USING (doc_id)
"""


# ---------------------------------------------------------------------------
# repetition flag: top-bigram fraction (Gopher rule family)
# ---------------------------------------------------------------------------


def q_top_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: bigram total, the most frequent bigram (ties broken
    lexicographically so the cut is a total order), its count, and its
    fraction of all bigrams — the Gopher duplicate-2-gram filter."""
    cnt = (
        ngram_windows(load(spark, sf_dir, "documents"), 2)
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    win = Window.partitionBy("doc_id").orderBy(F.col("n").desc(), F.col("g").asc())
    tot = Window.partitionBy("doc_id")
    return (
        cnt.withColumn("rn", F.row_number().over(win))
        .withColumn("n_bigrams", F.sum("n").over(tot))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "n_bigrams",
            F.col("g").alias("top_bigram"),
            F.col("n").alias("top_n"),
            F.round(F.col("n") / F.col("n_bigrams"), 4).alias("top_frac"),
        )
    )


SQL_TOP_BIGRAM = f"""
WITH cnt AS (
  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS n
  FROM ({_sql_ngram_windows(2)}) GROUP BY doc_id, g),
ranked AS (
  SELECT doc_id, g, n,
         row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, g ASC) AS rn,
         CAST(sum(n) OVER (PARTITION BY doc_id) AS BIGINT) AS n_bigrams
  FROM cnt)
SELECT doc_id, n_bigrams, g AS top_bigram, n AS top_n,
       round(n::DOUBLE / n_bigrams, 4) AS top_frac
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# domain-mixture sampling
# ---------------------------------------------------------------------------
MIX_MOD = 1000


def _permille(source: Column) -> Column:
    """Per-source keep rate in [100, 900] permille — a deterministic
    stand-in for a configured mixture-weight table (a deployment joins
    a real weights dim here; the sampling predicate is unchanged)."""
    return word_hash(source) % 801 + 100


def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: total docs, target keep-permille, and how many the
    deterministic hash-threshold predicate keeps. The keep decision is
    a pure function of (doc_id, source) — reproducible on any cluster
    size, and the whole operator is one map-side-combinable groupBy."""
    d = load(spark, sf_dir, "documents")
    keep_hash = word_hash(
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("source"))
    )
    kept = (keep_hash % MIX_MOD < _permille(F.col("source"))).cast("int")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(kept).alias("n_kept"),
        )
        .select(
            "source",
            _permille(F.col("source")).cast("int").alias("keep_permille"),
            "n_total",
            F.col("n_kept").cast("long").alias("n_kept"),
        )
    )


_SQL_PERMILLE = f"({SQL_WORD_HASH.format(c='source')} % 801 + 100)"

SQL_DOMAIN_MIXTURE = f"""
SELECT source,
       CAST({_SQL_PERMILLE} AS INT) AS keep_permille,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CAST({SQL_WORD_HASH.format(c="CAST(doc_id AS VARCHAR) || ':' || source")}
                     % {MIX_MOD} < {_SQL_PERMILLE} AS INT)) AS BIGINT) AS n_kept
FROM documents
GROUP BY source
"""


# ---------------------------------------------------------------------------
# PII redaction (Dolma / CCNet-style scrub pass): replace email addresses,
# phone numbers, and IPv4 addresses with typed placeholder tokens and count
# what was redacted. Pure regexp_replace / regexp_extract_all Column
# expressions — whole-stage codegen, zero shuffles, embarrassingly parallel
# at 100 TB (the scrub is a map-only stage fused into the scan).
#
# The synthetic corpus contains no PII, so the contract query first
# AUGMENTS each document deterministically from its own columns (doc_id,
# source) with an email / phone / IP — the same construction in both
# engines — and then redacts; the test is that redaction actually fires
# and both engines agree byte-for-byte. The regex subset used (character
# classes, bounded repetition, \\d, \\b) behaves identically under Java
# regex (Spark) and RE2 (DuckDB).
# ---------------------------------------------------------------------------
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{2,3}-\d{3,4}-\d{4}\b"


def _pii_augmented() -> Column:
    """Deterministic PII-bearing text derived from (text, doc_id, source)."""
    ds = F.col("doc_id").cast("string")
    return F.concat(
        F.substring(F.col("text"), 1, 80),
        F.lit(" contact user"), ds,
        F.lit("@mail-"), F.col("source"), F.lit(".net tel 010-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit("-"),
        F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."), ((F.col("doc_id") * 3) % 256).cast("string"),
    )


def redact_pii(text: Column) -> Column:
    """Email -> IP -> phone replacement (order matters: the email pattern
    can span dotted hosts the IP pattern would otherwise bite into)."""
    out = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4, "<IP>")
    return F.regexp_replace(out, PII_PHONE, "<PHONE>")


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    raw = _pii_augmented()
    return d.select(
        "doc_id",
        redact_pii(raw).alias("clean"),
        F.size(F.regexp_extract_all(raw, F.lit(PII_EMAIL), F.lit(0)))
        .cast("int").alias("n_email"),
        F.size(F.regexp_extract_all(raw, F.lit(PII_IPV4), F.lit(0)))
        .cast("int").alias("n_ip"),
        F.size(F.regexp_extract_all(raw, F.lit(PII_PHONE), F.lit(0)))
        .cast("int").alias("n_phone"),
    )


_SQL_PII_RAW = (
    "substr(text, 1, 80) || ' contact user' || doc_id::VARCHAR"
    " || '@mail-' || source || '.net tel 010-'"
    " || lpad((doc_id % 10000)::VARCHAR, 4, '0') || '-'"
    " || lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0')"
    " || ' from 10.' || (doc_id % 256)::VARCHAR"
    " || '.0.' || ((doc_id * 3) % 256)::VARCHAR"
)

SQL_PII_REDACT = f"""
WITH aug AS (SELECT doc_id, {_SQL_PII_RAW} AS raw FROM documents)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(raw,
           '{PII_EMAIL}', '<EMAIL>', 'g'),
           '{PII_IPV4}', '<IP>', 'g'),
           '{PII_PHONE}', '<PHONE>', 'g') AS clean,
       CAST(len(regexp_extract_all(raw, '{PII_EMAIL}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(raw, '{PII_IPV4}')) AS INT) AS n_ip,
       CAST(len(regexp_extract_all(raw, '{PII_PHONE}')) AS INT) AS n_phone
FROM aug
"""


# ---------------------------------------------------------------------------
# model-based quality filtering: hashed bag-of-words linear classifier
# (fastText-style, Joulin et al. 2016 — the CCNet/LLaMA corpus-filter
# shape). Training happens offline; what runs over the 100-TB corpus is
# INFERENCE, so that is what this operator is: each token hashes into one
# of DIM weight buckets (feature hashing, Weinberger et al. 2009), the
# document logit is the sum of its buckets' weights plus a per-token bias.
# Weights here are derived from a seeded hash so both engines share the
# model without a sidecar file; production swaps in trained weights as a
# DIM-entry literal array (identical plan shape).
#
# Scale shape: ZERO shuffles — the whole scorer is one whole-stage-codegen
# projection (array transform + aggregate over the per-row token array),
# embarrassingly parallel over the corpus scan.
# ---------------------------------------------------------------------------
QC_DIM = 1024  # weight buckets
QC_WSPAN = 2001  # weights uniform in [-1000, 1000]
QC_BIAS = -120  # per-token bias: mean bucket weight must beat this to keep


def _qc_weight(tok: Column) -> Column:
    """Seeded weight of ``tok``'s feature bucket, exact int64 in [-1000,1000]."""
    bucket = word_hash(tok) % QC_DIM
    h = F.conv(F.substring(F.md5(F.concat(F.lit("qw:"), bucket.cast("string"))), 1, 8), 16, 10)
    return h.cast("long") % QC_WSPAN - (QC_WSPAN - 1) // 2


_SQL_QC_WEIGHT = (
    f"({SQL_WORD_HASH.format(c='w')} % {QC_DIM})"
)
_SQL_QC_W = (
    f"({SQL_WORD_HASH.format(c=chr(39) + 'qw:' + chr(39) + ' || (' + _SQL_QC_WEIGHT + ')::VARCHAR')}"
    f" % {QC_WSPAN} - {(QC_WSPAN - 1) // 2})"
)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    ws = words(F.col("text"))
    logit = F.aggregate(
        ws, F.lit(0).cast("long"), lambda acc, w: acc + _qc_weight(w) + F.lit(QC_BIAS)
    )
    return d.select(
        "doc_id",
        F.size(ws).alias("n_tokens"),
        logit.alias("logit"),
        (logit > 0).cast("int").alias("keep"),
    )


SQL_QUALITY_CLASSIFIER = f"""
WITH scored AS (
  SELECT doc_id,
         len(ws) AS n_tokens,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(ws, w -> {_SQL_QC_W} + ({QC_BIAS}))),
                     (acc, x) -> acc + x) AS logit
  FROM (SELECT doc_id, {SQL_WORDS.format(c='text')} AS ws FROM documents))
SELECT doc_id, n_tokens, logit, CAST(logit > 0 AS INT) AS keep
FROM scored
"""


# ---------------------------------------------------------------------------
# host/source reputation: the per-domain quality ledger a crawler's
# admission scheduler consumes (the reference tracks per-channel `recent`
# flags; a 10^10-URL crawl ranks whole HOSTS before spending fetch budget
# on them — C4/CCNet drop entire domains the same way). One pass over the
# corpus: exact-dup mass (distinct md5), classifier keep rate, mean
# length; combined into one integer permille score. Single
# map-side-combinable groupBy(source) — no joins, integer-exact twin.
# ---------------------------------------------------------------------------
def q_host_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    ws = words(F.col("text"))
    logit = F.aggregate(
        ws, F.lit(0).cast("long"), lambda acc, w: acc + _qc_weight(w) + F.lit(QC_BIAS)
    )
    per_doc = d.select(
        "source",
        "n_chars",
        F.md5("text").alias("fp"),
        (logit > 0).cast("long").alias("keep"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
        F.sum("keep").alias("keep_n"),
        F.sum("n_chars").alias("sum_chars"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_unique",
        "keep_n",
        F.expr("sum_chars div n_docs").alias("avg_chars"),
        F.expr(
            "(1000 * keep_n) div n_docs - (500 * (n_docs - n_unique)) div n_docs"
        ).alias("reputation_permille"),
    )


SQL_HOST_REPUTATION = f"""
WITH per_doc AS (
  SELECT source, n_chars, md5(text) AS fp,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform({SQL_WORDS.format(c='text')},
                             w -> {_SQL_QC_W} + ({QC_BIAS}))),
              (acc, x) -> acc + x) > 0 AS BIGINT) AS keep
  FROM documents),
agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
         CAST(sum(keep) AS BIGINT) AS keep_n,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars
  FROM per_doc GROUP BY source)
SELECT source, n_docs, n_unique, keep_n,
       sum_chars // n_docs AS avg_chars,
       (1000 * keep_n) // n_docs - (500 * (n_docs - n_unique)) // n_docs
         AS reputation_permille
FROM agg
"""


# ---------------------------------------------------------------------------
# DSIR-shaped importance resampling (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling"): score every raw
# document by how target-like its hashed n-gram features are, then keep
# the top-K. Features are unigrams+bigrams hashed into DSIR_BUCKETS via
# the cross-engine md5-prefix hash; two add-1-smoothed bucket
# distributions are fit — p_target over the target slice (here: the
# lexicographically smallest source, standing in for the curated
# domain) and p_raw over everything — and each document scores the
# average per-feature likelihood ratio. The float log-ratio sum of the
# paper is reduced to exact integer arithmetic (per-bucket smoothed
# ratio in DSIR_SCALE-ths, summed weighted by the doc's bucket counts)
# so DuckDB replays the selection bit-identically; int64 headroom bound:
# (N_target+1) * (N_raw + B) * DSIR_SCALE < 2^63 (holds to ~10^7-token
# slices; a production run at 100 TB swaps float logs — same plan shape).
#
# Scale shape: the occurrence stream shuffles only (doc_id, bucket)
# int pairs; both distribution fits are map-side-combinable groupBys to
# B<=4096 rows; the score table is BROADCAST back (the corpus never
# re-shuffles for the join); the final weight is one groupBy(doc_id);
# top-K is a TakeOrdered, never a global single-partition sort.
# ---------------------------------------------------------------------------
DSIR_BUCKETS = 4096
DSIR_SCALE = 10_000
DSIR_TOPK = 200


def q_dsir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    ws = words(F.col("text"))
    # ONE corpus scan and ONE regex tokenize: unigram and bigram streams
    # are a single explode of the concatenated gram array (a union of two
    # explodes would scan + tokenize the corpus twice)
    feats = (
        d.select(
            "doc_id", "source", F.explode(F.concat(ws, word_ngrams(ws, 2))).alias("g")
        )
        .withColumn("b", F.pmod(word_hash(F.col("g")), F.lit(DSIR_BUCKETS)))
        .drop("g")
    )
    # collapse to per-doc bucket counts BEFORE caching: the partial agg
    # combines map-side, so neither the cache nor the shuffle ever holds
    # the raw occurrence stream; the fit and the per-doc weights both
    # derive from this compact table (source is functionally dependent on
    # doc_id, so carrying it through the groupBy is free)
    docb = feats.groupBy("doc_id", "source", "b").agg(
        F.count(F.lit(1)).alias("cb")
    )
    docb.persist()
    tgt = d.agg(F.min("source")).collect()[0][0]
    per = docb.groupBy("b").agg(
        F.sum("cb").alias("nr"),
        F.sum(
            F.when(F.col("source") == tgt, F.col("cb")).otherwise(F.lit(0))
        ).alias("nt"),
    )
    per.persist()
    tot = per.agg(F.sum("nr"), F.sum("nt")).collect()[0]  # 2 bounded scalars
    n_raw, n_tgt = int(tot[0]), int(tot[1])
    score = per.select(
        "b",
        F.expr(
            f"((nt + 1) * {n_raw + DSIR_BUCKETS} * {DSIR_SCALE})"
            f" div ((nr + 1) * {n_tgt + DSIR_BUCKETS})"
        ).alias("s"),
    )
    return (
        docb.join(F.broadcast(score), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cb").alias("n_feats"),
            F.sum(F.col("cb") * F.col("s")).alias("tw"),
        )
        .select("doc_id", "n_feats", F.expr("tw div n_feats").alias("avg_imp"))
        .orderBy(F.col("avg_imp").desc(), F.col("doc_id").asc())
        .limit(DSIR_TOPK)
    )


SQL_DSIR_TOPK = f"""
WITH occ AS (
  SELECT doc_id, source, w AS g
  FROM (SELECT doc_id, source,
               unnest({SQL_WORDS.format(c="text")}) AS w FROM documents)
  UNION ALL
  SELECT doc_id, source, ws[i] || ' ' || ws[i + 1] AS g
  FROM (SELECT doc_id, source, {SQL_WORDS.format(c="text")} AS ws
        FROM documents),
       UNNEST(range(1, len(ws))) AS t(i)
),
f AS (SELECT doc_id, source,
             {SQL_WORD_HASH.format(c="g")} % {DSIR_BUCKETS} AS b FROM occ),
per AS (
  SELECT b, CAST(count(*) AS BIGINT) AS nr,
         CAST(sum(CASE WHEN source = (SELECT min(source) FROM documents)
                       THEN 1 ELSE 0 END) AS BIGINT) AS nt
  FROM f GROUP BY b),
tot AS (SELECT CAST(sum(nr) AS BIGINT) AS n_raw,
               CAST(sum(nt) AS BIGINT) AS n_tgt FROM per),
sc AS (
  SELECT b, ((nt + 1) * (SELECT n_raw + {DSIR_BUCKETS} FROM tot)
             * {DSIR_SCALE})
            // ((nr + 1) * (SELECT n_tgt + {DSIR_BUCKETS} FROM tot)) AS s
  FROM per),
docb AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS cb
         FROM f GROUP BY doc_id, b),
w AS (SELECT doc_id, CAST(sum(cb) AS BIGINT) AS n_feats,
             CAST(sum(cb * s) AS BIGINT) AS tw
      FROM docb JOIN sc USING (b) GROUP BY doc_id)
SELECT doc_id, n_feats, tw // n_feats AS avg_imp
FROM w ORDER BY avg_imp DESC, doc_id ASC LIMIT {DSIR_TOPK}
"""


# ---------------------------------------------------------------------------
# Systematic PPS (probability-proportional-to-size) sampling
# (Madow 1949): k equally-spaced pick points over the cumulative weight
# line; each document receives as many picks as land inside its weight
# interval — heavy docs can be picked multiple times (the classic PPS
# multiplicity), light docs proportionally rarely, and the draw is a
# pure function of the corpus (no RNG). Pick points are
# p_j = floor(total*(2j+1) / 2k); the per-doc pick count has the closed
# form f(ca) - f(cb) with f(x) = clamp(ceil((2k*x - total) / 2*total)),
# so no join against a pick table is needed. The cumulative line comes
# from grouped_prefix_sum (range-partitioned two-phase prefix sum,
# driver state = n_parts totals) — no single-reducer window anywhere.
# All arithmetic is int64 (bound: 2k * total < 2^63), so DuckDB replays
# the draw bit-identically from its own window cumsum.
# ---------------------------------------------------------------------------
PPS_K = 500


def q_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .packing import grouped_prefix_sum

    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.col("n_chars").cast("long").alias("w"))
        .withColumn("_g", F.lit(0))
    )
    total = int(d.agg(F.sum("w")).first()[0])
    k = PPS_K
    running, handle = grouped_prefix_sum(
        d, "_g", ["doc_id"], "w", 16, out_col="ca"
    )

    def f(col: str) -> str:
        # SQL-text twin of the oracle's pick-count closed form (integer
        # div end to end — no doubles anywhere)
        return (
            f"least(greatest(CASE WHEN {2 * k} * {col} - {total} <= 0 "
            f"THEN 0 ELSE ({2 * k} * {col} - {total} + {2 * total - 1}) "
            f"div {2 * total} END, 0), {k})"
        )

    picked = (
        running.withColumn("cb", F.col("ca") - F.col("w"))
        .withColumn("n_picks", F.expr(f"{f('ca')} - {f('cb')}").cast("long"))
        .filter(F.col("n_picks") > 0)
        .select("doc_id", "w", "n_picks")
    )
    # at most PPS_K rows: collect them, then release the prefix sum's
    # persisted frame instead of leaving it in the cache
    try:
        return spark.createDataFrame(picked.collect(), picked.schema)
    finally:
        handle.unpersist()


SQL_PPS_SAMPLE = f"""
WITH w AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         CAST(sum(n_chars) OVER (ORDER BY doc_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS ca
  FROM documents),
t AS (SELECT CAST(sum(n_chars) AS BIGINT) AS total FROM documents),
p AS (
  SELECT doc_id, w, ca, ca - w AS cb, total FROM w, t),
n AS (
  SELECT doc_id, w,
         least(greatest(CASE WHEN {2 * PPS_K} * ca - total <= 0 THEN 0
               ELSE ({2 * PPS_K} * ca - total + 2 * total - 1) // (2 * total)
               END, 0), {PPS_K})
         - least(greatest(CASE WHEN {2 * PPS_K} * cb - total <= 0 THEN 0
               ELSE ({2 * PPS_K} * cb - total + 2 * total - 1) // (2 * total)
               END, 0), {PPS_K}) AS n_picks
  FROM p)
SELECT doc_id, w, CAST(n_picks AS BIGINT) AS n_picks
FROM n WHERE n_picks > 0
"""


QUERIES = {
    "decontam_benchmark_overlap": (q_decontaminate, SQL_DECONTAMINATE),
    "dupspan_ngram_windows": (q_dupspan, SQL_DUPSPAN),
    "dupspan_removal": (q_dupspan_removal, SQL_DUPSPAN_REMOVAL),
    "repetition_top_bigram": (q_top_bigram, SQL_TOP_BIGRAM),
    "domain_mixture_sample": (q_domain_mixture, SQL_DOMAIN_MIXTURE),
    "pii_redact": (q_pii_redact, SQL_PII_REDACT),
    "quality_classifier": (q_quality_classifier, SQL_QUALITY_CLASSIFIER),
    "host_reputation": (q_host_reputation, SQL_HOST_REPUTATION),
    "dsir_importance_topk": (q_dsir_topk, SQL_DSIR_TOPK),
    "pps_systematic_sample": (q_pps_sample, SQL_PPS_SAMPLE),
}
