"""URL-space and template analysis: spider-trap detection + per-source
boilerplate n-gram detection.

Engine-new crawl-scale capabilities (the reference fetches a fixed,
curated frontier — channel/playlist ids from its own DB,
New_YouTube_Crawler.py:175 — so it never faces an adversarial URL space;
a 10^10-URL open-web frontier does):

- **Spider-trap templates**: calendar pages, session-id query strings,
  and faceted-search combinatorics generate unbounded URL spaces with
  near-zero content value. The standard defence is URL *templating*
  (digits -> placeholder) and flagging templates whose per-host
  cardinality explodes. The grouping key is (host, template) — a
  hash-partitioned groupBy with map-side partial aggregates; only the
  collapsed template strings shuffle, and host totals join back on the
  host key (AQE broadcasts the total table when small). At 10^10 URLs
  the template table is orders of magnitude smaller than the frontier,
  and the trap flags feed frontier admission (operators/scheduling.py)
  to stop the crawl from drowning in a calendar.
- **Boilerplate n-grams** (nav bars, cookie banners, footer text):
  word n-grams whose document frequency within a source exceeds
  BP_PERMILLE of that source's documents are template text, not
  content; the per-document boilerplate fraction is a quality signal
  (CCNet/RefinedWeb-style). Only (source, gram-hash, doc_id) integer
  tuples shuffle — never text; the boilerplate set is joined back on
  integer keys (AQE elects broadcast when it is small, the common
  case: boilerplate vocabulary is bounded by the site template, not
  the corpus).

Both oracles share every constant and the md5-prefix gram hash with the
Spark side, so the two engines cannot drift (hash collisions, if any,
collide identically).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..functions.text import SQL_WORD_HASH, SQL_WORDS, word_hash
from ..sources.testdata import load
from .curation import covered_positions, ngram_windows, remove_spans
from .politeness import url_template

# ---------------------------------------------------------------------------
# spider-trap URL templates
# ---------------------------------------------------------------------------
N_HOSTS = 13  # synthetic URL space: user_id % N_HOSTS picks the host
SESSION_MOD = 3  # every SESSION_MOD-th URL carries a session-id query string
SESSION_MULT = 2654435761  # Knuth multiplicative hash for the session value
SESSION_SPACE = 100000
TRAP_MIN_URLS = 80  # template cardinality at/above which it is flagged


def _synth_host() -> Column:
    return F.concat(
        F.lit("h"), (F.col("user_id") % N_HOSTS).cast("string"), F.lit(".example.com")
    )


def _synth_url(host: Column) -> Column:
    """Deterministic URL synthesis over the events table — the contract
    corpus has no URL column, so both engines derive the same URL space
    from (event_id, user_id, event_type) with shared constants: 13
    hosts (``host`` = ``_synth_host()``), the event type as the path
    segment, the unique event id as the leaf, and a session-id query
    string on every third URL (the classic trap shape)."""
    sess = F.when(
        F.col("event_id") % SESSION_MOD == 0,
        F.concat(
            F.lit("?session="),
            ((F.col("event_id") * SESSION_MULT) % SESSION_SPACE).cast("string"),
        ),
    ).otherwise(F.lit(""))
    return F.concat(
        F.lit("https://"),
        host,
        F.lit("/"),
        F.col("event_type"),
        F.lit("/"),
        F.col("event_id").cast("string"),
        sess,
    )


_SQL_URL = (
    "'https://h' || CAST(user_id % 13 AS VARCHAR) || '.example.com/'"
    " || event_type || '/' || CAST(event_id AS VARCHAR)"
    " || (CASE WHEN event_id % 3 = 0"
    "      THEN '?session=' || CAST((event_id * 2654435761) % 100000 AS VARCHAR)"
    "      ELSE '' END)"
)


def q_url_trap_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(host, template) URL-space accounting with trap flags.

    template = digits collapsed to 'N'; n_urls = DISTINCT URLs matching
    the template on that host (count-distinct, because real frontiers
    re-discover the same URL many times); share_permille = the
    template's share of the host's URL space; trap = cardinality at or
    above TRAP_MIN_URLS.

    Plan shape: codegen projections (host, URL built once over it,
    regexp template over the URL), a two-phase distinct-count groupBy on
    (host, template), and a host-total join on the host key — no text
    wider than the collapsed template ever shuffles."""
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    urls = (
        e.withColumn("host", _synth_host())
        .select("host", _synth_url(F.col("host")).alias("url"))
        .withColumn("template", url_template(F.col("url")))
    )
    per_tpl = urls.groupBy("host", "template").agg(
        F.countDistinct("url").alias("n_urls")
    )
    host_tot = per_tpl.groupBy("host").agg(F.sum("n_urls").alias("host_urls"))
    return per_tpl.join(host_tot, "host").select(
        "host",
        "template",
        "n_urls",
        F.expr("(1000 * n_urls) div host_urls").alias("share_permille"),
        (F.col("n_urls") >= TRAP_MIN_URLS).cast("int").alias("trap"),
    )


SQL_URL_TRAP_TEMPLATES = f"""
WITH urls AS (
  SELECT regexp_replace({_SQL_URL}, '[0-9]+', 'N', 'g') AS template,
         'h' || CAST(user_id % 13 AS VARCHAR) || '.example.com' AS host,
         {_SQL_URL} AS url
  FROM events),
per_tpl AS (
  SELECT host, template, CAST(count(DISTINCT url) AS BIGINT) AS n_urls
  FROM urls GROUP BY host, template),
host_tot AS (
  SELECT host, CAST(sum(n_urls) AS BIGINT) AS host_urls FROM per_tpl GROUP BY host)
SELECT host, template, n_urls,
       (1000 * n_urls) // host_urls AS share_permille,
       CAST(n_urls >= {TRAP_MIN_URLS} AS INT) AS trap
FROM per_tpl JOIN host_tot USING (host)
"""


# ---------------------------------------------------------------------------
# boilerplate n-grams
# ---------------------------------------------------------------------------
BP_N = 2  # words per gram
BP_PERMILLE = 200  # gram is boilerplate if present in >= 20% of source docs
BP_MIN_DF = 4  # ... and in at least this many documents absolutely


def _doc_windows(docs: DataFrame) -> DataFrame:
    """(doc_id, source, pos, gh): every word BP_N-gram window, hashed —
    positions kept (duplicates count toward the boilerplate fraction;
    removal cuts covered words), text dropped before anything shuffles."""
    return ngram_windows(docs, BP_N, "source").select(
        "doc_id", "source", "pos", word_hash(F.col("g")).alias("gh")
    )


def _boilerplate_set(docs: DataFrame, w: DataFrame) -> DataFrame:
    """(source, gh) of the template grams: windows ``w`` of ``docs`` whose
    per-source document frequency is >= max(BP_MIN_DF, BP_PERMILLE
    per-mille of the source's documents). The doc-frequency table is a
    distinct + map-side-combinable groupBy on (source, gh) integer keys;
    source doc counts (tiny) broadcast onto it."""
    n_docs = docs.groupBy("source").agg(F.countDistinct("doc_id").alias("n_docs"))
    df_tbl = (
        w.select("source", "gh", "doc_id")
        .distinct()
        .groupBy("source", "gh")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return (
        df_tbl.join(F.broadcast(n_docs), "source")
        .filter(
            (F.col("df") * 1000 >= F.lit(BP_PERMILLE) * F.col("n_docs"))
            & (F.col("df") >= BP_MIN_DF)
        )
        .select("source", "gh")
    )


def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate fraction: the share of the document's
    word-bigram windows whose gram is template text within its source
    (document frequency >= max(BP_MIN_DF, BP_PERMILLE-per-mille of the
    source's documents)).

    Plan shape: windows are a zero-shuffle codegen projection; the
    boilerplate set (``_boilerplate_set``) joins back to the window
    stream on (source, gh) — AQE elects broadcast when the set is small.
    One final groupBy(doc_id) folds count and boilerplate count in a
    single pass. Documents shorter than BP_N words are excluded (no
    windows exist), identically in both engines."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    w = _doc_windows(d)
    boiler = _boilerplate_set(d, w).withColumn("is_b", F.lit(1))
    return (
        w.join(boiler, ["source", "gh"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.coalesce(F.sum("is_b"), F.lit(0)).cast("long").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_boiler",
            F.expr("(1000 * n_boiler) div n_windows").alias("boiler_permille"),
        )
    )


_SQL_BP_WINDOWS = f"""
  SELECT doc_id, source, {SQL_WORD_HASH.format(c='x.g')} AS gh
  FROM (
    SELECT doc_id, source,
           unnest(list_transform(generate_series(1, len(ws) - {BP_N - 1}),
                                 i -> {{'g': ws[i] || ' ' || ws[i + 1]}})) AS x
    FROM (SELECT doc_id, source, {SQL_WORDS.format(c='text')} AS ws FROM documents)
    WHERE len(ws) >= {BP_N})"""

SQL_BOILERPLATE_NGRAMS = f"""
WITH w AS ({_SQL_BP_WINDOWS}),
n_docs AS (
  SELECT source, count(DISTINCT doc_id) AS n_docs FROM documents GROUP BY source),
df_tbl AS (
  SELECT source, gh, count(DISTINCT doc_id) AS df FROM w GROUP BY source, gh),
boiler AS (
  SELECT source, gh
  FROM df_tbl JOIN n_docs USING (source)
  WHERE df * 1000 >= {BP_PERMILLE} * n_docs AND df >= {BP_MIN_DF})
SELECT w.doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(count(b.gh) AS BIGINT) AS n_boiler,
       (1000 * count(b.gh)) // count(*) AS boiler_permille
FROM w LEFT JOIN boiler b ON w.source = b.source AND w.gh = b.gh
GROUP BY w.doc_id
"""


# ---------------------------------------------------------------------------
# boilerplate REMOVAL: the surgery q_boilerplate_ngrams only scores.
# Every word covered by a template window (per-source document frequency
# >= the detection thresholds) is cut from EVERY document — unlike
# duplicate-span removal there is no keeper: template text is navigation
# junk wherever it appears (the trafilatura/jusText removal shape, done
# set-theoretically at corpus scale instead of per-page DOM heuristics).
# ---------------------------------------------------------------------------


def q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cut every per-source template BP_N-gram from the corpus; emits
    (doc_id, n_words, n_removed_words, cleaned_text).

    Scale shape: windows and the boilerplate set are the detection
    query's plans (text never shuffles — only (source, gh, pos) integer
    tuples); covered positions explode ×BP_N over TEMPLATE windows only
    (bounded by template density, not corpus size); the cut itself is
    ``curation.remove_spans``'s codegen indexed array filter — corpus
    text crosses exactly one join, keyed on doc_id."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    w = _doc_windows(d)
    boiler = _boilerplate_set(d, w)
    covered = covered_positions(w.join(boiler, ["source", "gh"]), BP_N)
    return remove_spans(d.select("doc_id", "text"), covered)


_SQL_BP_WINDOWS_POS = f"""
  SELECT doc_id, source, CAST(x.pos AS INT) AS pos,
         {SQL_WORD_HASH.format(c='x.g')} AS gh
  FROM (
    SELECT doc_id, source,
           unnest(list_transform(generate_series(1, len(ws) - {BP_N - 1}),
                                 i -> {{'pos': i - 1, 'g': ws[i] || ' ' || ws[i + 1]}})) AS x
    FROM (SELECT doc_id, source, {SQL_WORDS.format(c='text')} AS ws FROM documents)
    WHERE len(ws) >= {BP_N})"""

SQL_BOILERPLATE_REMOVAL = f"""
WITH w AS ({_SQL_BP_WINDOWS_POS}),
n_docs AS (
  SELECT source, count(DISTINCT doc_id) AS n_docs FROM documents GROUP BY source),
df_tbl AS (
  SELECT source, gh, count(DISTINCT doc_id) AS df FROM w GROUP BY source, gh),
boiler AS (
  SELECT source, gh
  FROM df_tbl JOIN n_docs USING (source)
  WHERE df * 1000 >= {BP_PERMILLE} * n_docs AND df >= {BP_MIN_DF}),
cov AS (
  SELECT DISTINCT w.doc_id, w.pos + j.j AS q
  FROM w JOIN boiler USING (source, gh), generate_series(0, {BP_N - 1}) AS j(j)),
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


QUERIES = {
    "url_trap_templates": (q_url_trap_templates, SQL_URL_TRAP_TEMPLATES),
    "boilerplate_ngrams": (q_boilerplate_ngrams, SQL_BOILERPLATE_NGRAMS),
    "boilerplate_removal": (q_boilerplate_removal, SQL_BOILERPLATE_REMOVAL),
}
