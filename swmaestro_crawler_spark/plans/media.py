"""Media-asset pipeline: fetch the bytes behind the spans table's
``media_ref`` entries into a content-addressed blob store.

The north-star table is "interleaved text + media documents"; the crawl
rounds emit the media REFERENCES (the reference crawler likewise stores
thumbnail/avatar URLs only — New_YouTube_Crawler.py:175). This module
is the stage a real media corpus needs next: resolve each new reference
once, store each distinct CONTENT once, and keep the mapping —

- ``MEDIA_REFS``  (media_ref, content_key, round): which asset each
  reference resolved to, appended once per newly-seen reference;
- ``MEDIA_BLOBS`` (content_key, kind, n_bytes, blob): one row per
  distinct content hash — the content-addressed store (the web reuses
  the same thumbnail under many URLs; storing per-ref would duplicate).

Incremental by construction: a sweep reads the spans table (or ONE
round's appends via ``read_delta`` — only the delta files are scanned),
anti-joins the standing ``MEDIA_REFS`` so previously-resolved
references cost nothing, fetches only the remainder, and anti-joins
``MEDIA_BLOBS`` on content_key so previously-stored bytes are never
rewritten. A second sweep over the same warehouse is a no-op (0 new
refs, 0 new blobs) — pinned by tests.

Crash safety: blobs commit BEFORE refs. A crash between the commits
leaves orphan blobs (harmless; the re-run's ref sweep re-resolves and
the blob anti-join skips them) — never a ref without its bytes.

Scale shape — probe-then-fetch: resolving a reference to its
content fingerprint is cheap (an ETag/Content-MD5 HEAD probe, a CDX
index lookup, or — as here — a hash the transport can compute without
the body), while the body bytes are the expensive part. So the sweep
runs two phases: (1) PROBE every new reference to (content_key, kind) —
only strings and int64 keys ever move; (2) pick ONE representative
reference per not-yet-stored content (min media_ref — map-side
combinable agg, so only ~|distinct contents| rows cross the exchange)
and FETCH bytes for those representatives only. At 100 TB this is the
difference between downloading the corpus's reference count and its
distinct-content count (the web reuses the same thumbnail under many
URLs); blob bytes never appear on any corpus-sized path. The probe's
fingerprint is verified against the fetched content (mismatch raises —
a lying probe cannot corrupt the store).

References shuffle once as strings (distinct + anti-join, both
hash-partitioned on the ref); the store-side anti-join is key-only.
Probe and fetch are Arrow-batched ``mapInPandas`` (one batch = many
refs; no per-row Python dispatch), same transport-seam pattern as
operators/fetch.py — the synthetic transport derives bytes
deterministically from the reference so the engine is testable
hermetically, and content collisions are real (CONTENT_SPACE < #refs),
so the dedup path is genuinely exercised.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..catalog import Catalog
from ..schema import SPANS_DOC
from .round import _StepTimer

MEDIA_REFS = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("content_key", LongType(), False),
        StructField("round", IntegerType(), False),
    ]
)

MEDIA_BLOBS = StructType(
    [
        StructField("content_key", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("blob", BinaryType(), False),
    ]
)

# content space deliberately smaller than the reference space so
# distinct refs share bytes and the content-addressed dedup is exercised
CONTENT_SPACE = 1 << 12
REF_PARTITIONS = 16  # partitions of each media_blobs / media_refs commit

_BLOB_MEMO: dict = {}  # (content_key, kind) -> bytes, per worker process


def synth_media_probe(refs: pd.Series) -> pd.DataFrame:
    """Deterministic stand-in for the content-fingerprint probe (an
    ETag/Content-MD5 HEAD request or CDX-index lookup on the real web):
    maps each reference to (content_key, kind) WITHOUT touching the body
    bytes. Pure function of the reference, aligned with ``refs``."""
    import hashlib

    keys, kinds = [], []
    for ref in refs:
        base = ref.rsplit("/", 1)[-1]
        key = int(hashlib.md5(base.encode()).hexdigest()[:12], 16) % CONTENT_SPACE
        keys.append(key)
        kinds.append("image" if ref.endswith((".jpg", ".png", ".gif")) else "binary")
    return pd.DataFrame({"content_key": keys, "kind": kinds})


def synth_media_transport(refs: pd.Series) -> pd.DataFrame:
    """Deterministic stand-in for the asset download: bytes are a pure
    function of the reference's basename hash, so two refs whose hashes
    collide in CONTENT_SPACE carry byte-identical blobs (as reused
    thumbnails do on the real web). Returns (content_key, kind,
    n_bytes, blob) aligned with ``refs``."""
    from ..operators.multimodal import synth_blob

    # CONTENT_SPACE bounds the distinct contents, so blob synthesis is
    # memoized per (key, kind) — the per-ref work is just the hash. The
    # memo is per worker process and a pure function of its key, so
    # batching/order cannot change any byte.
    memo: dict = _BLOB_MEMO
    probed = synth_media_probe(refs)
    keys, kinds = list(probed["content_key"]), list(probed["kind"])
    sizes, blobs = [], []
    for key, kind in zip(keys, kinds):
        blob = memo.get((key, kind))
        if blob is None:
            blob = memo[(key, kind)] = synth_blob(key, kind)
        sizes.append(len(blob))
        blobs.append(blob)
    return pd.DataFrame(
        {"content_key": keys, "kind": kinds, "n_bytes": sizes, "blob": blobs}
    )


@dataclass
class MediaSweepResult:
    refs_seen: int       # distinct media refs in the scanned spans
    refs_new: int        # refs resolved (probed or fetched) this sweep
    blobs_new: int       # distinct new contents stored
    blobs_bytes: int     # bytes written to the blob store
    timings: dict = None  # per-stage wall seconds (attribution)


def _span_refs(spans: DataFrame) -> DataFrame:
    return (
        spans.select(F.explode("spans").alias("s"), "round")
        .filter(F.col("s.kind") == "media")
        .filter(F.col("s.media_ref") != "")
        .select(F.col("s.media_ref").alias("media_ref"), "round")
        .groupBy("media_ref")
        .agg(F.min("round").cast("int").alias("round"))
    )


def media_sweep(
    spark: SparkSession,
    cat: Catalog,
    since_snapshot: int | None = None,
    transport: Callable[[pd.Series], pd.DataFrame] = synth_media_transport,
    probe: Callable[[pd.Series], pd.DataFrame] = synth_media_probe,
) -> MediaSweepResult:
    """Resolve every not-yet-seen media reference in the spans table
    (or, with ``since_snapshot``, only in that snapshot's appended
    files) into the content-addressed store. Idempotent; commits blobs
    before refs (see module docstring).

    Two phases: ``probe`` fingerprints every new ref, and ``transport``
    downloads body bytes only for one representative ref per
    not-yet-stored content. A transport whose bytes disagree with the
    probe's (content_key, kind) raises ``ValueError`` before anything
    commits."""
    tm = _StepTimer()
    tm.step("refs_scan")
    # projected read: only the (kind, media_ref) span leaves + round are
    # decoded — never the text payload bytes (which dominate the table).
    spans_proj = StructType(
        [
            StructField(
                "spans",
                ArrayType(
                    StructType(
                        [
                            StructField("kind", StringType(), True),
                            StructField("media_ref", StringType(), True),
                        ]
                    )
                ),
                True,
            ),
            StructField("round", IntegerType(), True),
        ]
    )
    spans = (
        cat.read("spans", SPANS_DOC, project=spans_proj)
        if since_snapshot is None
        else cat.read_delta("spans", SPANS_DOC, since_snapshot, project=spans_proj)
    )
    # the groupBy inside _span_refs already hash-partitions by media_ref —
    # no extra exchange before the probe
    refs = _span_refs(spans).persist()
    seen = cat.read("media_refs", MEDIA_REFS).select("media_ref")
    new_refs = refs.join(seen, "media_ref", "left_anti")
    probed_schema = StructType(
        [
            StructField("media_ref", StringType(), False),
            StructField("round", IntegerType(), False),
            StructField("content_key", LongType(), False),
            StructField("kind", StringType(), False),
        ]
    )

    def probe_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            got = probe(b["media_ref"])
            got.insert(0, "round", b["round"].to_numpy())
            got.insert(0, "media_ref", b["media_ref"].to_numpy())
            yield got

    probed = new_refs.mapInPandas(probe_fn, probed_schema).persist()
    try:
        n_seen = refs.count()  # materializes the persisted ref scan
        tm.step("probe")
        n_new = probed.count()
        if n_new == 0:
            return MediaSweepResult(n_seen, 0, 0, 0, tm.rounded())
        tm.step("rep_fetch")
        # one representative ref per NEW content key: min media_ref
        # (deterministic). The agg is map-side combinable — only
        # ~|distinct contents| x cores (key, ref) string rows cross the
        # exchange; body bytes exist only AFTER this collapse.
        reps = (
            probed.groupBy("content_key")
            .agg(F.min(F.struct("media_ref", "kind")).alias("r"))
            .join(
                cat.read("media_blobs", MEDIA_BLOBS).select("content_key"),
                "content_key",
                "left_anti",
            )
            .select(
                "content_key",
                F.col("r.media_ref").alias("media_ref"),
                F.col("r.kind").alias("probed_kind"),
            )
        )

        def fetch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for b in batches:
                if not len(b):
                    continue
                got = transport(b["media_ref"])
                # the probe's fingerprint AND kind must match the
                # downloaded content — a stale/lying probe fails loudly
                # instead of storing bytes under the wrong address or
                # the wrong media type
                if not (
                    got["content_key"].to_numpy() == b["content_key"].to_numpy()
                ).all():
                    raise ValueError(
                        "media probe fingerprint does not match fetched content"
                    )
                if not (
                    got["kind"].to_numpy() == b["probed_kind"].to_numpy()
                ).all():
                    raise ValueError(
                        "media probe kind does not match fetched content"
                    )
                yield got

        new_blobs = reps.mapInPandas(fetch_fn, MEDIA_BLOBS).persist()
        try:
            st = new_blobs.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("n_bytes"), F.lit(0)).alias("b"),
            ).first()
            n_blobs, total = int(st.n), int(st.b)
            tm.step("blob_commit")
            if n_blobs:
                cat.append(
                    "media_blobs",
                    new_blobs.repartition(REF_PARTITIONS, "content_key"),
                    meta={"op": "media_blobs"},
                    stat_cols=["content_key"],
                    bloom_cols=["content_key"],
                )
        finally:
            new_blobs.unpersist()
        tm.step("refs_commit")
        cat.append(
            "media_refs",
            probed.select("media_ref", "content_key", "round").repartition(
                REF_PARTITIONS, "media_ref"
            ),
            meta={"op": "media_refs"},
        )
        return MediaSweepResult(n_seen, n_new, n_blobs, total, tm.rounded())
    finally:
        probed.unpersist()
        refs.unpersist()


def media_lookup(cat: Catalog, refs: DataFrame) -> DataFrame:
    """(media_ref) -> (media_ref, content_key, kind, n_bytes, blob):
    serve asset bytes for a reference list through the mapping — the
    read path a training-data exporter uses."""
    m = cat.read("media_refs", MEDIA_REFS).select("media_ref", "content_key")
    b = cat.read("media_blobs", MEDIA_BLOBS)
    return refs.join(m, "media_ref").join(b, "content_key").select(
        "media_ref", "content_key", "kind", "n_bytes", "blob"
    )

def export_interleaved(cat: Catalog) -> DataFrame:
    """Assemble the interleaved text+media TRAINING SAMPLES: one row per
    document, spans in offset order with each media span's BYTES inlined
    from the content-addressed store —

      (doc_id, round, n_spans, n_media,
       sample: array<struct<offset, kind, text, blob>>)

    — the read path a multimodal trainer consumes (text spans carry
    their text, media spans carry the resolved blob; a media span whose
    reference was never swept has a NULL blob so a partial sweep is
    visible, not silently dropped).

    Scale shape: spans explode to (doc_id, span) rows; ONLY the media
    rows (a small fraction) join the ref mapping and the blob store
    (both hash joins on media_ref / content_key — the blob store side is
    one row per distinct content); the reassembly is a single
    groupBy(doc_id) with an array_sort(collect_list) whose input is
    exactly the document's own spans — no window, no global sort."""
    spans = cat.read("spans", SPANS_DOC)
    ex = spans.select(
        "doc_id",
        "round",
        F.posexplode("spans").alias("pos", "s"),
    ).select(
        "doc_id",
        "round",
        "pos",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )
    media = ex.filter(F.col("kind") == "media").filter(F.col("media_ref") != "")
    text = ex.filter(~((F.col("kind") == "media") & (F.col("media_ref") != "")))
    refs = cat.read("media_refs", MEDIA_REFS).select("media_ref", "content_key")
    blobs = cat.read("media_blobs", MEDIA_BLOBS).select("content_key", "blob")
    resolved = (
        media.join(refs, "media_ref", "left")
        .join(blobs, "content_key", "left")
        .select("doc_id", "round", "pos", "kind", "text", "offset", "blob")
    )
    both = text.select(
        "doc_id", "round", "pos", "kind", "text", "offset",
        F.lit(None).cast(BinaryType()).alias("blob"),
    ).unionByName(resolved)
    return (
        both.groupBy("doc_id", "round")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "offset", "kind", "text", "blob"))
            ).alias("sample"),
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("kind") == "media").cast("long")).alias("n_media"),
        )
        .select(
            "doc_id",
            "round",
            "n_spans",
            "n_media",
            F.transform(
                "sample",
                lambda s: F.struct(
                    s["offset"].alias("offset"),
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["blob"].alias("blob"),
                ),
            ).alias("sample"),
        )
    )
