"""Batch fetch stage: salted sub-buckets -> fused Arrow fetch+extract.

Replaces the reference's 15-process proxy pool with one message in flight
per worker (supervisor.py:146-160; prefetch_count=1 at
New_YouTube_Crawler_proxy_APP.py:41) with one ``mapInArrow`` stage that
does, per partition, in a single pass:

1. sort rows into per-host priority order (Arrow sort kernel),
2. run the pluggable BATCH transport — the sandbox transport is the
   fully vectorized synthetic web (numpy splitmix64 + Arrow string
   kernels, synth_web.payload_arrays); production would run an async
   HTTP client over the same batch interface, one session per partition
   (the reference's one ``requests.Session`` per worker,
   New_YouTube_Crawler_Comment.py:32-33),
3. extract the interleaved span documents from the payloads with pure
   Arrow C kernels (operators/spans.extract_spans_arrow) — the payload
   string NEVER leaves the Python worker; what crosses back to the JVM
   is the final nested span column plus flat metadata.

No per-row Python anywhere (BASELINE.json north_star), and the round's
largest bytes make exactly one trip: generate -> extract -> Arrow -> one
parquet write (plans/round.py commits the output once; the spans table
shares those files zero-copy).

Partitioning is an explicit ``repartition(P, salted-sub-bucket)``:
``xxhash64(host, salt, pmod(url_hash, S))`` spreads one host over S
sub-buckets, so a Zipf-hot domain (>10% of a round) cannot become the
straggler task that caps scaling at 4N executors — while rows of a host
still land in at most S partitions (robots/cookie affinity). Politeness
is enforced upstream, so splitting a host across tasks never violates the
crawl-delay budget. The explicit partition count also keeps AQE from
coalescing the stage below the cluster's parallelism (axis B).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..catalog import write_atomic
from ..config import CrawlConfig
from ..schema import FRONTIER, SPAN, nullable_arrow_schema
from ..sources import synth_web
from .politeness import PRIORITY
from .spans import extract_spans_arrow

FETCHED = StructType(
    FRONTIER.fields
    + [
        StructField("fingerprint", IntegerType(), True),
        StructField("ok", BooleanType(), False),
        StructField("status_code", IntegerType(), False),
        StructField("links", StringType(), True),
        StructField("spans", ArrayType(SPAN, False), False),
        StructField("fetch_round", IntegerType(), False),
    ]
)

# one row per outlink of a row the round's fetch pass resolved (ok, or a
# 301 handoff) at depth < max_depth: ``seq`` is the link's position in
# the page's links, ``url`` its canonical form, ``url_hash`` its
# F.xxhash64 and ``maybe_seen`` the round-start bloom probe of it
OUTLINKS = StructType(
    [
        StructField("parent", StringType(), False),
        StructField("parent_depth", IntegerType(), False),
        StructField("seq", IntegerType(), False),
        StructField("url", StringType(), False),
        StructField("url_hash", LongType(), False),
        StructField("maybe_seen", BooleanType(), False),
    ]
)

HOST_SALT = 0x5EED      # salt of the host sub-bucket hash
FETCH_HOST_SPLITS = 8   # sub-buckets per host in the fetch stage


def _by_host_sub_bucket(admitted: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """The fetch stage's input partitioning, shared by both writers:
    ``xxhash64(host, HOST_SALT, pmod(url_hash, FETCH_HOST_SPLITS))`` over
    ``frontier_partitions`` partitions."""
    sub_bucket = F.xxhash64(
        F.col("host"), F.lit(HOST_SALT), F.pmod(F.col("url_hash"), F.lit(FETCH_HOST_SPLITS))
    )
    return admitted.repartition(cfg.frontier_partitions, sub_bucket)


# batch transport: whole sorted partition -> (status codes, payload, links).
# status: 200 ok; 403/413 fatal (straight to dead, reference
# New_YouTube_Crawler_Comment.py:50-52 aborts with no retry); 500 transient
# (bounded retry). One signature: pa.RecordBatch (the sorted partition) ->
# (numpy int codes, pa.Array<string> payload, pa.Array<string> links) —
# the batch never leaves Arrow/numpy buffers.
BatchTransport = Callable[["pa.RecordBatch"], tuple["np.ndarray", "pa.Array", "pa.Array"]]


def synth_transport(cfg: CrawlConfig) -> BatchTransport:
    """Synthetic transport: the whole batch stays in contiguous
    Arrow/numpy buffers — no object-dtype pandas strings are ever
    materialized on the hot path (they were the fetch stage's main
    allocator/memory-bandwidth load; see synth_web.payload_arrays)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def fetch(batch):
        hashes = batch.column("url_hash").to_numpy()
        # redirect resolution (synth_web redirect section): same-host
        # chains are followed inline — the row serves its FINAL target's
        # page (requests-transparent-follow parity) — while cross-host
        # targets come back as 301 + handoff link and >max-hop chains as
        # 508. All vectorized; a no-op when synth_redirect_prob == 0.
        if cfg.synth_redirect_prob > 0.0:
            eff, code_override, handoff, followed = synth_web.resolve_redirects_np(
                hashes, batch.column("host"), cfg
            )
        else:
            eff, code_override, handoff, followed = hashes, None, None, None
        code = synth_web.status_code_np(eff, batch.column("attempt").to_numpy(), cfg)
        kinds = synth_web.kind_codes_pa(batch.column("url"))
        if code_override is not None:
            code = np.where(code_override > 0, code_override, code)
            # a followed chain always lands on a /w/ target
            kinds = np.where(followed, synth_web.KIND_WATCH, kinds)
        ok = code == 200
        # payloads are a pure per-row function of (url_hash, host, kind):
        # computing them for the ~few-% failed rows too and masking after
        # costs less than a gather/scatter round-trip through objects
        pl, lk = synth_web.payload_arrays(eff, batch.column("host"), cfg, kinds)
        ok_pa = pa.array(ok)
        blank = pa.scalar("", type=pa.string())
        payload = pc.if_else(ok_pa, pl, blank)
        links = pc.if_else(ok_pa, lk, blank)
        if handoff is not None:
            # 301 rows carry exactly one outlink: the cross-host target
            links = pc.if_else(pa.array(code == synth_web.REDIRECT_CODE), handoff, links)
        synth_web.parse_work(hashes[ok], cfg.synth_work_iters)
        return code, payload, links

    return fetch


def fetch_stage(admitted: DataFrame, cfg: CrawlConfig, round_no: int,
                transport_factory: Callable[[CrawlConfig], BatchTransport] = synth_transport) -> DataFrame:
    """admitted frontier rows -> FETCHED rows (ok, links, spans) as a
    DataFrame. Not a production write path: the round and revisit
    pipelines write through ``fetch_stage_direct``. This is the JVM-side
    reference it is digest-pinned against (tests/test_direct_write.py)
    and the plan ``tools/gen_plans.py`` prints."""

    def run_partition(batches):
        yield from _fetched_batches(batches, transport_factory, cfg, round_no)

    cols = [f.name for f in FETCHED.fields]
    return _by_host_sub_bucket(admitted, cfg).mapInArrow(run_partition, FETCHED).select(*cols)


_FLAT_COLS = [f.name for f in FRONTIER.fields] + ["fingerprint"]
_OUT_NAMES = _FLAT_COLS + ["ok", "status_code", "links", "spans", "fetch_round"]
# fetch-file row order, Arrow form: host, then the admission priority
# (the Spark form is sortWithinPartitions("host", *priority_order()))
_SORT_KEYS = [("host", "ascending")] + [
    (c, "ascending" if asc else "descending") for c, asc in PRIORITY
]


def _fetched_batches(batches, transport_factory, cfg: CrawlConfig, round_no: int):
    """Arrow batches of admitted frontier rows -> FETCHED record batches
    (shared by the mapInArrow stage and the executor-direct writer)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    transport = transport_factory(cfg)  # one session per partition
    for b in batches:
        # the whole pass in Arrow: sort (unique url_hash key -> a total
        # order), fetch, extract — no object-string materialization
        b2 = b.take(pc.sort_indices(b, sort_keys=_SORT_KEYS))
        code, payload, links = transport(b2)
        arrays = [b2.column(c) for c in _FLAT_COLS] + [
            pa.array(code == 200),
            pa.array(code.astype(np.int32)),
            links,
            extract_spans_arrow(payload),
            pa.array(np.full(b2.num_rows, round_no, dtype=np.int32)),
        ]
        yield pa.RecordBatch.from_arrays(arrays, names=_OUT_NAMES)


def resolved(ok, status_code):
    """Rows the fetch resolved: ok pages and cross-host 301 handoffs (the
    URL never needs refetching; its one outlink, the redirect target,
    enters the frontier). Works on Spark Columns and numpy arrays alike,
    so the round's JVM filters and the fetch workers share it."""
    return ok | (status_code == synth_web.REDIRECT_CODE)


@dataclass(frozen=True)
class RoundOutputs:
    """What a crawl round's fetch pass writes besides the fetched rows,
    from the rows it resolved (ok, or a 301 handoff): each task's bloom
    increment as a sidecar next to its fetched file
    (``stage_bloom_words`` collects them), and its ``OUTLINKS`` rows as
    ``links_dir/part-{pid:05d}.parquet``. ``bloom_bc`` holds the bytes of
    the round-start bloom; ``bloom_bits`` is derived from them where this
    is built, on the driver, so the increment's bit positions always
    match the bloom it is ORed into. Only a task with outlinks to probe
    reads ``bloom_bc``."""

    bloom_bc: object
    links_dir: str
    bloom_bits: int = field(init=False)

    def __post_init__(self):
        object.__setattr__(self, "bloom_bits", len(self.bloom_bc.value) * 8)


_BLOOM_SIDECAR = "bloom-part-"  # + f"{pid:05d}.npy", one per task


def _write_round_outputs(tbl, cfg: CrawlConfig, out: RoundOutputs, stage_dir: str, pid: int) -> None:
    """``RoundOutputs`` of one task's sorted fetched table."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..functions.canonical import canonicalize_series
    from ..functions.hashing import xxhash64_utf8
    from .seen import _probe, bloom_words

    done = resolved(tbl.column("ok").to_numpy(), tbl.column("status_code").to_numpy())
    words = bloom_words(
        tbl.column("url_hash").to_numpy()[done], cfg.bloom_hashes, out.bloom_bits
    )

    def save_words(tmp):
        with open(tmp, "wb") as f:
            np.save(f, words)

    write_atomic(os.path.join(stage_dir, f"{_BLOOM_SIDECAR}{pid:05d}.npy"), save_words)

    expand = done & (tbl.column("depth").to_numpy() < cfg.max_depth)
    if not expand.any():
        return
    parents = tbl.filter(pa.array(expand))
    links = parents.column("links").combine_chunks()
    # a page without links carries "", which yields no outlink
    lists = pc.split_pattern(
        pc.if_else(pc.equal(links, ""), pa.scalar(None, pa.string()), links),
        synth_web.SPANSEP,
    )
    n_links = pc.fill_null(pc.list_value_length(lists), 0).to_numpy()
    if not n_links.sum():
        return
    parent = pa.array(np.repeat(np.arange(len(parents)), n_links))
    seq = np.arange(n_links.sum()) - np.repeat(np.cumsum(n_links) - n_links, n_links)
    url = pa.array(canonicalize_series(pc.list_flatten(lists).to_pandas()), type=pa.string())
    url_hash = xxhash64_utf8(url)
    seen_bm = np.frombuffer(out.bloom_bc.value, dtype=np.uint64)
    rows = pa.table(
        {
            "parent": parents.column("url").take(parent),
            "parent_depth": parents.column("depth").take(parent),
            "seq": pa.array(seq.astype(np.int32)),
            "url": url,
            "url_hash": pa.array(url_hash),
            "maybe_seen": pa.array(_probe(seen_bm, url_hash, cfg.bloom_hashes)),
        }
    )
    write_atomic(
        os.path.join(out.links_dir, f"part-{pid:05d}.parquet"),
        lambda tmp: pq.write_table(rows, tmp, compression="snappy"),
    )


def stage_bloom_words(stage_dir: str) -> np.ndarray:
    """The bloom increment a fetch pass with ``RoundOutputs`` left in
    ``stage_dir``: every task's sidecar words side by side, a (2, m)
    array for ``seen.or_words`` (a word index may repeat across tasks).
    Read it before ``Catalog.overwrite_stage`` adopts the stage."""
    parts = [
        np.load(os.path.join(stage_dir, name))
        for name in sorted(os.listdir(stage_dir))
        if name.startswith(_BLOOM_SIDECAR)
    ]
    return np.concatenate(parts, axis=1) if parts else np.zeros((2, 0), dtype=np.uint64)


FETCH_STATS = StructType(
    [
        StructField("part", IntegerType(), False),
        StructField("rows", IntegerType(), False),
    ]
)


def fetch_stage_direct(admitted: DataFrame, cfg: CrawlConfig, round_no: int,
                       stage_dir: str,
                       transport_factory: Callable[[CrawlConfig], BatchTransport] = synth_transport,
                       round_outputs: RoundOutputs | None = None) -> DataFrame:
    """``fetch_stage`` with EXECUTOR-DIRECT parquet writes: each task
    writes its partition's FETCHED rows straight from the Arrow batches
    to ``stage_dir/part-{pid:05d}.parquet`` (pyarrow C++ writer) and only
    a (partition, rows) stats row crosses back to the JVM.

    Why: through ``mapInArrow`` -> ``df.write.parquet`` the round's
    largest bytes (spans + links, ~1 KB/URL) pay Arrow IPC to the JVM,
    per-row InternalRow conversion of the nested span structs, and a
    second columnar encode in the JVM parquet writer — measured as the
    Python workers spending 2-4x their compute time BLOCKED on the JVM
    consumer (BENCH/BASELINE.md fetch decomposition). Writing the
    already-columnar batches from the worker removes every one of those
    passes; the JVM never touches the payload bytes. At cluster scale
    this is the standard direct-write pattern (task writes its own data
    file, the commit adopts files by name — Iceberg's write path); task
    RETRIES are safe because a re-attempt rewrites the same
    deterministic file name with identical content, and local mode never
    runs two attempts concurrently. A cluster deployment with
    speculative execution would stage per-attempt names + rename-on-
    commit (noted, not needed in local mode).

    Layout parity: rows are sorted whole-partition on the same keys as
    the JVM path's ``sortWithinPartitions`` and cast to the exact Arrow
    schema Spark's writer would produce, so the committed table is
    content- AND layout-identical (tests/test_direct_write.py pins the
    content digest against ``fetch_stage`` + ``df.write``).

    ``round_outputs`` makes the same pass write a crawl round's bloom
    increment and outlinks (``RoundOutputs``), so the round runs no
    further Python stage over the fetched rows.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    import pyarrow as pa

    # nullability-erased target: the assembled batches carry nullable
    # children (Arrow kernels default to nullable) and read-back enforces
    # the declared Spark schema regardless — parquet bytes only need the
    # right physical types
    arrow_schema = nullable_arrow_schema(to_arrow_schema(FETCHED))

    def run_partition(batches):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        out = []
        rows = 0
        for rb in _fetched_batches(batches, transport_factory, cfg, round_no):
            out.append(rb)
            rows += rb.num_rows
        if rows:
            tbl = pa.Table.from_batches(out, schema=out[0].schema)
            tbl = tbl.take(pc.sort_indices(tbl, sort_keys=_SORT_KEYS))
            tbl = tbl.cast(arrow_schema).combine_chunks()
            write_atomic(
                os.path.join(stage_dir, f"part-{pid:05d}.parquet"),
                lambda tmp: pq.write_table(tbl, tmp, compression="snappy"),
            )
            if round_outputs is not None:
                _write_round_outputs(tbl, cfg, round_outputs, stage_dir, pid)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([pid], type=pa.int32()),
                pa.array([rows], type=pa.int32()),
            ],
            names=["part", "rows"],
        )

    return _by_host_sub_bucket(admitted, cfg).mapInArrow(run_partition, FETCH_STATS)
