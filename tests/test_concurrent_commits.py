"""Commit isolation: concurrent appends to ONE table must all land (no
lost update), merge must detect a base-snapshot conflict instead of
silently resurrecting rows, and a dead holder's commit lock is
reclaimed (the resume path after kill -9 mid-commit)."""

from __future__ import annotations

import fcntl
import os
import signal
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from swmaestro_crawler_spark.catalog import Catalog, CommitConflict

SCHEMA = StructType(
    [
        StructField("k", LongType(), False),
        StructField("v", LongType(), False),
    ]
)

WRITERS = 6
APPENDS_EACH = 3
ROWS_EACH = 50


def _append_df(spark, cat, base, meta):
    df = spark.range(base, base + ROWS_EACH).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    cat.append("t", df, meta=meta)


def _append_rows(spark, cat, base, meta):
    rows = [(k, k * 10) for k in range(base, base + ROWS_EACH)]
    cat.append_rows("t", rows, SCHEMA, meta=meta)


def _race_appends(spark, tmp_path, append):
    cat = Catalog(spark, str(tmp_path / "wh"))

    def writer(w: int):
        for a in range(APPENDS_EACH):
            base = (w * APPENDS_EACH + a) * ROWS_EACH
            append(spark, cat, base, {"writer": w, "seq": a})

    with ThreadPoolExecutor(WRITERS) as ex:
        list(ex.map(writer, range(WRITERS)))

    n_commits = WRITERS * APPENDS_EACH
    assert cat.current_snapshot("t") == n_commits - 1  # ids 0..n-1, none lost
    rows = cat.read("t", SCHEMA).collect()
    assert len(rows) == n_commits * ROWS_EACH
    ks = sorted(r.k for r in rows)
    assert ks == list(range(n_commits * ROWS_EACH))  # nothing lost, nothing doubled
    # snapshot chain is strictly cumulative: every id present exactly once
    m = cat._load_manifest("t")
    assert sorted(s["id"] for s in m["snapshots"]) == list(range(n_commits))
    sizes = [len(s["files"]) for s in sorted(m["snapshots"], key=lambda s: s["id"])]
    assert sizes == sorted(sizes)  # each commit rebases on the previous


def test_concurrent_appends_all_land(spark, tmp_path):
    _race_appends(spark, tmp_path, _append_df)


def test_concurrent_append_rows_all_land(spark, tmp_path):
    """The same race through append_rows (driver-side pyarrow writes),
    which shares append's commit path and must rebase the same way."""
    _race_appends(spark, tmp_path, _append_rows)


def test_merge_conflict_raises(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(100).select(F.col("id").alias("k"), F.col("id").alias("v"))
    cat.append("t", df.repartitionByRange(4, "k"), stat_cols=["k"])

    # interleave a commit between merge's plan and its publish by racing a
    # slow merge against a fast append via the lock: simplest determinate
    # construction is to monkeypatch _write_files to commit an append first
    orig = cat._write_files
    fired = {"done": False}

    def hijack(table, d):
        if not fired["done"]:
            fired["done"] = True
            cat._write_files = orig  # the inner append writes normally
            cat.append("t", spark.range(1000, 1010).select(
                F.col("id").alias("k"), F.col("id").alias("v")))
        return orig(table, d)

    cat._write_files = hijack
    upd = spark.range(10).select(F.col("k" if False else "id").alias("k"),
                                 (F.col("id") + 5000).alias("v"))
    with pytest.raises(CommitConflict):
        cat.merge("t", SCHEMA, upd, key="k", stat_cols=["k"])
    # the interleaved append is intact; the failed merge published nothing
    assert cat.read("t", SCHEMA).count() == 110
    assert cat.snapshot_meta("t", cat.current_snapshot("t")).get("op") != "merge"


def test_dead_holder_lock_is_reclaimed(spark, tmp_path):
    """A holder SIGKILLed while it holds the commit lock does not block
    the next commit: the kernel drops its flock."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    lock = cat._dir("t")  # the lock is a flock on the table directory
    os.makedirs(lock, exist_ok=True)
    holder = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import fcntl, os, sys, time\n"
            "fcntl.flock(os.open(sys.argv[1], os.O_RDONLY), fcntl.LOCK_EX)\n"
            "print('locked', flush=True)\n"
            "time.sleep(600)\n",
            lock,
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "locked"
        fd = os.open(lock, os.O_RDONLY)
        try:
            with pytest.raises(BlockingIOError):  # really held
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        finally:
            os.close(fd)
    finally:
        holder.send_signal(signal.SIGKILL)
        holder.wait(timeout=30)
    df = spark.range(5).select(F.col("id").alias("k"), F.col("id").alias("v"))
    cat.append("t", df)
    assert cat.read("t", SCHEMA).count() == 5
