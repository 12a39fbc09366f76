"""Readers for the driver-provided parquet test tables (TESTDATA.md).

Explicit-schema'd loads so every query plan starts from a pruned,
pushdown-friendly parquet scan (the reference's analogue is frontier
SELECTs with pushed predicates, sendToRabbitMQ.py:29-41).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(name)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
