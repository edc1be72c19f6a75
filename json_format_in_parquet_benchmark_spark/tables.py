"""Testdata table access.

The driver generates a TPC-H-ish star schema plus ``events`` (JSON ``props``
column), ``documents`` (text corpus) and ``embeddings`` (64-dim float vectors)
at /root/testdata/sf{0.001,0.01,0.1} -- see TESTDATA.md.  All readers go
through ``spark.read.parquet`` so Catalyst gets column pruning and predicate
pushdown for free (the reference's hand-written Parquet load,
/root/reference/src/format/jsonb.rs:60-73, reads one whole row group; Spark's
vectorized reader replaces all of that).

Reading sets no session conf: the ``events.ts`` handling assumes
``runtime.SESSION_PINS`` (UTC, ``nanosAsLong``), which ``session.get_spark``
and ``runtime.query_scope`` set.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
SMOKE_SF_DIR = "/root/testdata/sf0.001"
CORRECTNESS_SF_DIR = "/root/testdata/sf0.01"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    df = spark.read.parquet(table_path(sf_dir, name))
    ts_type = dict(df.dtypes).get("ts")
    if name == "events" and ts_type == "bigint":
        # TIMESTAMP(NANOS) read via nanosAsLong; floor-div to micros matches
        # DuckDB's own nanos->micros truncation, so both engines see the
        # identical microsecond timeline.
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif name == "events" and ts_type == "timestamp_ntz":
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as TIMESTAMP_NTZ.
        # With the session timezone pinned to UTC, the NTZ->LTZ cast
        # preserves the wall-clock (== epoch) micros, and downstream code
        # (unix_micros, watermarks, window()) uniformly sees TIMESTAMP.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
