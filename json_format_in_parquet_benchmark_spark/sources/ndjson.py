"""NDJSON source (O1, /root/reference/src/codec.rs:8-19).

The reference reads a file into a vector of per-line byte strings.  The
Spark equivalent is a distributed file scan:

- :func:`read_ndjson_raw`    -- ``spark.read.text``: one row per line, raw
  bytes preserved (feeds the format codecs, exactly the reference's read()).

At 100 TB it splits by HDFS/S3 block, so a single huge NDJSON file still
parallelizes across executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..formats.base import DOC_COL


def read_ndjson_raw(spark: SparkSession, path: str) -> DataFrame:
    """One row per NDJSON line, unparsed, in a column named ``doc``;
    blank lines dropped (files may end with a trailing newline)."""
    return (
        spark.read.text(path)
        .select(F.col("value").alias(DOC_COL))
        .where(F.length(DOC_COL) > 0)
    )
