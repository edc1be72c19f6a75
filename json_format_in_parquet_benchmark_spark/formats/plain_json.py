"""plain_json: the document kept as a raw UTF-8 string column.

Reference: /root/reference/src/format/plain_json.rs (encode keeps the string,
flush writes a single Utf8 column).  Querying this representation re-parses
per row (``get_json_object``) -- the slow-to-query arm of the benchmark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .base import DOC_COL, JsonFormatBase


class PlainJsonFormat(JsonFormatBase):
    name = "plain_json"
    schema = f"{DOC_COL} string"

    def encode(self, raw: DataFrame) -> DataFrame:
        # UTF-8 validation happened at read time (spark.read.text); identity.
        return raw.select(F.col(DOC_COL).cast("string").alias(DOC_COL))

    def decode(self, encoded: DataFrame) -> DataFrame:
        return encoded.select(F.col(DOC_COL))
