"""variant: schema-shredded typed columns (Doris-Variant-style).

Reference: /root/reference/src/format/variant.rs -- fields are extracted by
path at flush time into a hard-coded typed schema (name/timestamp/
attributes.event_attributes, variant.rs:22-52,95-97), and load is
``unimplemented!()`` (variant.rs:130-132).

Spark-first: ``from_json`` with a declared schema IS shredding -- Catalyst
plans the field extraction, the Parquet writer lays out real typed columns,
and nested-schema pruning + predicate pushdown then work on them.  Load reads
the Parquet back with the same DDL (we implement the arm the reference left
out).
The default schema is the reference's events schema; any DDL string works.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .base import DOC_COL, JsonFormatBase

# The reference's hard-coded shredded schema (variant.rs:22-48).
EVENTS_SHRED_DDL = (
    "name string, timestamp string, attributes struct<event_attributes: double>"
)


class VariantShredFormat(JsonFormatBase):
    name = "variant"

    def __init__(self, ddl: str = EVENTS_SHRED_DDL):
        self.schema = ddl

    def encode(self, raw: DataFrame) -> DataFrame:
        return raw.select(F.from_json(F.col(DOC_COL), self.schema).alias("s")).select("s.*")

    def decode(self, encoded: DataFrame) -> DataFrame:
        return encoded.select(F.to_json(F.struct(*encoded.columns)).alias(DOC_COL))

