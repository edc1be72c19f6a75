"""jsonb: the document parsed once into a self-describing binary form.

Reference: /root/reference/src/format/jsonb.rs (datafuselabs JSONB binary).
Spark 4's ``VariantType`` is the idiomatic equivalent: ``parse_json`` builds
the binary document once; ``variant_get`` then navigates it without
re-parsing (the pre-parsed query arm of benches/query.rs:7-21), and the
Parquet writer stores it as the Variant logical type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..runtime import scoped_conf
from .base import DOC_COL, JsonFormatBase

VARIANT_COL = "v"


class JsonbVariantFormat(JsonFormatBase):
    name = "jsonb"
    schema = f"{VARIANT_COL} variant"

    # The reference's jsonb (src/format/jsonb.rs) is a PURE binary document
    # -- one opaque column, no typed subcolumns.  Spark 4.1 shreds variant
    # writes BY DEFAULT (writeShredding.enabled=true), which would silently
    # turn this format into jsonb_shredded; force the unshredded layout so
    # the storage grid compares the same two layouts the reference does.
    _WRITE_CONFS = {"spark.sql.variant.writeShredding.enabled": "false"}

    def encode(self, raw: DataFrame) -> DataFrame:
        return raw.select(F.parse_json(F.col(DOC_COL)).alias(VARIANT_COL))

    def decode(self, encoded: DataFrame) -> DataFrame:
        return encoded.select(F.to_json(F.col(VARIANT_COL)).alias(DOC_COL))

    @staticmethod
    def get_path(encoded: DataFrame, path: str, dtype: str = "string") -> DataFrame:
        """Path extraction on the pre-parsed binary document (O19)."""
        return encoded.select(
            F.variant_get(F.col(VARIANT_COL), path, dtype).alias("value")
        )

    def flush(self, encoded: DataFrame, path: str, **kwargs) -> None:
        with scoped_conf(encoded.sparkSession, self._WRITE_CONFS):
            super().flush(encoded, path, **kwargs)


class JsonbShreddedVariantFormat(JsonbVariantFormat):
    """jsonb with NATIVE Parquet variant shredding at the storage layer.

    Same logical representation as ``jsonb`` (VariantType column), but the
    Parquet writer is allowed to shred it: Spark 4.1's
    ``spark.sql.variant.writeShredding.enabled`` +
    ``spark.sql.variant.inferShreddingSchema`` store common typed paths as
    real Parquet columns (typed_value) alongside the binary residual --
    the Parquet Variant shredding spec, i.e. the reference's `variant`
    format (src/format/variant.rs) realized INSIDE the file format rather
    than as user-visible struct columns like ``VariantShredFormat``.
    Readers prune to the shredded subcolumns via
    ``spark.sql.variant.pushVariantIntoScan``; a query touching one path
    reads one column chunk, not the whole document.

    The WRITE confs are scoped to the flush call and restored (flush
    executes eagerly, so scoping holds).  The read side deliberately has
    NO conf scoping: ``load`` returns a LAZY frame that executes long
    after any scope would have been restored, so a build-time
    set/restore would be dead code -- the reader relies on the session
    defaults (``allowReadingShredded`` and ``pushVariantIntoScan`` both
    default true in 4.1.2), and reading with the declared ``v variant``
    schema reconstructs the variant column so decode() sees the same logical
    shape as ``jsonb``."""

    name = "jsonb_shredded"

    _WRITE_CONFS = {
        "spark.sql.variant.writeShredding.enabled": "true",
        "spark.sql.variant.inferShreddingSchema": "true",
    }
