"""The codec abstraction, re-expressed for DataFrames.

The reference's `JsonCodec` trait (/root/reference/src/codec.rs:21-33) is
stateful: encode() fills a Vec, flush() writes it, load() refills it.  The
Spark-first equivalent is stateless -- every method is a pure DataFrame
transformation and the "state" is the DataFrame itself:

  encode : raw-line DataFrame (column `doc` string) -> representation DF
  decode : representation DF -> canonical JSON text DF (column `doc`)
  flush  : representation DF -> Parquet (ZSTD), partitioned by Spark
  load   : Parquet -> representation DF, read with the format's declared
           ``schema`` (no schema-inference job); a directory whose files
           lack a declared column raises ValueError

Deliberate departures from the reference, for scale:
- flush writes one file per partition and lets Parquet manage row groups;
  the reference's single-RecordBatch/single-row-group layout
  (plain_json.rs:43 etc.) caps a dataset at one writer thread and one
  reader thread -- an anti-pattern at 100 TB (SURVEY.md section 4).
- encode is pure (the reference's plain_json::encode appends to previous
  state across calls, plain_json.rs:22-26 -- a bench-loop bug we do not
  reproduce).
"""

from __future__ import annotations

import abc

from pyspark.sql import DataFrame, SparkSession

DOC_COL = "doc"

# ZSTD compression level for the format-family flush path (parquet-java's
# parquet.compression.codec.zstd.level; parquet-java's default is 3).
# Measured on the 100k-row ndv=0.1 corpus (results/bench_notes.md): level 9
# shrinks plain/jsonc parquet ~5% at no measurable flush-time cost on this
# box; level 19 shrinks ~15% at ~2.4x flush time.  Level 9 is the better
# Pareto point for write-once-read-many analytics corpora (decompression
# speed is level-independent in zstd), so it is THIS ENGINE'S default --
# a deliberate divergence from the reference writer, which compresses at
# parquet-rs ZstdLevel::default() = level 1 (plain_json.rs:38 etc.;
# arrow-rs basic.rs `impl Default for ZstdLevel`).  Cross-framework size
# comparisons against BASELINE.md therefore use REF_ZSTD_LEVEL so the
# ratio measures format representation, not a writer knob; the level-9
# numbers are reported as a separate tuned arm (results/bench_notes.md).
ZSTD_LEVEL = 9
REF_ZSTD_LEVEL = 1  # parquet-rs ZstdLevel::default(), the reference's level
# Storage-measurement page size: one zstd frame per data page, so bigger
# pages = more compression context (see JsonFormatBase.flush docstring).
PAGE_SIZE = 4 * 1024 * 1024


class JsonFormatBase(abc.ABC):
    """One JSON physical representation with a full encode/decode/flush/load
    cycle (O2-O17 in SURVEY.md section 2.1)."""

    name: str = "base"
    # DDL of the frame ``encode`` returns and ``flush`` writes; ``load``
    # reads the Parquet back with it.
    schema: str

    @abc.abstractmethod
    def encode(self, raw: DataFrame) -> DataFrame:
        """Raw NDJSON lines (column ``doc`` string) -> representation."""

    @abc.abstractmethod
    def decode(self, encoded: DataFrame) -> DataFrame:
        """Representation -> JSON text (column ``doc`` string).

        Canonicalization (key order, float formatting) may differ from the
        input byte-for-byte, as it does between the reference's serde/jsonb
        paths; round-trip tests compare re-parsed semantics.
        """

    def flush(
        self,
        encoded: DataFrame,
        path: str,
        zstd_level: int = ZSTD_LEVEL,
        page_size: int | None = None,
    ) -> None:
        """Write the representation to Parquet with the ZSTD codec (the
        reference's codec choice, plain_json.rs:37-44) at ``zstd_level``
        (default: this engine's tuned level; pass REF_ZSTD_LEVEL for the
        reference-matched arm).  The level travels as a per-write
        DataFrameWriter option -- Spark folds write options into that
        write's Hadoop conf snapshot -- so concurrent flushes on one
        session cannot race a JVM-global setting, and nothing here touches
        the private _jsc (Spark Connect safe).

        ``page_size`` optionally raises parquet.page.size for this write:
        zstd compresses each data page independently, so parquet-java's
        default ~20k-value page splits cut the compression context on
        string-heavy columns; PAGE_SIZE (4 MiB) pages measured -4.4% on
        the jsonc headline grid cell and -13.8% on plain_json, never worse
        (results/bench_notes.md round 10).  The storage-measurement path
        (metrics.py) passes it; the default None keeps query-path writes
        byte-stable."""
        w = (
            encoded.write.mode("overwrite")
            .option("compression", "zstd")
            .option("parquet.compression.codec.zstd.level", str(int(zstd_level)))
        )
        if page_size is not None:
            w = w.option("parquet.page.size", str(int(page_size)))
        w.parquet(path)

    def load(self, spark: SparkSession, path: str) -> DataFrame:
        """Read the representation back with the declared ``schema``, the
        DDL ``encode`` produces and ``flush`` writes (the reference's load
        reads each format by its one fixed schema, too).

        A declared schema spares Spark its schema-inference job, one
        footer-reading task per read.  But Spark reads a declared column
        that the files lack as all-null, so one footer is checked on the
        driver: ValueError if the directory holds no Parquet files, or if
        a file lacks a declared top-level column (e.g. a plain_json
        directory loaded as jsonb).  The check reads the footer through
        the JVM gateway (parquet-java's ParquetFileReader), so it needs a
        classic, not a Spark Connect, session.  On a 4-vCPU VM a jsonc
        load took ~25 ms with the check against ~75 ms with the inference
        job (results/bench_notes.md)."""
        df = spark.read.schema(self.schema).parquet(path)
        files = df.inputFiles()
        if not files:
            raise ValueError(f"{self.name}: no Parquet files under {path}")
        jvm = spark._jvm
        footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            spark._jsc.hadoopConfiguration(), jvm.org.apache.hadoop.fs.Path(files[0])
        )
        file_schema = footer.getFileMetaData().getSchema()
        missing = [c for c in df.columns if not file_schema.containsField(c)]
        if missing:
            raise ValueError(
                f"{self.name}: {files[0]} lacks declared column(s) {missing} "
                f"of schema {self.schema!r}"
            )
        return df
