"""Format-cycle queries: the reference's encode -> flush -> load -> decode
lifecycle (O1-O18) exercised end-to-end through real Parquet ZSTD files, plus
the NDJSON scan and the storage-metrics table.

Each round-trip query pushes the events JSON corpus through one physical
representation, THROUGH PARQUET ON DISK, decodes it back and aggregates the
canonical text -- so a hash match with the oracle proves the entire cycle is
lossless, not just the in-memory transform.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, DataFrameReader, DataFrameWriter, SparkSession
from pyspark.sql import functions as F

from ..formats import get_format
from ..formats.base import DOC_COL
from ..runtime import corpus_path, scratch_dir
from ..sources.ndjson import read_ndjson_raw
from ..tables import load_table
from .registry import register

REFERENCE_LOGS = corpus_path("logs.json")


def _events_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(F.col("props").alias(DOC_COL))


def _roundtrip_canon(spark: SparkSession, sf_dir: str, fmt_name: str) -> DataFrame:
    fmt = get_format(fmt_name) if fmt_name != "variant" else None
    if fmt is None:
        from ..formats.variant_shred import VariantShredFormat

        fmt = VariantShredFormat("k bigint")
    docs = _events_docs(spark, sf_dir)
    path = scratch_dir(sf_dir, fmt_name)
    fmt.flush(fmt.encode(docs), path)
    decoded = fmt.decode(fmt.load(spark, path))
    return decoded.groupBy(F.col(DOC_COL).alias("canon")).agg(
        F.count(F.lit(1)).alias("n")
    )


_CANON_ORACLE = """
SELECT json(props)::VARCHAR AS canon, COUNT(*) AS n
FROM events
GROUP BY 1
"""


@register(
    "scan_ndjson",
    oracle=f"""
WITH lines AS (
  SELECT unnest(string_split(content, chr(10))) AS doc
  FROM read_text('{REFERENCE_LOGS}')
)
SELECT COUNT(*) AS n_lines,
       bit_xor(('0x' || substr(md5(doc), 1, 15))::BIGINT) AS line_checksum,
       CAST(SUM(length(doc)) AS BIGINT) AS total_chars
FROM lines WHERE length(doc) > 0
""",
    doc="O1: raw NDJSON scan of the reference logs corpus or its in-repo "
    "stand-in (codec.rs:8-19) -- line count + order-insensitive checksum "
    "proves byte-faithful line reading.",
    tags=("source", "ndjson"),
    inputs=(REFERENCE_LOGS,),
)
def scan_ndjson(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = read_ndjson_raw(spark, REFERENCE_LOGS)
    return raw.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.expr("bit_xor(cast(conv(substr(md5(doc),1,15),16,10) as bigint))").alias(
            "line_checksum"
        ),
        F.sum(F.length(DOC_COL)).cast("bigint").alias("total_chars"),
    )


@register(
    "format_roundtrip_jsonb",
    oracle=_CANON_ORACLE,
    doc="O3/O7/O11/O15: parse_json -> VariantType -> Parquet ZSTD -> load -> "
    "to_json; canonical-text histogram proves the binary cycle lossless.",
    tags=("format", "roundtrip", "variant"),
)
def format_roundtrip_jsonb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip_canon(spark, sf_dir, "jsonb")


@register(
    "format_roundtrip_jsonc",
    oracle=_CANON_ORACLE,
    doc="O4/O8/O12/O16: columnar tape (nodes/strings/numbers pools, Arrow-"
    "batched pandas UDF) -> Parquet ZSTD -> load -> decode.",
    tags=("format", "roundtrip", "tape"),
)
def format_roundtrip_jsonc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip_canon(spark, sf_dir, "jsonc")


@register(
    "format_roundtrip_variant_shred",
    oracle=_CANON_ORACLE,
    doc="O5/O9/O13/O17: declared-schema shredding (from_json -> typed "
    "columns) -> Parquet ZSTD -> load -> to_json, including the load arm "
    "the reference leaves unimplemented (variant.rs:130-132).",
    tags=("format", "roundtrip", "shred"),
)
def format_roundtrip_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip_canon(spark, sf_dir, "variant")


@register(
    "format_roundtrip_jsonb_shredded",
    oracle=_CANON_ORACLE,
    doc="Beyond-reference format: VariantType written with NATIVE Parquet "
    "variant shredding (Spark 4.1 writeShredding + inferShreddingSchema; "
    "typed_value subcolumns + binary residual per the Parquet Variant "
    "spec) -> load -> to_json.  The reference's `variant` format's "
    "storage layout realized inside the file format, no declared schema.",
    tags=("format", "roundtrip", "variant", "shred"),
)
def format_roundtrip_jsonb_shredded(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip_canon(spark, sf_dir, "jsonb_shredded")


_STORAGE_METRICS_ORACLE = """
-- compresses / smallest_is_shredded are INTENTIONAL empirical pins
-- (ADVICE r9): writer-version- and corpus-dependent facts, verified
-- TRUE on every current corpus at the current parquet-java writer.  If
-- a Spark/parquet upgrade flips one, the driver failure means the
-- MEASUREMENT shifted, not that the engine regressed -- re-measure and
-- re-pin rather than hunting a plan bug.
WITH s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS num_of_lines,
         CAST(SUM(length(props)) + COUNT(*) AS BIGINT) AS original
  FROM events
)
SELECT f.format, s.num_of_lines, s.original,
       TRUE AS compresses, TRUE AS smallest_is_shredded
FROM s, (VALUES ('plain_json'), ('jsonb'), ('jsonc'), ('variant'),
                ('jsonb_shredded')) AS f(format)
"""


@register(
    "format_storage_metrics",
    oracle=_STORAGE_METRICS_ORACLE,
    doc="O23: the storage-metrics sweep (the reference's headline result "
    "table, scripts/benchmark_results.csv) run as a DRIVER-CHECKABLE "
    "invariant: per format, the exact line count and original NDJSON "
    "byte count (chars + newlines -- both oracle-computable from the "
    "events table), plus the reproducible findings as booleans: every "
    "format's Parquet lands strictly inside (0, original), and the "
    "typed shredded layout ('variant') writes the SMALLEST file of all "
    "five -- the reference's core storage result.  Raw per-format byte "
    "sizes are writer-version-dependent and live in bench_full.json / "
    "results/storage_results.csv (at REF_ZSTD_LEVEL for the "
    "cross-framework comparison); only the portable facts are hashed.  "
    "NOTE the tape ordering is corpus-dependent: on the tiny events "
    "slices jsonc is the LARGEST (string/number pools don't amortize "
    "below ~100k rows), unlike the 8192-row reference grid where it "
    "beats jsonb -- so only shredded-smallest is pinned.",
    tags=("format", "metrics"),
)
def format_storage_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..metrics import measure_all_formats

    docs = _events_docs(spark, sf_dir)
    out = scratch_dir(sf_dir, "storage_metrics")
    metrics = measure_all_formats(spark, docs, out, shred_ddl="k bigint")
    smallest = min(m.parquet_file_size for m in metrics)
    shredded = next(m for m in metrics if m.format == "variant")
    rows = [
        (
            m.format,
            m.num_of_lines,
            m.original,
            0 < m.parquet_file_size < m.original,
            shredded.parquet_file_size == smallest,
        )
        for m in metrics
    ]
    return spark.createDataFrame(
        rows,
        "format string, num_of_lines bigint, original bigint,"
        " compresses boolean, smallest_is_shredded boolean",
    )


@register(
    "scan_schema_evolution",
    oracle="""
WITH v1 AS (
  SELECT event_id, user_id, CAST(NULL AS DOUBLE) AS value
  FROM events WHERE event_id % 2 = 0
), v2 AS (
  SELECT event_id, user_id, CAST(value AS DOUBLE) AS value
  FROM events WHERE event_id % 2 = 1
), merged AS (
  SELECT * FROM v1 UNION ALL SELECT * FROM v2
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       COUNT(*) AS n_rows,
       COUNT(value) AS n_with_value,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM merged
GROUP BY 1
""",
    doc="Schema-evolution scan: two parquet snapshots of the same table -- "
    "an old one WITHOUT the `value` column and a new one with it -- read "
    "as one dataset via mergeSchema; rows from the old snapshot surface "
    "NULL for the added column (additive evolution, the only kind a "
    "100 TB lake does in place -- no rewrite of old files).  The oracle "
    "reconstructs the same union from the original table, so a wrong "
    "merge (dropped column, misaligned rows) fails the value check.",
    tags=("source", "schema-evolution"),
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    root = scratch_dir(sf_dir, "schema_evo")
    # Snapshot v1: written before the `value` column existed.
    events.where(F.expr("event_id % 2 = 0")).select(
        "event_id", "user_id"
    ).write.mode("overwrite").parquet(os.path.join(root, "v1"))
    # Snapshot v2: the evolved schema adds `value`.
    events.where(F.expr("event_id % 2 = 1")).select(
        "event_id", "user_id", F.col("value").cast("double").alias("value")
    ).write.mode("overwrite").parquet(os.path.join(root, "v2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "v1"), os.path.join(root, "v2")
    )
    return merged.groupBy(F.col("user_id").cast("bigint").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_with_value"),
        F.expr("cast(sum(cast(value as decimal(18,2))) as double)").alias(
            "total_value"
        ),
    )


_ALT_SOURCE_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       CAST(SUM(epoch_us(ts) % 1000000) AS BIGINT) AS us_checksum
FROM events
GROUP BY event_type
"""
_ALT_SOURCE_SCHEMA = "event_id long, us long, event_type string, value double"


def _alt_source_roundtrip(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    write: Callable[[DataFrameWriter, str], None],
    read: Callable[[DataFrameReader, str], DataFrame],
) -> DataFrame:
    """The events slice (timestamps as integer micros) staged at
    ``scratch_dir(sf_dir, name)`` by ``write``, read back by ``read`` and
    aggregated as :data:`_ALT_SOURCE_ORACLE` does."""
    out = scratch_dir(sf_dir, name)
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.expr("unix_micros(ts)").alias("us"),
        "event_type",
        "value",
    )
    write(events.write.mode("overwrite"), out)
    back = read(spark.read, out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(
            "cast(sum(cast(value as decimal(18,2))) as double)"
        ).alias("total_value"),
        F.sum(F.expr("us % 1000000")).cast("bigint").alias("us_checksum"),
    )


@register(
    "scan_csv_events",
    oracle=_ALT_SOURCE_ORACLE,
    doc="CSV source roundtrip: events exported to headered CSV (timestamps "
    "as integer micros -- the lossless way through a text format) and "
    "read back with an EXPLICIT schema, then aggregated.  The oracle "
    "runs on the original Parquet, so the whole text cycle -- quoting, "
    "typed re-parse, micros arithmetic -- must be lossless.  Explicit "
    "schemas matter doubly at scale: schema inference would scan the "
    "data twice, and CSV carries no types of its own.",
    tags=("source", "csv", "roundtrip"),
)
def scan_csv_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _alt_source_roundtrip(
        spark, sf_dir, "events_csv",
        lambda w, path: w.option("header", True).csv(path),
        lambda r, path: r.schema(_ALT_SOURCE_SCHEMA).option("header", True).csv(path),
    )


@register(
    "scan_orc_events",
    oracle=_ALT_SOURCE_ORACLE,
    doc="ORC source roundtrip: the same events slice through the ORC "
    "columnar format (types survive natively; predicate pushdown and "
    "column pruning work as with Parquet).  Demonstrates the engine is "
    "source-format-agnostic -- the plan downstream of the scan node is "
    "identical to the Parquet one.",
    tags=("source", "orc", "roundtrip"),
)
def scan_orc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _alt_source_roundtrip(
        spark, sf_dir, "events_orc",
        lambda w, path: w.orc(path),
        lambda r, path: r.orc(path),
    )


@register(
    "scan_xml_events",
    oracle=_ALT_SOURCE_ORACLE,
    doc="XML source roundtrip (Spark 4 built-in XML data source): the same "
    "events slice written as row-tagged XML and read back with an "
    "EXPLICIT schema -- the third text-format cycle next to CSV and "
    "NDJSON, timestamps carried as integer micros so the text hop is "
    "lossless.  XML is the interchange format enterprise feeds still "
    "arrive in; the point is the scan node is swappable while the "
    "downstream plan stays identical.",
    tags=("source", "xml", "roundtrip"),
)
def scan_xml_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _alt_source_roundtrip(
        spark, sf_dir, "events_xml",
        lambda w, path: w.option("rootTag", "events")
        .option("rowTag", "event").format("xml").save(path),
        lambda r, path: r.schema(_ALT_SOURCE_SCHEMA)
        .option("rowTag", "event").format("xml").load(path),
    )


CORRUPT_MOD = 20  # every 20th staged line is deliberately malformed


@register(
    "scan_ndjson_corrupt",
    oracle=f"""
WITH staged AS (
  SELECT CASE WHEN event_id % {CORRUPT_MOD} = 0
              THEN '{{"k": ' || CAST(event_id AS VARCHAR)
              ELSE props END AS line,
         event_id % {CORRUPT_MOD} = 0 AS is_corrupt,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN is_corrupt THEN 1 ELSE 0 END) AS BIGINT)
         AS n_corrupt,
       CAST(SUM(CASE WHEN is_corrupt THEN 0 ELSE k END) AS BIGINT)
         AS k_checksum,
       bit_xor(CASE WHEN is_corrupt
                    THEN ('0x' || substr(md5(line), 1, 15))::BIGINT
                    ELSE 0 END) AS corrupt_checksum
FROM staged
""",
    doc="Malformed-record tolerance (PERMISSIVE source mode): an NDJSON "
    "corpus with a deterministic 5% of truncated lines is read back "
    "with an explicit schema + _corrupt_record column -- valid rows "
    "parse, bad rows land intact in the corrupt column instead of "
    "failing the job, and the checksums pin BOTH populations exactly.  "
    "At 100 TB this is non-negotiable: a petabyte crawl always contains "
    "garbage, and FAILFAST would turn one bad line into a dead "
    "pipeline.  The corrupt-line md5 XOR proves byte-faithful capture, "
    "not just counting.",
    tags=("source", "ndjson", "corrupt", "robustness"),
)
def scan_ndjson_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir(sf_dir, "events_ndjson_dirty")
    events = load_table(spark, sf_dir, "events")
    staged = events.select(
        F.expr(
            f"case when event_id % {CORRUPT_MOD} = 0"
            " then concat('{\"k\": ', cast(event_id as string))"
            " else props end"
        ).alias("value")
    )
    staged.write.mode("overwrite").text(out)
    back = (
        spark.read.schema("k long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)
        ).cast("bigint").alias("n_corrupt"),
        F.sum(
            F.when(F.col("_corrupt_record").isNotNull(), 0).otherwise(
                F.col("k")
            )
        ).cast("bigint").alias("k_checksum"),
        F.expr(
            "bit_xor(case when _corrupt_record is not null"
            " then cast(conv(substr(md5(_corrupt_record), 1, 15), 16, 10)"
            " as bigint) else 0 end)"
        ).alias("corrupt_checksum"),
    )


@register(
    "format_scan_shredded_pushdown",
    oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY 1
""",
    doc="Path query SERVED FROM the natively-shredded storage layout: the "
    "events documents are flushed as jsonb_shredded (typed_value "
    "subcolumns in the Parquet footer), then variant_get('$.k') runs "
    "over the on-disk file with pushVariantIntoScan -- Catalyst "
    "rewrites the scan to read ONLY the one shredded subcolumn "
    "(ReadSchema struct<v:struct<0:...>>, pinned in "
    "tests/test_formats.py; 4.7x read-byte reduction measured at 2M "
    "rows, results/bench_notes.md).  The oracle re-derives the same "
    "aggregate from the raw documents, so the value check covers the "
    "shredded write, the pruned scan AND the typed path extraction.",
    tags=("format", "variant", "shred", "pushdown"),
)
def format_scan_shredded_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    fmt = get_format("jsonb_shredded")
    docs = _events_docs(spark, sf_dir)
    path = scratch_dir(sf_dir, "jsonb_shredded_scan")
    fmt.flush(fmt.encode(docs), path)
    loaded = fmt.load(spark, path)
    return (
        loaded.select(
            F.expr("variant_get(v, '$.k', 'bigint')").alias("k")
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


# Footer-stats manifest: (table, numeric column) pairs whose parquet
# column-chunk statistics the manifest job reads.  Columns with possible
# +/-0.0 values (l_discount, l_tax, c_acctbal) are deliberately excluded:
# IEEE -0.0 == 0.0 makes the min/max REPRESENTATION engine-dependent.
_FOOTER_TARGETS = (
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_quantity"),
    ("lineitem", "l_extendedprice"),
    ("orders", "o_orderkey"),
    ("orders", "o_totalprice"),
    ("events", "event_id"),
    ("events", "user_id"),
    ("events", "value"),
    ("part", "p_size"),
    ("part", "p_retailprice"),
)


@register(
    "scan_footer_stats_manifest",
    oracle="\nUNION ALL\n".join(
        f"""SELECT '{t}' AS tbl, '{c}' AS col,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN({c}) AS DOUBLE) AS min_v,
       CAST(MAX({c}) AS DOUBLE) AS max_v
FROM {t}"""
        for t, c in _FOOTER_TARGETS
    ),
    doc="Distributed parquet FOOTER scan building a data-skipping "
    "manifest: one task per file opens ONLY the footer (seek + tail "
    "read, zero data pages) and emits per-column row count and min/max "
    "from the column-chunk statistics, folded across row groups.  The "
    "DuckDB oracle recomputes the same stats from the DATA, so a hash "
    "match proves the footer-claimed bounds equal the true bounds -- "
    "the exact invariant every data-skipping index, file-pruning "
    "predicate, and Iceberg/Delta-style manifest relies on.  At 100 TB "
    "this is the manifest-build job that runs in minutes while a full "
    "scan takes hours: cost is O(files), not O(bytes), and the task "
    "list parallelizes footer reads across the cluster (here via an "
    "Arrow mapInPandas over the file list -- no data ever leaves the "
    "executor).  +/-0.0-capable columns are excluded by design (footer "
    "min/max representation of IEEE signed zero is writer-dependent).",
    tags=("scan", "metadata", "formats", "pruning"),
)
def scan_footer_stats_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd  # noqa: F401 (arrow batch interface)

    rows = [
        (t, c, os.path.join(sf_dir, f"{t}.parquet"))
        for t, c in _FOOTER_TARGETS
    ]
    paths = spark.createDataFrame(
        rows, "tbl string, col string, path string"
    ).repartition(len(rows))

    def read_footers(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for tbl, col, path in pdf.itertuples(index=False):
                md = pq.ParquetFile(path).metadata
                mins, maxs = [], []
                for rg_i in range(md.num_row_groups):
                    rg = md.row_group(rg_i)
                    for c_i in range(rg.num_columns):
                        chunk = rg.column(c_i)
                        if chunk.path_in_schema == col:
                            st = chunk.statistics
                            assert st is not None and st.has_min_max, (
                                f"footer stats missing for {path}:{col}"
                            )
                            mins.append(st.min)
                            maxs.append(st.max)
                assert mins, f"column {col} not found in {path}"
                out.append(
                    (tbl, col, md.num_rows, float(min(mins)), float(max(maxs)))
                )
            import pandas as pd

            yield pd.DataFrame(
                out, columns=["tbl", "col", "n_rows", "min_v", "max_v"]
            )

    return paths.mapInPandas(
        read_footers,
        "tbl string, col string, n_rows bigint, min_v double, max_v double",
    )


# --- Gzipped NDJSON source (compression-codec coverage) -----------------------


@register(
    "scan_ndjson_gzip",
    oracle="""
SELECT md5(props) AS line_hash FROM events
""",
    doc="GZIP NDJSON source round-trip: the events JSON corpus is exported "
    "as .json.gz text (Spark's text sink with compression=gzip) and read "
    "back through the line source, hashing every line -- the "
    "compressed-drop format most external data actually arrives in.  "
    "The read is lossless (oracle = md5 per original document), and the "
    "SPLITTABILITY trap is pinned by a plan assertion in the builder: "
    "gzip is a non-splittable codec, so each .gz file is read WHOLE by "
    "one task no matter its size -- at 100 TB you either "
    "receive many moderate .gz files (parallelism = file count), "
    "recompress to a splittable codec (bzip2, or parquet+zstd), or "
    "accept single-task decompression per file.  The export here "
    "repartitions to 4 files so the read-back side demonstrates "
    "file-count parallelism, and the builder asserts that the planned "
    "scan splits no file (Spark may still pack several small files "
    "into one partition).",
    tags=("source", "ndjson", "compression"),
)
def scan_ndjson_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    out = scratch_dir(sf_dir, "ndjson_gz")
    n_files = 4
    (
        events.select(F.col("props").alias("value"))
        .repartition(n_files)
        .write.mode("overwrite")
        .option("compression", "gzip")
        .text(out)
    )
    back = spark.read.text(out)
    # Non-splittable codec contract: every .gz file appears exactly once,
    # whole, among the scan's planned FilePartitions (planning runs no job).
    sizes = {
        f: os.path.getsize(os.path.join(out, f))
        for f in os.listdir(out)
        if f.endswith(".gz")
    }
    scan = back._jdf.queryExecution().executedPlan().collectLeaves().head()
    parts = scan.inputRDD().filePartitions()
    planned = sorted(
        (pf.toPath().getName(), pf.start(), pf.length())
        for i in range(parts.size())
        for pf in parts.apply(i).files()
    )
    whole = sorted((f, 0, size) for f, size in sizes.items())
    assert len(sizes) == n_files and planned == whole, (
        f"gzip splittability contract broken: files {whole}, "
        f"planned splits {planned}"
    )
    return back.select(F.md5(F.col("value")).alias("line_hash"))


@register(
    "scan_pyds_ndjson_ranges",
    oracle=f"""
WITH lines AS (
  SELECT unnest(string_split(content, chr(10))) AS doc
  FROM read_text('{REFERENCE_LOGS}')
)
SELECT COUNT(*) AS n_lines,
       bit_xor(('0x' || substr(md5(doc), 1, 15))::BIGINT) AS line_checksum,
       CAST(SUM(length(doc)) AS BIGINT) AS total_chars
FROM lines WHERE length(doc) > 0
""",
    doc="CUSTOM PYTHON DATA SOURCE (Spark 4 pyspark.sql.datasource API): "
    "the reference logs corpus or its in-repo stand-in read through a "
    "from-scratch connector "
    "that plans one InputPartition per byte range and applies the "
    "Hadoop LineRecordReader boundary rule in each task, so every line "
    "is read exactly once wherever the split boundaries fall "
    "(sources/py_datasource.py; split-count invariance pinned by a "
    "plan test).  Same oracle as scan_ndjson -- the two sources must "
    "agree byte-for-byte -- but this arm exercises the NEW pure-Python "
    "connector surface with real partition planning: partitions() "
    "touches only the file size, tasks stream their range, nothing is "
    "read on the driver.",
    tags=("source", "ndjson", "datasource", "python"),
    inputs=(REFERENCE_LOGS,),
)
def scan_pyds_ndjson_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.py_datasource import read_ndjson_ranges

    raw = read_ndjson_ranges(spark, REFERENCE_LOGS, n_splits=4)
    return raw.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.expr(
            "bit_xor(cast(conv(substr(md5(doc),1,15),16,10) as bigint))"
        ).alias("line_checksum"),
        F.sum(F.length("doc")).cast("bigint").alias("total_chars"),
    )


# --- partition-layout evolution: two generations, one pruned read --------------
# A 100 TB lake never rewrites history to change partition granularity:
# old data stays week-partitioned, new data lands day-partitioned, and
# every reader unions TWO pruned scans (Iceberg calls this partition
# evolution; plain parquet does it with explicit layout roots).  This
# query stages both generations from the events table (epoch-day d <
# SPLIT under pblock = d div 7, d >= SPLIT under pday = d), then answers
# a day-range question crossing the split: the old scan prunes to the
# overlapping week blocks and refines by the in-file day column, the
# new scan prunes to exact days.  PartitionFilters on BOTH scans are
# pinned by test -- the plan proof that neither generation is read in
# full.  The oracle answers from the original table, so a pruning bug
# that drops or double-reads a boundary day fails the value check.
from datetime import date as _date

_PE_EPOCH = _date(1970, 1, 1)
_PE_SPLIT = (_date(2024, 1, 16) - _PE_EPOCH).days  # day-partitioning starts
_PE_LO = (_date(2024, 1, 13) - _PE_EPOCH).days  # query window lo (old side)
_PE_HI = (_date(2024, 1, 19) - _PE_EPOCH).days  # query window hi (new side)
_PE_DAY_US = 86_400_000_000


@register(
    "scan_partition_evolution",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       CAST(SUM(epoch_us(ts) % 1000000) AS BIGINT) AS us_checksum
FROM events
WHERE epoch_us(ts) // {_PE_DAY_US} BETWEEN {_PE_LO} AND {_PE_HI}
GROUP BY event_type
""",
    doc="Partition-layout evolution read: week-partitioned history + "
    "day-partitioned present answered as one union with BOTH scans "
    "partition-pruned (pinned in-plan); the oracle recomputes from "
    "the unpartitioned original.",
    tags=("source", "partition-evolution", "pruning"),
)
def scan_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("ts_us"),
        F.expr(f"unix_micros(ts) div {_PE_DAY_US}").alias("d"),
    )
    root = scratch_dir(sf_dir, "part_evo")
    old_dir, new_dir = os.path.join(root, "old"), os.path.join(root, "new")
    # Generation 1: week blocks (d div 7).  Generation 2: exact days.
    # Rebalance on the partition key before each dynamic partitionBy
    # write -- without the pre-shuffle each task emits one file per key
    # it holds, O(tasks x partitions) files (the 11.7x wall measured on
    # the event sink, results/scale_probe.txt).
    events.where(F.col("d") < _PE_SPLIT).withColumn(
        "pblock", F.expr("d div 7")
    ).hint("rebalance", "pblock").write.mode("overwrite").partitionBy(
        "pblock"
    ).parquet(old_dir)
    events.where(F.col("d") >= _PE_SPLIT).withColumn(
        "pday", F.col("d")
    ).hint("rebalance", "pday").write.mode("overwrite").partitionBy(
        "pday"
    ).parquet(new_dir)
    blocks = sorted({dd // 7 for dd in range(_PE_LO, min(_PE_HI, _PE_SPLIT - 1) + 1)})
    old_side = (
        spark.read.parquet(old_dir)
        # Prune to the overlapping week blocks (partition filter), then
        # refine to exact days on the in-file column.
        .where(F.col("pblock").isin(blocks))
        .where((F.col("d") >= _PE_LO) & (F.col("d") <= _PE_HI))
        .select("event_type", "value", "ts_us")
    )
    new_side = (
        spark.read.parquet(new_dir)
        .where((F.col("pday") >= _PE_LO) & (F.col("pday") <= _PE_HI))
        .select("event_type", "value", "ts_us")
    )
    return (
        old_side.unionAll(new_side)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.expr(
                "cast(sum(cast(value as decimal(18,2))) as double)"
            ).alias("total_value"),
            F.expr("cast(sum(ts_us % 1000000) as bigint)").alias(
                "us_checksum"
            ),
        )
    )
