"""JSON capability surface -- parity with the reference benchmark.

The reference's whole purpose is: parse JSON, hold it in one of four physical
representations, round-trip through Parquet/ZSTD, extract by JSON path
(SURVEY.md section 2.1, /root/reference/benches/query.rs:7-37,
src/format/variant.rs:72-128).  These queries re-express that surface on the
``events.props`` JSON column of the testdata plus the reference's own golden
corpora:

- ``json_path_get``        -- O19-O21: path extraction on the RAW string
  (re-parses per row -- the "plain_json is slow to query" arm).
- ``json_shred_typed``     -- O5+O13: ``from_json`` declared-schema shredding
  into typed columns (the "variant" arm; Catalyst prunes/pushes on it).
- ``json_variant_get``     -- O3+O19: Spark 4 ``parse_json`` -> VariantType ->
  ``variant_get`` (the "jsonb/jsonc pre-parsed binary" arm).
- ``json_tojson_canonical``-- O7-O9: decode back to canonical JSON text.
- ``json_golden_probes``   -- O22: the 4 fixed (file, path, expected) probes
  from benches/query.rs:46-67 on the reference corpora.
- ``json_roundtrip_plain`` -- O2/O6/O10/O14: parquet ZSTD write + read-back
  with an order-insensitive checksum proving lossless round-trip.
- ``json_ndv_profile``     -- the NDV accounting that drives the reference's
  storage results (scripts/json-generator.py:66-79, README.md:25).

At 100 TB: all of these are narrow projections over a single table; the
shredded/variant arms let Parquet prune to one column and the scan never
materializes the raw string, while ``get_json_object`` deliberately does (it
is the slow arm the benchmark exists to demonstrate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..runtime import corpus_path, scratch_dir, track_persist
from ..tables import load_table
from .registry import register

# (probe name, file path, spark json path, duckdb json path, expected)
# Mirrors /root/reference/benches/query.rs:46-67.  The expected values are
# pinned to the reference's own documents, so these files have no stand-in.
GOLDEN_PROBES = (
    ("canada_type", corpus_path("canada.json"), "$.type", "$.type", "FeatureCollection"),
    (
        "citm_area",
        corpus_path("citm_catalog.json"),
        "$.areaNames.205705994",
        '$.areaNames."205705994"',
        "1er balcon central",
    ),
    (
        "citm_topic",
        corpus_path("citm_catalog.json"),
        "$.topicNames.324846100",
        '$.topicNames."324846100"',
        "Formations musicales",
    ),
    (
        "twitter_max_id",
        corpus_path("twitter.json"),
        "$.search_metadata.max_id_str",
        "$.search_metadata.max_id_str",
        "505874924095815681",
    ),
)
GOLDEN_INPUTS = tuple(dict.fromkeys(path for _, path, _, _, _ in GOLDEN_PROBES))


@register(
    "flagship_events_enriched",
    oracle="""
SELECT event_type,
       strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MAX(json_extract_string(props, '$.k')) AS max_k_str
FROM events
GROUP BY 1, 2
""",
    doc="Flagship: JSON shred + temporal bucketing + multi-aggregate over events.",
    tags=("json", "aggregation", "flagship"),
    bench=True,
)
def flagship_events_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # Parse props ONCE; k_str derives from the typed value (identical string
    # since k is an integer) instead of a second per-row get_json_object
    # parse -- the three-way parse comparison lives in json_path_get /
    # json_variant_get, not here.
    shred = events.select(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "user_id",
        "value",
        F.from_json("props", "k BIGINT").getField("k").alias("k"),
    ).withColumn("k_str", F.col("k").cast("string"))
    return shred.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.expr("cast(sum(cast(value as decimal(18,2))) as double)").alias("sum_value"),
        F.sum("k").alias("sum_k"),
        F.max("k_str").alias("max_k_str"),
    )


@register(
    "json_path_get",
    oracle="""
SELECT event_id, json_extract_string(props, '$.k') AS k_str
FROM events
WHERE json_extract_string(props, '$.k') IS NOT NULL
""",
    doc="O19-O21: JSON path extraction on the raw string column (per-row parse).",
    tags=("json",),
)
def json_path_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id", F.get_json_object("props", "$.k").alias("k_str")
    ).where(F.col("k_str").isNotNull())


@register(
    "json_shred_typed",
    oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       COUNT(*) AS n,
       COUNT(DISTINCT event_id) AS n_events
FROM events
GROUP BY 1
""",
    doc="O5+O13: declared-schema shredding (from_json -> typed struct -> agg).",
    tags=("json", "aggregation"),
)
def json_shred_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            F.from_json("props", "k BIGINT").alias("p"), "event_id"
        )
        .select(F.col("p.k").alias("k"), "event_id")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("event_id").alias("n_events"))
    )


@register(
    "json_variant_get",
    oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       COUNT(*) AS n
FROM events
GROUP BY 1
""",
    doc="O3+O19: parse once into VariantType (Spark 4 jsonb-equivalent), "
    "then variant_get path access on the pre-parsed binary form.",
    tags=("json", "variant"),
)
def json_variant_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(F.parse_json("props").alias("v"))
        .select(F.variant_get("v", "$.k", "bigint").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "json_tojson_canonical",
    oracle="""
SELECT to_json(struct_pack(k := CAST(json_extract_string(props, '$.k') AS BIGINT)))::VARCHAR
         AS canon,
       COUNT(*) AS n
FROM events
GROUP BY 1
""",
    doc="O7-O9: decode back to canonical JSON text (struct -> to_json).",
    tags=("json",),
)
def json_tojson_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(F.to_json(F.from_json("props", "k BIGINT")).alias("canon"))
        .groupBy("canon")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _golden_oracle() -> str:
    rows = ",\n".join(
        f"('{name}', '{expected.replace(chr(39), chr(39) * 2)}', "
        f"'{expected.replace(chr(39), chr(39) * 2)}')"
        for name, _, _, _, expected in GOLDEN_PROBES
    )
    return (
        "SELECT * FROM (VALUES\n"
        + rows
        + "\n) AS t(probe, extracted, expected)"
    )


@register(
    "json_golden_probes",
    oracle=_golden_oracle(),
    doc="O22: the reference's 4 golden (file, path, expected) probes "
    "(benches/query.rs:46-67) evaluated on the actual corpora; the oracle "
    "pins the expected literals, so a wrong extraction hash-mismatches.",
    tags=("json", "golden"),
    inputs=GOLDEN_INPUTS,
)
def json_golden_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = []
    for name, path, spath, _dpath, expected in GOLDEN_PROBES:
        doc = spark.read.text(path)
        parts.append(
            doc.select(
                F.lit(name).alias("probe"),
                F.get_json_object("value", spath).alias("extracted"),
                F.lit(expected).alias("expected"),
            ).distinct()  # twitter.json repeats one document on 5 lines
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "json_golden_probes_tape",
    oracle=_golden_oracle(),
    doc="O20/O22: the same 4 golden probes answered BY WALKING THE TAPE "
    "representation (reference Jsonc::get, benches/query.rs:23-28,91-102): "
    "each corpus document is encoded once into the columnar opcode/string/"
    "number pools, then the path is resolved on the pre-parsed tape with "
    "subtree SKIPPING (formats/jsonc_tape.py:get_path_tape) -- no re-parse, "
    "no full decode.  With json_golden_probes (re-parse arm) and "
    "json_golden_probes_variant (pre-parsed binary arm) this completes the "
    "reference's three-way query comparison on all three representations.",
    tags=("json", "golden", "tape"),
    inputs=GOLDEN_INPUTS,
)
def json_golden_probes_tape(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..formats.base import DOC_COL
    from ..formats.jsonc_tape import JsoncTapeFormat, get_path_udf

    fmt = JsoncTapeFormat()
    parts = []
    for name, path, spath, _dpath, expected in GOLDEN_PROBES:
        # query.rs:70-72 probes one document per corpus (twitter.json repeats
        # the same line 5x); distinct the raw line before encoding
        doc = spark.read.text(path).distinct().select(F.col("value").alias(DOC_COL))
        tape = fmt.encode(doc)
        keys = tuple(spath[2:].split("."))
        parts.append(
            tape.select(
                F.lit(name).alias("probe"),
                get_path_udf(keys)("nodes", "strings", "numbers").alias("extracted"),
                F.lit(expected).alias("expected"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "json_golden_probes_variant",
    oracle=_golden_oracle(),
    doc="O19/O22: the golden probes on the PRE-PARSED binary arm -- "
    "parse_json once into VariantType, then variant_get path access "
    "(the Spark-native jsonb equivalent; benches/query.rs:77-88).",
    tags=("json", "golden", "variant"),
    inputs=GOLDEN_INPUTS,
)
def json_golden_probes_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = []
    for name, path, spath, _dpath, expected in GOLDEN_PROBES:
        doc = spark.read.text(path).distinct()
        parts.append(
            doc.select(F.parse_json("value").alias("v")).select(
                F.lit(name).alias("probe"),
                F.variant_get("v", spath, "string").alias("extracted"),
                F.lit(expected).alias("expected"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "json_roundtrip_plain",
    oracle="""
SELECT COUNT(*) AS n_docs,
       bit_xor(('0x' || substr(md5(props), 1, 15))::BIGINT) AS doc_checksum,
       CAST(SUM(length(props)) AS BIGINT) AS total_chars
FROM events
""",
    doc="O2/O6/O10/O14: plain_json representation round-trip -- write the raw "
    "JSON strings to Parquet ZSTD, read them back, and prove losslessness "
    "with an order-insensitive xor checksum (the reference asserts "
    "decode()==input, src/format/plain_json.rs:68-97).",
    tags=("json", "roundtrip", "sink"),
)
def json_roundtrip_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    out_dir = scratch_dir(sf_dir, "roundtrip_plain")
    events.select(F.col("props").alias("doc")).write.mode("overwrite").parquet(
        out_dir, compression="zstd"
    )
    back = spark.read.parquet(out_dir)
    return back.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("bit_xor(" + "cast(conv(substr(md5(doc),1,15),16,10) as bigint)" + ")").alias(
            "doc_checksum"
        ),
        F.sum(F.length("doc")).cast("bigint").alias("total_chars"),
    )


REFERENCE_LOGS_CORPUS = corpus_path("logs.json")


@register(
    "json_keys_profile",
    oracle=f"""
WITH lines AS (
  SELECT unnest(string_split(content, chr(10))) AS doc
  FROM read_text('{REFERENCE_LOGS_CORPUS}')
),
docs AS (SELECT doc FROM lines WHERE length(doc) > 0)
SELECT key, COUNT(*) AS n_docs
FROM docs, unnest(json_keys(doc)) AS t(key)
GROUP BY 1
""",
    doc="Schema discovery over a schema-less corpus: per-key document "
    "frequency of the reference logs corpus or its in-repo stand-in "
    "(nested objects, nulls, string arrays).  The reference has NO schema inference (SURVEY.md "
    "section 1.3 -- its variant schema is hard-coded); Spark derives "
    "structure from the data itself (json_object_keys here; "
    "spark.read.json / schema_of_json for full inference), which is what "
    "makes the shredded representation usable on corpora without a "
    "declared schema.",
    tags=("json", "schema", "inference"),
    inputs=(REFERENCE_LOGS_CORPUS,),
)
def json_keys_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.ndjson import read_ndjson_raw

    docs = read_ndjson_raw(spark, REFERENCE_LOGS_CORPUS)
    return (
        docs.select(F.explode(F.expr("json_object_keys(doc)")).alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "json_ndv_profile",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT props) AS ndv_props,
       COUNT(DISTINCT json_extract_string(props, '$.k')) AS ndv_k,
       COUNT(DISTINCT user_id) AS ndv_user
FROM events
GROUP BY 1
""",
    doc="NDV accounting per group -- the axis the reference's storage results "
    "are parameterized by (scripts/json-generator.py:66-79, README.md:25).",
    tags=("json", "aggregation", "distinct"),
)
def json_ndv_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("props").alias("ndv_props"),
        F.countDistinct(F.get_json_object("props", "$.k")).alias("ndv_k"),
        F.countDistinct("user_id").alias("ndv_user"),
    )


@register(
    "json_paths_census",
    oracle="""
WITH n AS (SELECT COUNT(*) AS c FROM orders)
SELECT path, vtype, n FROM (
  SELECT '$.nested.arr[0]' AS path, 'INTEGER' AS vtype, c AS n FROM n
  UNION ALL SELECT '$.nested.arr[1]', 'INTEGER', c FROM n
  UNION ALL SELECT '$.order.key',     'INTEGER', c FROM n
  UNION ALL SELECT '$.order.status',  'STRING',  c FROM n
  UNION ALL SELECT '$.price',         'NUMBER',  c FROM n
  UNION ALL SELECT '$.tags[0]',       'STRING',  c FROM n
  UNION ALL SELECT '$.tags[1]',       'STRING',  c FROM n
)
""",
    doc="Schema census over a JSON corpus: enumerate every leaf path with "
    "its type and row count -- the schema-drift / shredding-planning tool "
    "(which paths are dense and typed enough to shred is exactly what "
    "inferShreddingSchema decides per file; this query computes it "
    "corpus-wide).  The Spark plan discovers paths DYNAMICALLY: parse to "
    "variant, then iterate LATERAL variant_explode to max depth, "
    "classifying containers via schema_of_variant and accumulating "
    "leaves; types normalize to JSON's own lattice (INTEGER / NUMBER / "
    "STRING / BOOLEAN / NULL) so DECIMAL-vs-DOUBLE inference noise "
    "cancels.  The corpus is built deterministically from orders (depth-3 "
    "nesting, null-free by construction).  DuckDB has no recursive JSON "
    "walker, so the oracle enumerates this corpus's fixed path set "
    "statically -- it still pins path spelling, type mapping and counts.",
    tags=("json", "variant", "census", "schema"),
)
def json_paths_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    orders = load_table(spark, sf_dir, "orders")
    docs = orders.select(
        F.to_json(
            F.struct(
                F.struct(
                    F.col("o_orderkey").alias("key"),
                    F.col("o_orderstatus").alias("status"),
                ).alias("order"),
                F.col("o_totalprice").alias("price"),
                F.array(
                    F.col("o_orderpriority"), F.col("o_orderstatus")
                ).alias("tags"),
                F.struct(
                    F.array(
                        F.col("o_custkey") % 7, F.col("o_custkey") % 3
                    ).alias("arr")
                ).alias("nested"),
            )
        ).alias("doc")
    )
    frontier = docs.select(
        F.lit("$").alias("path"), F.parse_json("doc").alias("v")
    )
    leaf_parts = []
    for _ in range(4):  # max nesting depth of the corpus
        # Persist each level: the leaves branch AND the next frontier both
        # consume `typed`, and each leaf_parts[k] would otherwise embed
        # the whole unpersisted chain back to the scan -- the union would
        # re-parse every document once per depth level (O(depth^2) work).
        typed = track_persist(
            frontier.select(
                "path", "v", F.expr("schema_of_variant(v)").alias("t")
            )
        )
        is_container = F.col("t").startswith("OBJECT<") | F.col(
            "t"
        ).startswith("ARRAY<")
        leaf_parts.append(typed.where(~is_container).select("path", "t"))
        containers = typed.where(is_container)
        frontier = containers.lateralJoin(
            spark.tvf.variant_explode(F.col("v").outer())
        ).select(
            F.when(
                F.col("key").isNotNull(),
                F.concat(F.col("path"), F.lit("."), F.col("key")),
            )
            .otherwise(
                F.concat(F.col("path"), F.lit("["), F.col("pos"), F.lit("]"))
            )
            .alias("path"),
            F.col("value").alias("v"),
        )
    leaves = reduce(lambda a, b: a.unionAll(b), leaf_parts)
    vtype = (
        F.when(F.col("t") == "BIGINT", "INTEGER")
        .when(F.col("t").startswith("DECIMAL"), "NUMBER")
        .when(F.col("t") == "DOUBLE", "NUMBER")
        .when(F.col("t") == "FLOAT", "NUMBER")
        .when(F.col("t") == "STRING", "STRING")
        .when(F.col("t") == "BOOLEAN", "BOOLEAN")
        .when(F.col("t") == "VOID", "NULL")
        .otherwise(F.col("t"))
    )
    return (
        leaves.select("path", vtype.alias("vtype"))
        .groupBy("path", "vtype")
        .agg(F.count(F.lit(1)).alias("n"))
    )
