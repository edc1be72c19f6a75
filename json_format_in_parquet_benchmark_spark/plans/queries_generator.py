"""Generator queries: the NDV-controlled synthetic corpus, cross-checked
against a DuckDB oracle that generates the identical corpus (possible
because all pseudo-randomness is portable md5 arithmetic)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..generator import generate_events, generator_oracle_sql
from ..operators.dedup import SPREAD_PARTITIONS
from .registry import register

# 2048 rows: enough to exercise every generator invariant (pool coverage,
# NDV fraction, distinct timestamps) while keeping the driver's oracle pass
# cheap; the full 8192/100k-row corpora are generated by the storage sweep
# (results/storage_results.csv), not by this correctness query.
GEN_N = 2048
GEN_NDV = 0.1
GEN_SEED = "g1"


@register(
    "generator_events",
    oracle=generator_oracle_sql(GEN_N, GEN_NDV, GEN_SEED),
    doc="O25: NDV-parameterized synthetic events corpus (pool coverage + "
    "distinct timestamps), generated distributively from spark.range -- "
    "byte-identical to the oracle's generation.",
    tags=("generator",),
)
def generator_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generate_events(spark, GEN_N, GEN_NDV, GEN_SEED)
    return df.select(
        "name", "timestamp", F.col("attributes.event_attributes").alias("event_attributes")
    )


@register(
    "generator_ndv_profile",
    oracle=f"""
WITH g AS ({generator_oracle_sql(GEN_N, GEN_NDV, GEN_SEED)})
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT name) AS ndv_name,
       COUNT(DISTINCT "timestamp") AS ndv_ts,
       COUNT(DISTINCT event_attributes) AS ndv_attr
FROM g
""",
    doc="Generator invariants as a query: pool-size distinct names/attrs, "
    "all-distinct timestamps (json-generator.py:26-39,58-63).",
    tags=("generator", "distinct"),
)
def generator_ndv_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = generate_events(spark, GEN_N, GEN_NDV, GEN_SEED)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("name").alias("ndv_name"),
        F.countDistinct("timestamp").alias("ndv_ts"),
        F.countDistinct("attributes.event_attributes").alias("ndv_attr"),
    )


# --- Planted-duplicate document corpus (dedup test-harness generator) ----------

DOCGEN_N = 2000
DOCGEN_VOCAB = 50_000


def _docgen_text(spark_side: bool) -> str:
    """Engine-neutral text expression over (src_id, mutate, doc_id): 20-50
    tokens drawn from a 50k vocabulary by portable hash of the SOURCE id,
    so exact-dup rows reproduce their source's text verbatim and near-dup
    rows replace token 2 with a doc-unique token.  The scale probe builds
    its planted ``documents`` table from this expression, so the probe's
    input generator is itself a registered, oracled capability."""
    if spark_side:
        h = (
            "cast(conv(substr(md5(concat(src_id, ':', i)), 1, 15), 16, 10)"
            " as bigint)"
        )
        return (
            "concat_ws(' ', transform(sequence(1, 20 + cast(src_id % 31"
            " as int)), i -> case when mutate = 1 and i = 2"
            " then concat('u', doc_id)"
            f" else concat('w', {h} % {DOCGEN_VOCAB}) end))"
        )
    h = (
        "('0x' || substr(md5(src_id || ':' || i), 1, 15))::BIGINT"
    )
    return (
        "array_to_string(list_transform(range(1, 21 + CAST(src_id % 31"
        " AS INT)), i -> CASE WHEN mutate = 1 AND i = 2"
        " THEN 'u' || doc_id"
        f" ELSE 'w' || CAST({h} % {DOCGEN_VOCAB} AS VARCHAR) END), ' ')"
    )


@register(
    "generator_documents_planted",
    oracle=f"""
WITH base AS (
  SELECT CAST(range AS BIGINT) AS doc_id,
         CASE WHEN range % 20 = 19 THEN range - 3
              WHEN range % 20 = 18 THEN range - 2
              ELSE range END AS src_id,
         CAST(range % 20 = 18 AS INT) AS mutate
  FROM range({DOCGEN_N})
),
docs AS (
  SELECT doc_id, {_docgen_text(spark_side=False)} AS text FROM base
),
groups AS (
  SELECT text, CAST(COUNT(*) AS BIGINT) AS n_copies FROM docs GROUP BY text
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_unique_texts,
       CAST(SUM(n_copies) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_groups,
       CAST(SUM(CASE WHEN n_copies > 1 THEN n_copies ELSE 0 END) AS BIGINT)
         AS n_docs_in_dup_groups
FROM groups
""",
    doc="Planted-duplicate DOCUMENT corpus generator, registered and "
    "oracle-pinned: every 20th document is an exact copy of a nearby "
    "source and every other 20th is a one-token near-dup, with all "
    "pseudo-randomness as portable md5 arithmetic so DuckDB generates "
    "the byte-identical corpus -- the test-harness input the dedup "
    "scale probe runs on, built from the same text expression: a user "
    "can synthesize ground-truthed "
    "dedup benchmarks at ANY scale from spark.range with no data "
    "movement.  The query verifies the planted structure (exact-dup "
    "group count and membership) by grouping the generated texts; "
    "near-dups stay out of exact groups by construction (the mutated "
    "token is doc-unique).",
    tags=("generator", "dedup", "corpus"),
)
def generator_documents_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = spark.range(DOCGEN_N, numPartitions=SPREAD_PARTITIONS).selectExpr(
        "id as doc_id",
        "case when id % 20 = 19 then id - 3"
        " when id % 20 = 18 then id - 2 else id end as src_id",
        "cast(id % 20 = 18 as int) as mutate",
    )
    docs = base.selectExpr(
        "doc_id", f"{_docgen_text(spark_side=True)} as text"
    )
    groups = docs.groupBy("text").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_copies")
    )
    return groups.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_unique_texts"),
        F.sum("n_copies").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_groups"),
        F.sum(
            F.when(F.col("n_copies") > 1, F.col("n_copies")).otherwise(0)
        )
        .cast("bigint")
        .alias("n_docs_in_dup_groups"),
    )
