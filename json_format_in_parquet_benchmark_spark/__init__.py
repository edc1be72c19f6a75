"""PySpark-native analytics engine with the capability surface of
CookiePieWw/json-format-in-parquet-benchmark, rebuilt Spark-first.

The reference (read-only at /root/reference) is a Rust micro-benchmark that
ingests NDJSON, encodes it into four physical representations (plain string,
binary JSONB, columnar tape, schema-shredded typed columns), round-trips each
through Parquet/ZSTD, and extracts values by JSON path.  This package
re-expresses that surface on the Spark DataFrame/SQL stack (Catalyst picks the
physical plan; Parquet vectorized IO does the row<->column work the reference
hand-rolls), and extends it with the large-scale training-data-pipeline
operators a 100 TB deployment needs: dedup (exact / MinHash-LSH / SimHash /
n-gram Jaccard / embedding-cosine), similarity search, text analysis, and
streaming.

Layout:
  session    - tuned SparkSession factory (AQE, zstd, UTC), package shipping
  runtime    - query scope: tracked caches, their release, shipping per query
  tables     - testdata table loaders / temp-view registration
  formats/   - the four JSON physical representations (reference parity)
  functions/ - shared column expressions (portable hashing, text, vectors)
  operators/ - dedup, similarity, as-of join, multimodal plumbing
  plans/     - the query registry driving __spark_entry__ (query + oracle SQL)
  streaming/ - Structured Streaming variants (windowed aggs, sessionization)

Importing the package installs ``_zipimport_gate``, which stops each Python
worker task from re-reading unchanged zip archives (pyspark.zip, the
spark-core jar) on CPython < 3.13.
"""

from . import _zipimport_gate  # noqa: F401

__version__ = "0.1.0"
