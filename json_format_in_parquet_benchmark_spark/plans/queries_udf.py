"""UDF/UDAF surface: the one place the engine deliberately crosses into
Python, shown with the fast (Arrow-batched) shapes only.

The reference has no user-defined-function surface (SURVEY.md §2.2: the
codec trait is an internal extension point).  The engine's stance is
"built-ins first" — every scalar expression elsewhere is JVM-side — but the
checklist's UDAF capability is demonstrated here with a pandas grouped-agg
UDAF (Arrow transfer, one Python roundtrip per GROUP, not per row).  The
mapInPandas / applyInPandasWithState shapes live with their operators
(multimodal, streaming sessionization).

At 100 TB: a grouped-agg pandas UDAF ships each group's column slice
through Arrow once; groups here are low-cardinality (event types), so the
Python cost is O(groups), invisible next to the shuffle.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves PEP-563 string hints
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens_duckdb
from ..runtime import track_view
from ..tables import load_table
from .registry import register


@register(
    "udaf_median_value",
    oracle="""
SELECT event_type,
       median(value::DOUBLE) AS median_value
FROM events
GROUP BY 1
""",
    doc="Custom UDAF: per-group median via a pandas grouped-agg UDF "
    "(Arrow-batched, one Python call per group).  numpy's interpolated "
    "median of doubles is bit-identical to DuckDB's median over DOUBLE, so "
    "even the Python path is exactly oracle-checked.",
    tags=("udf", "udaf", "aggregation"),
)
def udaf_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    # Type-hint form (Series -> float == grouped agg).  Under PEP 563 the
    # hints are strings; pandas_udf resolves them via get_type_hints against
    # module globals, hence the module-level ``pd`` import above.
    @F.pandas_udf("double")
    def median_udaf(v: pd.Series) -> float:
        return float(np.median(v.values))

    # grouped-agg pandas UDFs cannot mix with JVM aggregates in one agg()
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        median_udaf("value").alias("median_value")
    )


@register(
    "udtf_tokenize_positions",
    oracle=f"""
WITH d AS (
  SELECT doc_id, {tokens_duckdb('text')} AS toks FROM documents WHERE doc_id < 50
),
ex AS (
  SELECT doc_id,
         unnest(list_transform(range(len(toks)),
                i -> struct_pack(token := toks[CAST(i AS INT) + 1],
                                 pos := CAST(i AS INT)))) AS u
  FROM d
)
SELECT doc_id, u.token AS token, u.pos AS pos FROM ex
""",
    doc="Python UDTF (table function): one text row fans out to "
    "(token, position) rows via a lateral join.  Demonstration of the "
    "UDTF surface -- the production path for THIS particular job is "
    "posexplode(split(...)), which stays JVM-side; a real UDTF earns its "
    "keep when the row-expansion logic needs Python libraries.",
    tags=("udf", "udtf"),
)
def udtf_tokenize_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, pos int")
    class Tokenize:
        def eval(self, text: str):
            if text is None:
                return
            pos = 0
            for tok in text.split(" "):
                if tok:
                    yield tok, pos
                    pos += 1

    spark.udtf.register("jfipb_tokenize", Tokenize)
    docs = load_table(spark, sf_dir, "documents").where("doc_id < 50")
    docs.createOrReplaceTempView("docs_udtf")
    track_view(spark, "docs_udtf")
    return spark.sql(
        "SELECT d.doc_id, t.token, t.pos"
        " FROM docs_udtf d, LATERAL jfipb_tokenize(d.text) t"
    )


@register(
    "udtf_event_streaks",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t, event_type FROM events
),
flagged AS (
  SELECT user_id, t, event_type,
         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_type)
),
isl AS (
  SELECT user_id, t, event_type,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_type
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM flagged
)
SELECT user_id, event_type,
       CAST(COUNT(*) AS INT) AS streak_len,
       CAST(MIN(t) AS BIGINT) AS start_us
FROM isl GROUP BY user_id, event_type, g
""",
    doc="TABLE-ARGUMENT Python UDTF with PARTITION BY / ORDER BY (the "
    "Spark 4 polymorphic-UDTF surface): per-user event streaks "
    "detected by a stateful row iterator that Spark feeds each user's "
    "rows IN ORDER -- 'SELECT * FROM streaks(TABLE(...) PARTITION BY "
    "user_id ORDER BY (t, event_type))', the MATCH_RECOGNIZE-engine "
    "execution shape (per-key ordered custom logic) as a first-class "
    "relational table function rather than an applyInPandas detour.  "
    "The oracle is the classic gaps-and-islands window SQL, so the "
    "UDTF's streak semantics are value-pinned exactly.  Scale shape: "
    "one shuffle on user_id + per-partition sort, state is one open "
    "streak per key.  Parser pin: multiple ORDER BY expressions in a "
    "TABLE argument need parentheses around the tuple.",
    tags=("udf", "udtf", "pattern", "stateful"),
)
def udtf_event_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="user_id bigint, event_type string, streak_len int,"
        " start_us bigint"
    )
    class Streaks:
        def __init__(self) -> None:
            self.cur = None  # (user, type, len, start)
            self.out = []

        def eval(self, row):
            u, t, typ = row["user_id"], row["t"], row["event_type"]
            if self.cur is not None and self.cur[1] == typ:
                self.cur = (u, typ, self.cur[2] + 1, self.cur[3])
            else:
                if self.cur is not None:
                    self.out.append(self.cur)
                self.cur = (u, typ, 1, t)

        def terminate(self):
            if self.cur is not None:
                self.out.append(self.cur)
            yield from self.out

    spark.udtf.register("jfipb_streaks", Streaks)
    events = load_table(spark, sf_dir, "events")
    events.select("user_id", "event_type", "ts").createOrReplaceTempView(
        "events_streaks_v"
    )
    track_view(spark, "events_streaks_v")
    return spark.sql(
        """
        SELECT * FROM jfipb_streaks(
          TABLE(SELECT user_id, unix_micros(ts) AS t, event_type
                FROM events_streaks_v)
          PARTITION BY user_id ORDER BY (t, event_type))
        """
    )


# --- Arrow-optimized scalar Python UDF (Spark 4 useArrow=True) -----------------
# The remaining cell of the Python-UDF surface matrix: scalar @udf with
# Arrow serialization (pickled-row scalar UDFs and pandas_udf batches
# are covered elsewhere; mapInArrow/mapInPandas in the multimodal and
# embedding families).  The function normalizes document text the way a
# dedup pre-pass would (lowercase, collapse whitespace runs, strip
# non-alphanumeric edges) and the oracle replicates it in SQL -- the
# point is the API surface under the correctness gate, and the
# docstring says the quiet part: anything SQL can express should BE
# SQL (the JVM path wins); the Arrow scalar UDF is for logic that
# genuinely needs Python, at ~10x less overhead than the pickled path.
@register(
    "udf_arrow_scalar_normalize",
    oracle="""
SELECT doc_id,
       lower(regexp_replace(
         regexp_replace(text, '\\s+', ' ', 'g'),
         '^[^0-9A-Za-z]+|[^0-9A-Za-z]+$', '', 'g')) AS norm_text,
       CAST(length(lower(regexp_replace(
         regexp_replace(text, '\\s+', ' ', 'g'),
         '^[^0-9A-Za-z]+|[^0-9A-Za-z]+$', '', 'g'))) AS INT) AS norm_len
FROM documents
""",
    doc="Arrow-optimized scalar Python UDF (useArrow=True): dedup-style "
    "text normalization whose SQL twin is the oracle -- the API "
    "surface demo; production logic expressible in SQL should stay "
    "JVM-side, the Arrow scalar path is for genuine-Python logic at "
    "a fraction of the pickled UDF's serialization cost.",
    tags=("udf", "arrow", "text"),
)
def udf_arrow_scalar_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re as _re

    from pyspark.sql.functions import udf

    # The whitespace class is spelled EXPLICITLY as RE2's \s
    # ([\t\n\f\r ]): Python's \s -- even under re.ASCII --
    # additionally matches \v, and without re.ASCII all unicode
    # whitespace, either of which silently diverges from the
    # DuckDB/RE2 oracle on non-plain input (pinned: DuckDB
    # regexp_replace leaves \x0b alone).
    _ws = _re.compile(r"[\t\n\f\r ]+")
    _edges = _re.compile(r"^[^0-9A-Za-z]+|[^0-9A-Za-z]+$", _re.ASCII)

    @udf(returnType="string", useArrow=True)
    def norm(s: str) -> str:
        if s is None:
            return None
        return _edges.sub("", _ws.sub(" ", s)).lower()

    docs = load_table(spark, sf_dir, "documents")
    # Invoke the UDF ONCE per row; norm_len derives from the materialized
    # norm_text column in a subsequent select.
    normed = docs.select("doc_id", norm("text").alias("norm_text"))
    return normed.select(
        "doc_id",
        "norm_text",
        F.length("norm_text").cast("int").alias("norm_len"),
    )
