"""Sketch queries: approximate distinct counting with a CROSS-ENGINE-EXACT
HyperLogLog (operators/sketches.py).

Built-in approximate-distinct functions (Spark HLL++, DuckDB HLL) use
engine-private hashes, so their estimates cannot be value-checked across
engines -- the driver could only do a rows-only check.  The portable HLL
is built from the repo's md5 hash with exact integer arithmetic, so even
the ESTIMATE hash-matches the oracle: the sketch itself is under the
correctness gate, not just trusted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens_duckdb, tokens_spark
from ..operators.sketches import (
    cms_duckdb_cte,
    cms_sketch,
    histogram_quantiles,
    histogram_quantiles_duckdb,
    hll_estimate,
    hll_estimate_duckdb,
    kmv_estimate,
    kmv_estimate_duckdb,
)
from ..runtime import track_persist
from ..tables import load_table
from .registry import register

HLL_B = 8  # 256 registers: raw-estimator regime needs ndv >> 2.5 * 256

# (label, spark value expr, duckdb value expr) -- all high-NDV columns of
# lineitem, well above the raw-HLL small-range threshold at sf >= 0.01.
_HLL_COLUMNS = (
    ("l_orderkey", "cast(l_orderkey as string)", "CAST(l_orderkey AS VARCHAR)"),
    ("l_partkey", "cast(l_partkey as string)", "CAST(l_partkey AS VARCHAR)"),
    (
        "l_lineid",
        "concat(cast(l_orderkey as string), '|', cast(l_linenumber as string))",
        "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)",
    ),
)


def _hll_oracle() -> str:
    parts = []
    for label, _spark_expr, duck_expr in _HLL_COLUMNS:
        est = hll_estimate_duckdb("lineitem", duck_expr, b=HLL_B)
        parts.append(f"""
SELECT '{label}' AS column_name,
       e AS est_distinct,
       x AS exact_distinct,
       (e - CAST(x AS DOUBLE)) / CAST(x AS DOUBLE) AS rel_err
FROM (SELECT {est} AS e,
             (SELECT COUNT(DISTINCT {duck_expr}) FROM lineitem) AS x)
""")
    return "\nUNION ALL\n".join(parts)


@register(
    "sketch_hll_ndv",
    oracle=_hll_oracle(),
    doc="Portable HyperLogLog distinct estimates over high-NDV lineitem "
    "columns, with the exact count and relative error alongside.  The "
    "sketch uses only the portable md5 hash + exact integer register "
    "arithmetic (operators/sketches.py), so the ESTIMATE itself is "
    "bit-identical in the DuckDB oracle -- an auditable, mergeable "
    "distinct-count sketch (registers combine with max) for 100 TB "
    "pipelines, unlike the engine-private approx_count_distinct "
    "implementations which cannot be cross-checked.",
    tags=("sketch", "distinct", "custom-operator"),
)
def sketch_hll_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    parts = []
    for label, spark_expr, _duck_expr in _HLL_COLUMNS:
        est = hll_estimate(li, spark_expr, b=HLL_B)
        exact = li.agg(
            F.countDistinct(F.expr(spark_expr)).alias("exact_distinct")
        )
        parts.append(
            est.crossJoin(exact).select(
                F.lit(label).alias("column_name"),
                "est_distinct",
                "exact_distinct",
                (
                    (F.col("est_distinct") - F.col("exact_distinct").cast("double"))
                    / F.col("exact_distinct").cast("double")
                ).alias("rel_err"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


KMV_K = 256


def _kmv_oracle() -> str:
    parts = []
    for label, _spark_expr, duck_expr in _HLL_COLUMNS:
        est = kmv_estimate_duckdb("lineitem", duck_expr, k=KMV_K)
        parts.append(f"""
SELECT '{label}' AS column_name,
       e AS est_distinct,
       x AS exact_distinct,
       (e - CAST(x AS DOUBLE)) / CAST(x AS DOUBLE) AS rel_err
FROM (SELECT {est} AS e,
             (SELECT COUNT(DISTINCT {duck_expr}) FROM lineitem) AS x)
""")
    return "\nUNION ALL\n".join(parts)


@register(
    "sketch_kmv_ndv",
    oracle=_kmv_oracle(),
    doc="KMV (bottom-k) distinct estimates over the same high-NDV lineitem "
    "columns as the HLL query: keep the k=256 smallest distinct portable "
    "hashes, estimate ndv = (k-1)*2^60/h_k.  Exact integer work up to one "
    "final double division, so the estimate is bit-identical in the "
    "oracle; the bottom-k set doubles as a deterministic uniform sample "
    "and merges by k-smallest-of-union.  Plan shape "
    "(operators/sketches.py:bottom_k_distinct): per-partition bounded "
    "bottom-k pre-reduction (Arrow pass, state capped at k), then "
    "distinct -> TakeOrderedAndProject over <= k x partitions rows -- "
    "the shuffle is sketch-sized, not NDV-sized (the naive distinct "
    "shuffled NDV rows: 8.4x per 10x, 15.6s at 50M, scale_probe.txt).",
    tags=("sketch", "distinct", "custom-operator"),
)
def sketch_kmv_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    parts = []
    for label, spark_expr, _duck_expr in _HLL_COLUMNS:
        est = kmv_estimate(li, spark_expr, k=KMV_K)
        exact = li.agg(F.countDistinct(F.expr(spark_expr)).alias("exact_distinct"))
        parts.append(
            est.crossJoin(exact).select(
                F.lit(label).alias("column_name"),
                "est_distinct",
                "exact_distinct",
                (
                    (F.col("est_distinct") - F.col("exact_distinct").cast("double"))
                    / F.col("exact_distinct").cast("double")
                ).alias("rel_err"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


HIST_WIDTH = 50
HIST_QUANTILES = ((1, 2), (9, 10), (99, 100))


@register(
    "sketch_histogram_quantiles",
    oracle=histogram_quantiles_duckdb(
        "documents", "n_chars", HIST_WIDTH, HIST_QUANTILES
    ),
    doc="Mergeable fixed-width histogram over document lengths with p50/p90/"
    "p99 estimates by in-bin linear interpolation, audited against the "
    "exact quantiles computed from the per-value count table.  The sketch "
    "state is range/width integer counters that merge by addition (each "
    "executor histograms its partition; one bounded groupBy combines), and "
    "the quantile rank is integer arithmetic (ceil(qn*N/qd)), so the "
    "estimates are bit-identical cross-engine.  No global row sort "
    "anywhere -- the cumulative windows run over the sketch-sized bin/"
    "value tables.",
    tags=("sketch", "quantile", "custom-operator"),
)
def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return histogram_quantiles(docs, "n_chars", HIST_WIDTH, HIST_QUANTILES)


CMS_D, CMS_W, CMS_TOP = 4, 1024, 20

_CMS_ITEMS_DUCK = (
    f"SELECT unnest({tokens_duckdb('text')}) AS tok FROM documents"
)


@register(
    "sketch_cms_heavy_hitters",
    oracle=f"""
WITH {cms_duckdb_cte(_CMS_ITEMS_DUCK, "tok", d=CMS_D, w=CMS_W)},
top_items AS (
  SELECT tok, COUNT(*) AS exact_count
  FROM ({_CMS_ITEMS_DUCK})
  GROUP BY tok
  ORDER BY exact_count DESC, tok
  LIMIT {CMS_TOP}
),
probes AS (
  SELECT t.tok, t.exact_count, r.r,
         (('0x' || substr(md5('cm' || CAST(r.r AS VARCHAR) || ':' || t.tok), 1, 15))::BIGINT) % {CMS_W} AS bucket
  FROM top_items t, range({CMS_D}) r(r)
)
SELECT p.tok AS token,
       MIN(c.cnt) AS est_count,
       p.exact_count
FROM probes p JOIN cms c ON c.r = p.r AND c.bucket = p.bucket
GROUP BY p.tok, p.exact_count
""",
    doc="Count-Min heavy hitters: sketch all document-token occurrences "
    "into a d=4 x w=1024 counter grid (exact integer sums -> bit-identical "
    "cross-engine; counters merge by addition, so executors sketch "
    "partitions independently), then point-estimate the top-20 exact "
    "heavy hitters.  est_count >= exact_count always; the gap measures "
    "collision inflation.  Shuffled state is d*w counters, independent of "
    "corpus size.",
    tags=("sketch", "frequency", "custom-operator"),
)
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.expr(tokens_spark("text"))).alias("tok"))
    sketch = cms_sketch(toks, "tok", d=CMS_D, w=CMS_W)
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("tok"))
        .limit(CMS_TOP)
    )
    from ..functions.hashing import hash64_sql_spark

    probe_structs = [
        F.struct(
            F.lit(r).alias("r"),
            F.expr(f"{hash64_sql_spark('tok', salt=f'cm{r}:')} % {CMS_W}").alias(
                "bucket"
            ),
        )
        for r in range(CMS_D)
    ]
    probes = top.select(
        "tok",
        "exact_count",
        F.explode(F.array(*probe_structs)).alias("rb"),
    ).select(
        "tok", "exact_count", F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket")
    )
    return (
        sketch.join(F.broadcast(probes), ["r", "bucket"])
        .groupBy(F.col("tok").alias("token"), "exact_count")
        .agg(F.min("cnt").alias("est_count"))
        .select("token", "est_count", "exact_count")
    )


# --- Bloom-filter decontamination -----------------------------------------
# The scale companion to text_decontaminate (queries_text.py): instead of
# broadcasting the benchmark's full gram INDEX, broadcast a fixed-size
# Bloom BITSET (~8 KB here; sized m ~ 1.44 * n * k bits in production) and
# pre-screen the training corpus map-side.  Same hash-held-out bench slice
# and DF-capped gram set, so the two queries are directly comparable.

BLOOM_M_BITS = 61_440  # 1024 words x 60 bits
BLOOM_K = 3


def _bloom_decon_oracle() -> str:
    from ..functions.hashing import hash64_sql_duckdb
    from ..functions.text import shingles_duckdb, tokens_duckdb
    from ..operators.sketches import (
        BLOOM_WORD_BITS,
        bloom_build_duckdb_cte,
        bloom_positions_duckdb,
    )
    from .queries_text import DECON_BENCH_PCT, DECON_DF_CAP, DECON_MIN_SHARED, DECON_N

    toks = tokens_duckdb("text")
    grams = shingles_duckdb(toks, DECON_N)
    is_bench = (
        f"({hash64_sql_duckdb('CAST(doc_id AS VARCHAR)', salt='bench:')})"
        f" % 100 < {DECON_BENCH_PCT}"
    )
    bloom = bloom_build_duckdb_cte(
        "SELECT g FROM capped", "g", BLOOM_M_BITS, BLOOM_K
    )
    pos_list = ", ".join(bloom_positions_duckdb("g", BLOOM_M_BITS, BLOOM_K))
    return f"""
WITH sides AS MATERIALIZED (
  SELECT doc_id, {is_bench} AS is_bench, {grams} AS grams FROM documents
),
bench_grams AS (
  SELECT doc_id AS bench_doc, unnest(grams) AS g FROM sides WHERE is_bench
),
capped AS (
  SELECT g FROM bench_grams GROUP BY g HAVING COUNT(*) <= {DECON_DF_CAP}
),{bloom},
train AS (
  SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams, unnest(grams) AS g
  FROM sides WHERE NOT is_bench
),
probe AS (
  SELECT doc_id, n_grams, g, unnest([{pos_list}]) AS pos FROM train
),
khit AS (
  SELECT doc_id, n_grams, g,
         SUM(CASE WHEN f.bits
                       & (1::BIGINT << CAST(p.pos % {BLOOM_WORD_BITS} AS INT))
                       <> 0
                  THEN 1 ELSE 0 END) AS k_hit
  FROM probe p LEFT JOIN bloom_filt f ON f.word = p.pos // {BLOOM_WORD_BITS}
  GROUP BY 1, 2, 3
),
per_doc AS (
  SELECT doc_id, MAX(n_grams) AS n_grams,
         CAST(SUM(CASE WHEN k_hit = {BLOOM_K} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_maybe_contaminated
  FROM khit GROUP BY 1
)
SELECT doc_id, n_grams, n_maybe_contaminated,
       CAST(n_maybe_contaminated >= {DECON_MIN_SHARED} AS INT) AS flagged
FROM per_doc
"""


@register(
    "sketch_bloom_decontaminate",
    oracle=_bloom_decon_oracle(),
    doc="Bloom-filter pre-screen for benchmark decontamination: the "
    "DF-capped benchmark gram set is folded into a fixed-size bit_or "
    "bitset (60-bit words, k=3 portable-md5 probes) that is BROADCAST "
    "instead of the gram index; every training doc is then screened "
    "map-side, counting grams whose k probe bits are all set.  The "
    "filter is mergeable (word-wise bit_or) and bit-identical across "
    "engines, so even this approximate pre-screen is value-checked.  "
    "At 100 TB the bitset stays O(bench) ~ KBs-MBs while the corpus is "
    "scanned exactly once with no shuffle of gram rows.",
    tags=("sketch", "bloom", "decontamination", "pipeline"),
)
def sketch_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash64_sql_spark
    from ..functions.text import shingles_spark
    from ..operators.sketches import (
        BLOOM_WORD_BITS,
        bloom_build,
        bloom_positions_spark,
    )
    from .queries_text import DECON_BENCH_PCT, DECON_DF_CAP, DECON_MIN_SHARED, DECON_N

    docs = load_table(spark, sf_dir, "documents")
    grams = shingles_spark(tokens_spark("text"), DECON_N)
    is_bench = (
        f"({hash64_sql_spark('cast(doc_id as string)', salt='bench:')})"
        f" % 100 < {DECON_BENCH_PCT}"
    )
    sides = docs.select(
        "doc_id",
        F.expr(is_bench).alias("is_bench"),
        F.expr(grams).alias("grams"),
    )
    capped = (
        sides.where("is_bench")
        .select(F.explode("grams").alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= DECON_DF_CAP)
        .select("g")
    )
    filt = bloom_build(capped, "g", BLOOM_M_BITS, BLOOM_K)
    train = sides.where(~F.col("is_bench")).select(
        "doc_id",
        F.expr("cast(size(grams) as bigint)").alias("n_grams"),
        F.explode("grams").alias("g"),
    )
    probe = train.select(
        "doc_id",
        "n_grams",
        "g",
        F.explode(
            F.array(
                *[
                    F.expr(p)
                    for p in bloom_positions_spark("g", BLOOM_M_BITS, BLOOM_K)
                ]
            )
        ).alias("pos"),
    ).withColumn("word", F.expr(f"pos div {BLOOM_WORD_BITS}"))
    khit = (
        probe.join(F.broadcast(filt), "word", "left")
        .groupBy("doc_id", "n_grams", "g")
        .agg(
            F.sum(
                F.when(
                    F.expr(
                        f"bits & shiftleft(cast(1 as bigint),"
                        f" cast(pos % {BLOOM_WORD_BITS} as int)) != 0"
                    ),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("k_hit")
        )
    )
    return (
        khit.groupBy("doc_id")
        .agg(
            F.max("n_grams").alias("n_grams"),
            F.sum(
                F.when(F.col("k_hit") == BLOOM_K, F.lit(1)).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_maybe_contaminated"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_maybe_contaminated",
            (F.col("n_maybe_contaminated") >= DECON_MIN_SHARED)
            .cast("int")
            .alias("flagged"),
        )
    )


# --- Hypertable-style sketch rollup -----------------------------------------
# Register bits for the per-(event_type, day) sketches: small on purpose --
# per-group distinct users (~50 at sf0.01) must sit above the raw
# estimator's small-range threshold (~2.5 * m), so m = 16.
ROLLUP_B = 4
_R_M = 1 << ROLLUP_B
_R_TOP = 60 - ROLLUP_B  # HASH_BITS - b


def _hll_rho_spark(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """Register rows (group_cols..., bucket, rho) over user_id -- the ONE
    definition of the register construction every HLL rollup/rolling
    query shares (per-dialect; the DuckDB twin is _hll_rho_ctes)."""
    from ..functions.hashing import hash64_sql_spark

    h = hash64_sql_spark("cast(user_id as string)")
    return df.selectExpr(
        *group_cols,
        f"({h}) % {_R_M} as bucket",
        f"shiftright({h}, {ROLLUP_B}) as w",
    ).selectExpr(
        *group_cols,
        "bucket",
        f"case when w = 0 then {_R_TOP + 1}"
        f" else {_R_TOP} - length(bin(w)) + 1 end as rho",
    )


def _hll_rho_ctes(group_exprs: str, group_cols: str) -> str:
    """DuckDB sel/rho CTE pair computing the identical register rows;
    ``group_exprs`` are the SELECT expressions deriving the group
    columns from events, ``group_cols`` their bare names."""
    from ..functions.hashing import hash64_sql_duckdb

    h = hash64_sql_duckdb("CAST(user_id AS VARCHAR)")
    return f"""sel AS (
  SELECT {group_exprs},
         ({h}) % {_R_M} AS bucket, (({h}) >> {ROLLUP_B}) AS w
  FROM events
), rho AS (
  SELECT {group_cols}, bucket,
         CASE WHEN w = 0 THEN {_R_TOP + 1}
              ELSE {_R_TOP} - length(format('{{:b}}', w)) + 1 END AS rho
  FROM sel
)"""


def _rollup_hll_oracle() -> str:
    from ..functions.hashing import hash64_sql_duckdb
    from ..operators.sketches import alpha_m

    alpha = alpha_m(_R_M)
    est = (
        f"CAST(CAST({alpha!r} AS DOUBLE) * {_R_M} * {_R_M}"
        f" * CAST((1::BIGINT << 61) AS DOUBLE)"
        f" / CAST(SUM(CAST((1::BIGINT << (61 - M)) AS DECIMAL(38,0)))"
        f" AS DOUBLE) AS DOUBLE)"
    )
    rho_ctes = _hll_rho_ctes(
        "event_type, strftime(ts, '%Y-%m-%d') AS day", "event_type, day"
    )
    return f"""
WITH {rho_ctes}, regs_day AS (
  SELECT event_type, day, bucket, MAX(rho) AS M FROM rho GROUP BY 1, 2, 3
), groups_day AS (
  SELECT DISTINCT event_type, day FROM regs_day
), full_day AS (
  SELECT g.event_type, g.day, r.bucket, COALESCE(d.M, 0) AS M
  FROM groups_day g CROSS JOIN range({_R_M}) r(bucket)
  LEFT JOIN regs_day d
    ON d.event_type = g.event_type AND d.day = g.day AND d.bucket = r.bucket
), est_day AS (
  SELECT event_type, day, {est} AS est FROM full_day GROUP BY 1, 2
), regs_type AS (
  SELECT event_type, bucket, MAX(M) AS M FROM regs_day GROUP BY 1, 2
), groups_type AS (
  SELECT DISTINCT event_type FROM regs_type
), full_type AS (
  SELECT g.event_type, r.bucket, COALESCE(t.M, 0) AS M
  FROM groups_type g CROSS JOIN range({_R_M}) r(bucket)
  LEFT JOIN regs_type t
    ON t.event_type = g.event_type AND t.bucket = r.bucket
), est_type AS (
  SELECT event_type, {est} AS est FROM full_type GROUP BY 1
), exact_day AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY 1, 2
), exact_type AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY 1
)
SELECT e.event_type, e.day,
       e.est AS est_distinct_users,
       x.exact_distinct AS exact_distinct_users,
       (e.est - CAST(x.exact_distinct AS DOUBLE))
         / CAST(x.exact_distinct AS DOUBLE) AS rel_err
FROM est_day e
JOIN exact_day x ON x.event_type = e.event_type AND x.day = e.day
UNION ALL
SELECT e.event_type, 'ALL',
       e.est, x.exact_distinct,
       (e.est - CAST(x.exact_distinct AS DOUBLE))
         / CAST(x.exact_distinct AS DOUBLE)
FROM est_type e
JOIN exact_type x ON x.event_type = e.event_type
"""


@register(
    "events_rollup_hll",
    oracle=_rollup_hll_oracle(),
    doc="Hypertable-style sketch rollup (continuous-aggregate pattern): "
    "per-(event_type, day) HLL registers over user_id are the stored "
    "finest-grain sketch; the per-type totals are computed by merging "
    "THE DAY REGISTERS (max per bucket) -- the raw events are never "
    "rescanned for the coarser grain, which is what makes sketch-backed "
    "rollup cubes incremental at 100 TB (new day = new register rows; "
    "totals re-merge m rows per group).  Exact distinct counts and "
    "relative error are reported alongside, and the portable hash makes "
    "every estimate bit-identical in the DuckDB oracle.",
    tags=("sketch", "rollup", "events", "custom-operator"),
    bench=True,
)
def events_rollup_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import alpha_m

    alpha = alpha_m(_R_M)
    est_expr = (
        f"cast({alpha!r}D * {_R_M} * {_R_M}"
        f" * cast(shiftleft(1L, 61) as double)"
        f" / cast(sum(cast(shiftleft(1L, 61 - M) as decimal(38,0)))"
        f" as double) as double)"
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "user_id",
    )
    rho = _hll_rho_spark(ev, ["event_type", "day"])
    # The finest-grain register table is the ONLY thing derived from the raw
    # scan; both the day estimates and the merged per-type estimates (and
    # nothing else) read it -- persist it once, like a stored rollup level.
    regs_day = track_persist(
        rho.groupBy("event_type", "day", "bucket").agg(F.max("rho").alias("M"))
    )

    def densify_and_estimate(regs: DataFrame, keys: list[str]) -> DataFrame:
        groups = regs.select(*keys).distinct()
        full = (
            groups.crossJoin(
                spark.range(_R_M, numPartitions=1).select(F.col("id").alias("bucket"))
            )
            .join(regs, [*keys, "bucket"], "left")
            .select(*keys, F.coalesce("M", F.lit(0)).alias("M"))
        )
        return full.groupBy(*keys).agg(F.expr(est_expr).alias("est"))

    est_day = densify_and_estimate(regs_day, ["event_type", "day"])
    # Rollup merge: max over the DAY registers, never the raw events.
    regs_type = regs_day.groupBy("event_type", "bucket").agg(
        F.max("M").alias("M")
    )
    est_type = densify_and_estimate(regs_type, ["event_type"])

    exact_day = ev.groupBy("event_type", "day").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    exact_type = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )

    def shape(est: DataFrame, exact: DataFrame, keys: list[str], day_lit) -> DataFrame:
        joined = est.join(exact, keys)
        day_col = F.col("day") if day_lit is None else F.lit(day_lit)
        return joined.select(
            "event_type",
            day_col.alias("day"),
            F.col("est").alias("est_distinct_users"),
            F.col("exact_distinct").alias("exact_distinct_users"),
            (
                (F.col("est") - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double")
            ).alias("rel_err"),
        )

    return shape(est_day, exact_day, ["event_type", "day"], None).unionByName(
        shape(est_type, exact_type, ["event_type"], "ALL")
    )


# --- Theta/KMV set-operation sketch -----------------------------------------
THETA_K = 256
_YEAR_A, _YEAR_B = 1995, 1996


def _theta_oracle() -> str:
    from ..functions.hashing import HASH_BITS, hash64_sql_duckdb

    hd = hash64_sql_duckdb("CAST(o_custkey AS VARCHAR)", salt="theta:")
    est = (
        f"CAST(ni.n AS DOUBLE) * CAST((1::BIGINT << {HASH_BITS}) AS DOUBLE)"
        f" / CAST(th.th AS DOUBLE)"
    )
    return f"""
WITH a AS (
  SELECT DISTINCT {hd} AS h FROM orders
  WHERE year(o_orderdate) = {_YEAR_A} ORDER BY h LIMIT {THETA_K}
), b AS (
  SELECT DISTINCT {hd} AS h FROM orders
  WHERE year(o_orderdate) = {_YEAR_B} ORDER BY h LIMIT {THETA_K}
), th AS (
  SELECT least((SELECT MAX(h) FROM a), (SELECT MAX(h) FROM b)) AS th
), ni AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n
  FROM a JOIN b ON a.h = b.h CROSS JOIN th WHERE a.h < th.th
), nu AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT h FROM a UNION SELECT h FROM b) u CROSS JOIN th
  WHERE u.h < th.th
), xa AS (
  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = {_YEAR_A}
), xb AS (
  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = {_YEAR_B}
), xi AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT * FROM xa INTERSECT SELECT * FROM xb)
), xu AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT * FROM xa UNION SELECT * FROM xb)
)
SELECT th.th AS theta,
       ni.n AS n_inter_sample,
       {est} AS est_intersection,
       xi.n AS exact_intersection,
       ({est} - CAST(xi.n AS DOUBLE)) / CAST(xi.n AS DOUBLE) AS rel_err,
       CAST(ni.n AS DOUBLE) / CAST(nu.n AS DOUBLE) AS est_jaccard,
       CAST(xi.n AS DOUBLE) / CAST(xu.n AS DOUBLE) AS exact_jaccard
FROM th, ni, nu, xi, xu
"""


@register(
    "sketch_theta_intersection",
    oracle=_theta_oracle(),
    doc="Theta/KMV set-operation sketch: |customers ordering in "
    f"{_YEAR_A}| intersect |{_YEAR_B}| estimated from two bottom-k "
    "hash samples (k=256).  theta = min of the two k-th smallest "
    "hashes; sample hashes below theta present in BOTH samples "
    "estimate the intersection as n/theta_normalized, and the "
    "sample Jaccard estimates the true Jaccard -- set EXPRESSIONS "
    "over sketches, the capability the theta-sketch family adds over "
    "plain distinct-count HLL.  Each bottom-k is "
    "TakeOrderedAndProject over the distinct hashes (per-partition "
    "top-k, k-row merge -- one scan per side at any scale) and "
    "merges by keeping the k smallest of a union.  Exact "
    "intersection/union and relative error are computed alongside; "
    "the portable hash + integer counts + final identical-operand "
    "divisions make every output bit-identical in the DuckDB oracle.",
    tags=("sketch", "set-ops", "custom-operator"),
)
def sketch_theta_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import HASH_BITS, hash64_sql_spark
    from ..operators.sketches import bottom_k_distinct

    orders = load_table(spark, sf_dir, "orders")
    h = hash64_sql_spark("cast(o_custkey as string)", salt="theta:")

    def bottom_k(year: int) -> DataFrame:
        # Same bounded per-partition pre-reduction as the KMV sketch: the
        # shuffle into each arm's k-row merge is <= k x partitions, not
        # the year's customer NDV.
        return bottom_k_distinct(
            orders.where(F.expr(f"year(o_orderdate) = {year}")).selectExpr(
                f"{h} as h"
            ),
            THETA_K,
        )

    sa, sb = bottom_k(_YEAR_A), bottom_k(_YEAR_B)
    theta = (
        sa.agg(F.max("h").alias("tha"))
        .crossJoin(sb.agg(F.max("h").alias("thb")))
        .select(F.least("tha", "thb").alias("th"))
    )
    ni = (
        sa.join(sb, "h")
        .crossJoin(F.broadcast(theta))
        .where(F.col("h") < F.col("th"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    nu = (
        sa.unionByName(sb)
        .distinct()
        .crossJoin(F.broadcast(theta))
        .where(F.col("h") < F.col("th"))
        .agg(F.count(F.lit(1)).alias("n_union"))
    )

    def exact_keys(year: int) -> DataFrame:
        return (
            orders.where(F.expr(f"year(o_orderdate) = {year}"))
            .select("o_custkey")
            .distinct()
        )

    xi = (
        exact_keys(_YEAR_A)
        .intersect(exact_keys(_YEAR_B))
        .agg(F.count(F.lit(1)).alias("x_inter"))
    )
    xu = (
        exact_keys(_YEAR_A)
        .union(exact_keys(_YEAR_B))
        .distinct()
        .agg(F.count(F.lit(1)).alias("x_union"))
    )
    est = (
        f"cast(n_inter as double)"
        f" * cast(shiftleft(1L, {HASH_BITS}) as double)"
        f" / cast(th as double)"
    )
    return (
        theta.crossJoin(ni)
        .crossJoin(nu)
        .crossJoin(xi)
        .crossJoin(xu)
        .selectExpr(
            "th as theta",
            "n_inter as n_inter_sample",
            f"{est} as est_intersection",
            "x_inter as exact_intersection",
            f"({est} - cast(x_inter as double)) / cast(x_inter as double)"
            " as rel_err",
            "cast(n_inter as double) / cast(n_union as double) as est_jaccard",
            "cast(x_inter as double) / cast(x_union as double) as exact_jaccard",
        )
    )


HIST_BIN_WIDTH = 50.0


@register(
    "sketch_histogram_rollup",
    oracle=f"""
SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week_start,
       CAST(FLOOR(value / {HIST_BIN_WIDTH}) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY week_start, bin
ORDER BY week_start, bin
""",
    doc="Mergeable-histogram rollup: per-DAY fixed-bin value histograms "
    "merged bin-wise into per-WEEK histograms -- the histogram twin of "
    "events_rollup_hll, demonstrating the general principle that any "
    "counter-algebra sketch rolls up WITHOUT rescanning raw data "
    "(merged daily counts == direct weekly counts, which is exactly "
    "what the oracle computes from raw events; equality IS the "
    "mergeability proof).  Daily partials are what a 100 TB deployment "
    "materializes once and re-aggregates to any coarser grain for "
    "free.",
    tags=("sketch", "histogram", "rollup", "mergeable"),
)
def sketch_histogram_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        F.floor(F.col("value") / HIST_BIN_WIDTH).cast("bigint").alias("bin"),
    ).agg(F.count(F.lit(1)).alias("n"))
    weekly = (
        daily.groupBy(
            F.date_format(F.date_trunc("week", "day"), "yyyy-MM-dd").alias(
                "week_start"
            ),
            "bin",
        )
        .agg(F.sum("n").cast("bigint").alias("n"))
        .orderBy("week_start", "bin")
    )
    return weekly


# --- rolling sketch merge: 7-day HLL WAU ---------------------------------------
# The ROLLING twin of events_rollup_hll: per-day HLL registers over
# user_id merged across a 7-day RANGE window (register max) give a
# rolling weekly-active-users estimate per day.  This is the shape that
# survives when exact rolling distincts stop fitting: the raw scan is
# touched ONCE to build |days| x m register rows; every downstream
# operation (dense grid, rolling max, estimate) runs on that
# calendar-bounded table.  Exact rolling distincts ride along for the
# error column (at 100 TB you ship only the sketch arm).  The portable
# hash makes every estimate bit-identical in the DuckDB oracle; the
# window frame is RANGE BETWEEN 6 PRECEDING AND CURRENT ROW on the
# integer epoch-day in both engines.

_ROLL_DAY_US = 86_400_000_000


def _rolling_hll_oracle() -> str:
    from ..operators.sketches import alpha_m

    alpha = alpha_m(_R_M)
    est = (
        f"CAST(CAST({alpha!r} AS DOUBLE) * {_R_M} * {_R_M}"
        f" * CAST((1::BIGINT << 61) AS DOUBLE)"
        f" / CAST(SUM(CAST((1::BIGINT << (61 - Mroll)) AS DECIMAL(38,0)))"
        f" AS DOUBLE) AS DOUBLE)"
    )
    rho_ctes = _hll_rho_ctes(f"epoch_us(ts) // {_ROLL_DAY_US} AS day", "day")
    return f"""
WITH {rho_ctes}, regs_day AS (
  SELECT day, bucket, MAX(rho) AS M FROM rho GROUP BY 1, 2
), days AS (
  SELECT DISTINCT day FROM regs_day
), grid AS (
  SELECT d.day, r.bucket, COALESCE(g.M, 0) AS M
  FROM days d CROSS JOIN range({_R_M}) r(bucket)
  LEFT JOIN regs_day g ON g.day = d.day AND g.bucket = r.bucket
), rolled AS (
  SELECT day, bucket,
         MAX(M) OVER (PARTITION BY bucket ORDER BY day
                      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS Mroll
  FROM grid
), est AS (
  SELECT CAST(day AS BIGINT) AS day, {est} AS est_wau
  FROM rolled GROUP BY day
), presence AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {_ROLL_DAY_US} AS day FROM events
), exact AS (
  SELECT d.day, CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS exact_wau
  FROM days d JOIN presence p
    ON p.day BETWEEN d.day - 6 AND d.day
  GROUP BY d.day
)
SELECT e.day, e.est_wau, x.exact_wau,
       (e.est_wau - CAST(x.exact_wau AS DOUBLE))
         / CAST(x.exact_wau AS DOUBLE) AS rel_err
FROM est e JOIN exact x ON x.day = e.day
ORDER BY e.day
"""


@register(
    "events_rolling_hll_wau",
    oracle=_rolling_hll_oracle(),
    doc="Rolling 7-day weekly-active-users via HLL register merge over a "
    "RANGE window: one raw scan builds |days| x m registers, the "
    "rolling max and estimate run on the calendar-bounded register "
    "table -- the sketch path that replaces exact rolling distincts "
    "at scale; exact values ride along for the error column.",
    tags=("sketch", "events", "window", "rolling", "custom-operator"),
    bench=True,
)
def events_rolling_hll_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import alpha_m

    alpha = alpha_m(_R_M)
    est_expr = (
        f"cast({alpha!r}D * {_R_M} * {_R_M}"
        f" * cast(shiftleft(1L, 61) as double)"
        f" / cast(sum(cast(shiftleft(1L, 61 - Mroll) as decimal(38,0)))"
        f" as double) as double)"
    )
    ev = load_table(spark, sf_dir, "events")
    rho = _hll_rho_spark(
        ev.selectExpr(f"unix_micros(ts) div {_ROLL_DAY_US} as day", "user_id"),
        ["day"],
    )
    regs_day = rho.groupBy("day", "bucket").agg(F.max("rho").alias("M"))
    days = regs_day.select("day").distinct()
    grid = days.selectExpr(
        "day", f"explode(sequence(0, {_R_M - 1})) as bucket"
    ).join(regs_day, ["day", "bucket"], "left").selectExpr(
        "day", "bucket", "coalesce(M, 0) as M"
    )
    w_roll = (
        Window.partitionBy("bucket").orderBy("day").rangeBetween(-6, 0)
    )
    rolled = grid.withColumn("Mroll", F.max("M").over(w_roll))
    est = rolled.groupBy("day").agg(F.expr(est_expr).alias("est_wau"))
    # Exact rolling distinct for the error column: presence explodes to
    # the <= 7 target days it covers (equi-join shape, no range join).
    presence = ev.selectExpr(
        "user_id", f"unix_micros(ts) div {_ROLL_DAY_US} as day"
    ).distinct()
    covered = presence.selectExpr(
        "user_id", "explode(sequence(day, day + 6)) as d"
    ).distinct()
    exact = (
        covered.join(
            F.broadcast(days.withColumnRenamed("day", "d")), "d"
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_wau"))
    )
    return (
        est.join(exact, est.day == exact.d)
        .select(
            F.col("day").cast("bigint").alias("day"),
            "est_wau",
            "exact_wau",
            (
                (F.col("est_wau") - F.col("exact_wau").cast("double"))
                / F.col("exact_wau").cast("double")
            ).alias("rel_err"),
        )
        .orderBy("day")
    )
