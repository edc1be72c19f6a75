"""Portable sketches every engine computes bit-identically: HyperLogLog
(distinct count), Count-Min (frequency / heavy hitters), and KMV bottom-k
(distinct count + deterministic sample).  All three are mergeable -- the
property that makes a sketch useful at 100 TB: each executor sketches its
partition, a tiny reduce combines (max over HLL registers, sum over CMS
counters, k-smallest over KMV sets).

Spark's ``approx_count_distinct`` (HLL++) and DuckDB's
``approx_count_distinct`` are different implementations with different
hashes, so their estimates cannot be cross-checked.  This operator builds
the classic Flajolet HLL from the repo's portable 60-bit md5 hash with
ONLY exact integer/string operations, so the *estimate itself* is
reproducible across engines, cluster sizes and runs -- the property that
makes a sketch auditable in a 100 TB pipeline (re-run anywhere, same
registers, same estimate).

Construction (b register bits, m = 2^b registers):
- h       = portable 60-bit hash of the value (functions.hashing)
- bucket  = h % m                       (low b bits)
- w       = h >> b                      (top 60-b bits)
- rho     = (60 - b) - length(bin(w)) + 1, or 60-b+1 when w = 0
  (leading-zero count + 1; ``length(bin(w))`` is the highest-bit position,
  an exact string/integer op in both engines -- no float log2)
- M_j     = max rho per register (0 for empty registers)
- Z_scaled = sum over ALL m registers of 2^(61 - M_j)  -- the harmonic-mean
  denominator scaled by 2^61 so it sums EXACTLY in DECIMAL(38,0): float
  summation order would differ between engines, integers cannot.
- estimate = alpha_m * m^2 * 2^61 / Z_scaled, one double division at the
  end (identical operands -> identical IEEE result).

The raw (uncorrected) estimator is used: the small-range correction needs
``ln``, whose last-ulp behavior differs between JVM and C libm, which
would break bit-exactness.  Callers should size m well below the expected
distinct count (raw-estimator regime); the registered query reports the
exact count and relative error alongside, so accuracy is measured, not
assumed.

Scale shape: one scan computing (bucket, rho), one m-bounded partial
aggregate (map-side combine reduces every partition to <= m rows), one
m-row final aggregate.  This is the textbook mergeable-sketch dataflow --
registers combine with max(), so the same code distributes over any
partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import HASH_BITS, hash64_sql_duckdb, hash64_sql_spark
from ..runtime import track_persist


def alpha_m(m: int) -> float:
    """Flajolet et al. 2007 bias constants; the float literal is embedded in
    BOTH engines' SQL so the arithmetic starts from the identical double."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_bucket_rho_spark(value_expr: str, b: int) -> tuple[str, str, str]:
    """Spark SQL fragments (bucket, w, rho-from-w) for one HLL row -- the
    per-row part of the sketch, shared by the batch estimator and the
    windowed streaming register query."""
    m = 1 << b
    top = HASH_BITS - b
    h = hash64_sql_spark(value_expr)
    return (
        f"({h}) % {m}",
        f"shiftright({h}, {b})",
        f"case when w = 0 then {top + 1} else {top} - length(bin(w)) + 1 end",
    )


def hll_bucket_rho_duckdb(value_expr: str, b: int) -> tuple[str, str, str]:
    """DuckDB fragments computing the identical (bucket, w, rho)."""
    m = 1 << b
    top = HASH_BITS - b
    h = hash64_sql_duckdb(value_expr)
    return (
        f"({h}) % {m}",
        f"(({h}) >> {b})",
        f"CASE WHEN w = 0 THEN {top + 1}"
        f" ELSE {top} - length(format('{{:b}}', w)) + 1 END",
    )


def hll_estimate(df: DataFrame, value_expr: str, b: int = 8) -> DataFrame:
    """One-row DataFrame with the portable-HLL distinct estimate of
    ``value_expr`` (a Spark SQL expression) as ``est_distinct`` double."""
    m = 1 << b
    top = HASH_BITS - b
    h = hash64_sql_spark(value_expr)
    sel = df.selectExpr(
        f"({h}) % {m} as bucket",
        f"shiftright({h}, {b}) as w",
    ).selectExpr(
        "bucket",
        f"case when w = 0 then {top + 1} else {top} - length(bin(w)) + 1 end as rho",
    )
    regs = sel.groupBy("bucket").agg(F.max("rho").alias("M"))
    spark = df.sparkSession
    all_regs = (
        spark.range(m, numPartitions=1)
        .select(F.col("id").alias("bucket"))
        .join(regs, "bucket", "left")
        .select(F.coalesce("M", F.lit(0)).alias("M"))
    )
    alpha = alpha_m(m)
    return all_regs.agg(
        F.expr(
            f"cast({alpha!r}D * {m} * {m} * cast(shiftleft(1L, 61) as double)"
            f" / cast(sum(cast(shiftleft(1L, 61 - M) as decimal(38,0))) as double)"
            " as double)"
        ).alias("est_distinct")
    )


def cms_sketch(items: DataFrame, value_col: str, d: int = 4, w: int = 1024) -> DataFrame:
    """Count-Min sketch of an item stream: one row per (hash row r, bucket)
    with the exact occurrence count landing there.

    ``items`` has one row per occurrence; ``value_col`` is the item.  Each
    of the ``d`` hash rows maps the item to one of ``w`` buckets via the
    portable salted md5 hash, so the full sketch is d*w integer counters --
    exact sums, hence bit-identical cross-engine, and mergeable by adding
    counters (the property that lets every executor sketch its partition
    and a reduce combine them; here that IS the groupBy's partial
    aggregation).  Point estimate for an item = min over rows of its
    bucket's counter; always >= the true count (collisions only inflate).

    Scale shape: one explode by d (constant), one w*d-bounded groupBy --
    the shuffled state is the sketch size, independent of N.
    """
    structs = [
        F.struct(
            F.lit(r).alias("r"),
            F.expr(f"{hash64_sql_spark(value_col, salt=f'cm{r}:')} % {w}").alias(
                "bucket"
            ),
        )
        for r in range(d)
    ]
    return (
        items.select(F.explode(F.array(*structs)).alias("rb"))
        .select(F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_duckdb_cte(items_sql: str, value_col: str, d: int = 4, w: int = 1024) -> str:
    """DuckDB CTE body computing the identical (r, bucket, cnt) sketch from
    ``items_sql`` (a SELECT producing one row per occurrence)."""
    arms = " UNION ALL ".join(
        f"SELECT {r} AS r, ({hash64_sql_duckdb(value_col, salt=f'cm{r}:')}) % {w}"
        f" AS bucket FROM cms_items"
        for r in range(d)
    )
    return f"""cms_items AS ({items_sql}),
cms AS (
  SELECT r, bucket, COUNT(*) AS cnt FROM ({arms}) GROUP BY r, bucket
)"""


def bottom_k_distinct(hashed: DataFrame, k: int) -> DataFrame:
    """The ``k`` smallest DISTINCT values of ``hashed``'s single BIGINT
    column ``h``, with shuffle bounded by the SKETCH size, not the NDV.

    The naive ``distinct().orderBy().limit(k)`` plan dedups map-side but
    still shuffles every per-partition-distinct hash into the final
    aggregate -- rows that track NDV (measured ~8.4x per 10x rows, 15.6s
    at 50M, results/scale_probe.txt).  Here each input partition first
    reduces itself to its own bottom-k distinct set inside one
    Arrow-batched pass (bounded state: a sorted unique int64 array capped
    at k, merged batch by batch), so at most ``k x n_partitions`` rows
    reach the final distinct -> TakeOrderedAndProject merge.  k-smallest
    of the union of per-partition k-smallest sets IS the estimator's own
    merge rule, so the result is bit-identical to the naive form -- the
    mergeability that makes the KMV/theta family work at 100 TB, applied
    inside one job.
    """

    def _partition_bottom_k(batches):
        import numpy as np
        import pandas as pd

        best = np.empty(0, dtype=np.int64)
        for pdf in batches:
            vals = pdf["h"].to_numpy(dtype=np.int64, copy=False)
            best = np.unique(np.concatenate([best, vals]))[:k]
        if best.size:
            yield pd.DataFrame({"h": best})

    pre = hashed.mapInPandas(_partition_bottom_k, "h bigint")
    return pre.distinct().orderBy("h").limit(k)


def kmv_estimate(df: DataFrame, value_expr: str, k: int = 256) -> DataFrame:
    """One-row DataFrame with the KMV (bottom-k) distinct estimate of
    ``value_expr``: keep the k smallest distinct 60-bit hashes; the k-th
    smallest h_k estimates ndv as (k-1) * 2^60 / h_k.

    Everything up to the final division is exact integer work on the
    portable hash, so the estimate is bit-identical cross-engine.  The
    bottom-k set is also a deterministic uniform corpus sample and merges
    by keeping the k smallest of a union -- the mergeability story of the
    KMV/theta sketch family.  The bottom-k runs through
    :func:`bottom_k_distinct`: a per-partition bounded pre-reduction, then
    distinct -> TakeOrderedAndProject over <= k x partitions rows -- never
    an NDV-sized shuffle, never a full sort.
    """
    h = hash64_sql_spark(value_expr)
    mins = bottom_k_distinct(df.selectExpr(f"{h} as h"), k)
    return mins.agg(
        F.expr(
            f"cast({float(k - 1)!r}D * cast(shiftleft(1L, {HASH_BITS}) as double)"
            " / cast(max(h) as double) as double)"
        ).alias("est_distinct")
    )


def kmv_estimate_duckdb(table_expr: str, value_expr: str, k: int = 256) -> str:
    """DuckDB scalar subquery computing the bit-identical KMV estimate."""
    h = hash64_sql_duckdb(value_expr)
    return f"""(
  SELECT CAST(CAST({float(k - 1)!r} AS DOUBLE) * CAST((1::BIGINT << {HASH_BITS}) AS DOUBLE)
              / CAST(MAX(h) AS DOUBLE) AS DOUBLE)
  FROM (SELECT DISTINCT {h} AS h FROM {table_expr} ORDER BY h LIMIT {k})
)"""


def histogram_quantiles(
    df: DataFrame,
    value_expr: str,
    width: int,
    quantiles: tuple[tuple[int, int], ...],
) -> DataFrame:
    """Mergeable fixed-width histogram + quantile estimates.

    The sketch is the (bin, count) table with ``bin = floor(value/width)``:
    integer counters that merge by addition, so every executor histograms
    its partition and one bounded groupBy combines them -- state is
    ``value_range/width`` counters, independent of N (the same contract as
    the CMS/HLL sketches).  Quantile q = qn/qd is estimated by linear
    interpolation inside the first bin whose cumulative count reaches the
    integer rank ``t = ceil(qn*N/qd)`` (computed with integer arithmetic,
    no float rank).  The EXACT quantile is computed alongside from the
    per-value count table (groupBy value + cumulative sum -- still no
    global row sort), so the estimate is audited in-query.

    ``quantiles`` are (numerator, denominator) pairs; everything up to the
    final interpolation/relative-error divisions is exact integer work, so
    the output doubles are bit-identical cross-engine.

    Plan shape: the corpus is scanned EXACTLY ONCE, into the per-value
    count table (a map-side-combined groupBy).  That table is
    sketch-sized, persisted (released via :func:`runtime.release_caches`), and
    every other relation -- bins, total, cumulative sums, rank targets --
    derives from it, so the half-dozen plan branches below re-read a few
    hundred cached rows, not the corpus.
    """
    v = f"cast({value_expr} as bigint)"
    vals = track_persist(
        df.selectExpr(f"{v} as v")
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("vcnt"))
    )
    bins = (
        vals.selectExpr(
            f"cast(floor(v / {width}) as bigint) as bin", "vcnt"
        )
        .groupBy("bin")
        .agg(F.sum("vcnt").alias("cnt"))
    )
    from pyspark.sql import Window

    # Cumulative sums run over the BOUNDED bin/value tables (sketch-sized,
    # not corpus-sized); the single-partition window is over <= range/width
    # rows.
    # global-window: bin table, bounded by value_range/width (sketch-sized)
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "bin", "cnt", F.sum("cnt").over(wb).alias("cum")
    ).withColumn("cum_before", F.col("cum") - F.col("cnt"))
    # global-window: per-value count table, bounded by the value RANGE
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    vcum = vals.select("v", F.sum("vcnt").over(wv).alias("vcum"))

    total = vals.agg(F.sum("vcnt").alias("n_rows"))
    targets = (
        total.select(
            "n_rows",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(qn).alias("qn"), F.lit(qd).alias("qd")
                        )
                        for qn, qd in quantiles
                    ]
                )
            ).alias("q"),
        )
        .select("n_rows", "q.qn", "q.qd")
        # integer ceil(qn*N/qd): no float rank arithmetic anywhere
        .withColumn(
            "t",
            F.expr("cast((qn * n_rows + qd - 1) div qd as bigint)"),
        )
    )
    qbin = (
        targets.crossJoin(cum)
        .where(F.col("cum") >= F.col("t"))
        .groupBy("qn", "qd", "t")
        .agg(F.min("bin").alias("bin"))
        .join(cum, "bin")
    )
    qexact = (
        targets.select("qn", "qd", "t")
        .crossJoin(vcum)
        .where(F.col("vcum") >= F.col("t"))
        .groupBy("qn", "qd")
        .agg(F.min("v").alias("exact_value"))
    )
    return (
        qbin.join(qexact, ["qn", "qd"])
        .select(
            F.expr("cast(qn as double) / cast(qd as double)").alias("quantile"),
            F.expr(
                f"cast(bin * {width} as double)"
                f" + cast({width} * (t - cum_before) as double)"
                " / cast(cnt as double)"
            ).alias("est_value"),
            F.col("exact_value").cast("bigint").alias("exact_value"),
        )
        .withColumn(
            "rel_err",
            (F.col("est_value") - F.col("exact_value").cast("double"))
            / F.col("exact_value").cast("double"),
        )
    )


def histogram_quantiles_duckdb(
    table_expr: str,
    value_expr: str,
    width: int,
    quantiles: tuple[tuple[int, int], ...],
) -> str:
    """DuckDB SQL computing the identical histogram quantile table."""
    v = f"CAST({value_expr} AS BIGINT)"
    qrows = " UNION ALL ".join(
        f"SELECT {qn} AS qn, {qd} AS qd" for qn, qd in quantiles
    )
    return f"""
WITH hq_bins AS (
  SELECT CAST(FLOOR(({v}) / {width}) AS BIGINT) AS bin, COUNT(*) AS cnt
  FROM {table_expr} GROUP BY 1
),
hq_cum AS (
  SELECT bin, cnt,
         SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) - cnt
           AS cum_before
  FROM hq_bins
),
hq_vals AS (
  SELECT {v} AS val, COUNT(*) AS vcnt FROM {table_expr} GROUP BY 1
),
hq_vcum AS (
  SELECT val,
         SUM(vcnt) OVER (ORDER BY val ROWS UNBOUNDED PRECEDING) AS vcum
  FROM hq_vals
),
hq_targets AS (
  SELECT qn, qd,
         CAST((qn * n_rows + qd - 1) // qd AS BIGINT) AS t
  FROM ({qrows}), (SELECT SUM(cnt) AS n_rows FROM hq_bins)
),
hq_qbin AS (
  SELECT g.qn, g.qd, g.t, c.bin, c.cnt, c.cum_before
  FROM (
    SELECT tg.qn, tg.qd, tg.t, MIN(cm.bin) AS bin
    FROM hq_targets tg JOIN hq_cum cm ON cm.cum >= tg.t
    GROUP BY 1, 2, 3
  ) g JOIN hq_cum c ON c.bin = g.bin
),
hq_exact AS (
  SELECT tg.qn, tg.qd, MIN(vc.val) AS exact_value
  FROM hq_targets tg JOIN hq_vcum vc ON vc.vcum >= tg.t
  GROUP BY 1, 2
)
SELECT CAST(b.qn AS DOUBLE) / CAST(b.qd AS DOUBLE) AS quantile,
       CAST(b.bin * {width} AS DOUBLE)
         + CAST({width} * (b.t - b.cum_before) AS DOUBLE)
           / CAST(b.cnt AS DOUBLE) AS est_value,
       CAST(e.exact_value AS BIGINT) AS exact_value,
       (CAST(b.bin * {width} AS DOUBLE)
          + CAST({width} * (b.t - b.cum_before) AS DOUBLE)
            / CAST(b.cnt AS DOUBLE)
        - CAST(e.exact_value AS DOUBLE)) / CAST(e.exact_value AS DOUBLE)
         AS rel_err
FROM hq_qbin b JOIN hq_exact e ON e.qn = b.qn AND e.qd = b.qd
"""


def hll_estimate_duckdb(table_expr: str, value_expr: str, b: int = 8) -> str:
    """DuckDB SQL computing the bit-identical estimate (scalar subquery
    text; ``table_expr`` is a FROM-able relation)."""
    m = 1 << b
    top = HASH_BITS - b
    h = hash64_sql_duckdb(value_expr)
    alpha = alpha_m(m)
    return f"""(
  WITH hll_sel AS (
    SELECT ({h}) % {m} AS bucket, (({h}) >> {b}) AS w
    FROM {table_expr}
  ),
  hll_rho AS (
    SELECT bucket,
           CASE WHEN w = 0 THEN {top + 1}
                ELSE {top} - length(format('{{:b}}', w)) + 1 END AS rho
    FROM hll_sel
  ),
  hll_regs AS (
    SELECT r.bucket, COALESCE(MAX(h.rho), 0) AS M
    FROM range({m}) r(bucket)
    LEFT JOIN hll_rho h ON h.bucket = r.bucket
    GROUP BY r.bucket
  )
  SELECT CAST(CAST({alpha!r} AS DOUBLE) * {m} * {m} * CAST((1::BIGINT << 61) AS DOUBLE)
              / CAST(SUM(CAST((1::BIGINT << (61 - M)) AS DECIMAL(38,0))) AS DOUBLE)
         AS DOUBLE)
  FROM hll_regs
)"""


# ---------------------------------------------------------------------------
# Bloom filter: compact broadcastable set membership, bit-identical across
# engines.  60-bit words sidestep sign-bit semantics differences entirely
# (1 << bit stays positive), and bit_or is an exact integer aggregate in
# both engines, so the filter -- like the other sketches -- is itself under
# the correctness gate.  Mergeable: word-wise bit_or combines partition
# filters, the 100 TB property.
# ---------------------------------------------------------------------------

BLOOM_WORD_BITS = 60


def bloom_positions_spark(value_expr: str, m_bits: int, k: int) -> list[str]:
    return [
        f"(({hash64_sql_spark(value_expr, salt=f'bloom{i}:')}) % {m_bits})"
        for i in range(k)
    ]


def bloom_positions_duckdb(value_expr: str, m_bits: int, k: int) -> list[str]:
    return [
        f"(({hash64_sql_duckdb(value_expr, salt=f'bloom{i}:')}) % {m_bits})"
        for i in range(k)
    ]


def bloom_build(values: DataFrame, value_col: str, m_bits: int, k: int) -> DataFrame:
    """(word, bits) rows of the filter over the distinct values: explode the
    k probe positions, one map-side-combined bit_or shuffle bounded by
    m_bits/60 rows."""
    pos = values.select(
        F.explode(
            F.array(
                *[F.expr(p) for p in bloom_positions_spark(value_col, m_bits, k)]
            )
        ).alias("pos")
    )
    return (
        pos.select(
            F.expr(f"pos div {BLOOM_WORD_BITS}").alias("word"),
            F.expr(f"pos % {BLOOM_WORD_BITS}").alias("bit"),
        )
        .groupBy("word")
        .agg(
            F.expr(
                "bit_or(shiftleft(cast(1 as bigint), cast(bit as int)))"
            ).alias("bits")
        )
    )


def bloom_build_duckdb_cte(values_sql: str, value_col: str, m_bits: int, k: int) -> str:
    """CTE text producing the identical (word, bits) filter in DuckDB;
    ``values_sql`` must select the value column as ``{value_col}``."""
    pos_list = ", ".join(bloom_positions_duckdb(value_col, m_bits, k))
    return f"""
bloom_pos AS (
  SELECT unnest([{pos_list}]) AS pos FROM ({values_sql})
),
bloom_filt AS (
  SELECT pos // {BLOOM_WORD_BITS} AS word,
         bit_or(1::BIGINT << CAST(pos % {BLOOM_WORD_BITS} AS INT)) AS bits
  FROM bloom_pos GROUP BY 1
)"""
