"""Sink queries: the write-side layouts that matter at 100 TB.

The reference's only sink is a single-row-group parquet file per corpus
(`flush`, e.g. /root/reference/src/format/plain_json.rs:32-45) -- an
anti-pattern at scale (SURVEY.md §4).  This module supplies the layouts a
real deployment writes instead, each one exercised end-to-end (write, read
back, value-check against the DuckDB oracle over the ORIGINAL table -- a
lossy sink cannot pass):

- hive-partitioned parquet (partition pruning: a reader with a partition
  predicate touches only matching directories; pinned by
  tests/test_plans.py::test_partitioned_read_prunes_partitions).
- NDJSON text export (the reference's decode arm O6-O9 written back out as
  a line-per-doc corpus -- source/sink symmetry with sources/ndjson.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..runtime import scoped_conf, scratch_dir, sf_tag
from ..tables import load_table, table_path
from .registry import register

# Overwrite only the partitions the written frame holds, for one write.
_DYNAMIC_OVERWRITE = {"spark.sql.sources.partitionOverwriteMode": "dynamic"}


def partitioned_events_path(sf_dir: str) -> str:
    return scratch_dir(sf_dir, "events_by_type_day")


def write_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Write events hive-partitioned by (event_type, day): the layout that
    turns the dominant predicate (type + time range) into directory pruning
    at any scale.

    The REBALANCE hint before the write is the file-count fix: without a
    pre-shuffle on the partition keys, every write task emits one file
    per (type, day) it happens to hold -- O(tasks x partitions) files
    (measured 15,587 files / 37.4s at 500k staged rows).  The AQE
    rebalance clusters rows by the partition keys AND splits oversized
    key groups to bounded task sizes, so the job writes ~one file per
    hive partition (measured 488 files / 2.6s, results/scale_probe.txt)
    -- the standard lakehouse write shape at any scale."""
    out = partitioned_events_path(sf_dir)
    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    (
        events.hint("rebalance", "event_type", "day")
        .write.mode("overwrite")
        .partitionBy("event_type", "day")
        .parquet(out)
    )
    return out


@register(
    "sink_partitioned_events",
    oracle="""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE event_type = 'click'
GROUP BY 1
""",
    doc="Partitioned parquet sink + pruned read-back: events written "
    "hive-partitioned by (event_type, day), then read with a partition "
    "predicate and aggregated.  The oracle runs on the ORIGINAL table, so "
    "a lossy write or wrong partition mapping fails the value check; the "
    "pruning itself is pinned by a plan test.",
    tags=("sink", "partitioning", "pruning"),
)
def sink_partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = write_partitioned_events(spark, sf_dir)
    back = spark.read.parquet(out).where(F.col("event_type") == "click")
    return back.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("cast(sum(cast(value as decimal(18,2))) as double)").alias(
            "total_value"
        ),
    )


@register(
    "sink_ndjson_export",
    oracle="SELECT md5(props) AS line_hash FROM events",
    doc="NDJSON text sink: the decode arm (O6-O9) written back out as a "
    "line-per-document corpus and re-read through the NDJSON source -- "
    "per-line hashes must match the original column exactly "
    "(source/sink symmetry; reference only ever reads NDJSON, "
    "/root/reference/src/codec.rs:8-19).",
    tags=("sink", "source", "ndjson"),
)
def sink_ndjson_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.ndjson import read_ndjson_raw

    out = scratch_dir(sf_dir, "events_props_ndjson")
    events = load_table(spark, sf_dir, "events")
    events.select(F.col("props").alias("value")).write.mode("overwrite").text(out)
    back = read_ndjson_raw(spark, out)
    return back.select(F.md5("doc").alias("line_hash"))


N_BUCKETS = 8


def write_bucketed_order_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    """Write orders + lineitem as BUCKETED tables on the join key
    (bucketBy(8, orderkey) + sortBy within buckets) -- the layout that
    turns the repeated fact-fact join into a ZERO-SHUFFLE SortMergeJoin:
    both scans arrive hash-distributed by bucket, so Catalyst plans the
    join with no Exchange on either side.  At 100 TB this is THE standard
    amortization: pay the shuffle once at write time, join for free every
    read after.

    External tables (explicit scratch paths) so any session's in-memory
    catalog can own them, including the driver's vanilla one; memoized per
    session+sf via the catalog itself.
    """
    tag = sf_tag(sf_dir)
    t_orders = f"jfipb_orders_bucketed_{tag}"
    t_li = f"jfipb_lineitem_bucketed_{tag}"
    if spark.catalog.tableExists(t_orders) and spark.catalog.tableExists(t_li):
        return t_orders, t_li
    spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
    spark.sql(f"DROP TABLE IF EXISTS {t_li}")
    (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite")
        .option("path", scratch_dir(sf_dir, "bucketed_orders"))
        .bucketBy(N_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .format("parquet")
        .saveAsTable(t_orders)
    )
    (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .write.mode("overwrite")
        .option("path", scratch_dir(sf_dir, "bucketed_lineitem"))
        .bucketBy(N_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .format("parquet")
        .saveAsTable(t_li)
    )
    return t_orders, t_li


@register(
    "sink_bucketed_join",
    oracle="""
SELECT o_orderpriority,
       COUNT(DISTINCT o_orderkey) AS n_orders,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1
""",
    doc="Bucketed-table sink + ZERO-SHUFFLE join read-back: orders and "
    "lineitem written bucketBy(8, orderkey)+sortBy, then joined from the "
    "bucketed scans -- Catalyst plans the SortMergeJoin with NO Exchange "
    "on either side (pinned by tests/test_plans.py).  The co-location "
    "answer to join_sortmerge_order_fulfilment's docstring: pay the "
    "shuffle once at write time, join shuffle-free every read after.  "
    "The oracle runs on the ORIGINAL tables, so a lossy or misbucketed "
    "write fails the value check.",
    tags=("sink", "bucketing", "join", "zero-shuffle"),
    bench=True,
)
def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t_orders, t_li = write_bucketed_order_tables(spark, sf_dir)
    o = spark.table(t_orders)
    li = spark.table(t_li)
    # merge-hinted (as join_sortmerge_order_fulfilment) so the plan is the
    # zero-shuffle SortMergeJoin the bucketed layout exists for, even at
    # test scale where the optimizer would otherwise broadcast.
    return (
        o.hint("merge").join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.expr(
                "cast(sum(cast(l_extendedprice as decimal(18,2))"
                " * (1 - cast(l_discount as decimal(18,2))))"
                " as double)"
            ).alias("revenue"),
        )
    )


TARGET_FILE_BYTES = 4 * 1024 * 1024  # compaction target (4 MiB at test scale)


def write_compacted_events(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Small-file compaction: rewrite events into ceil(input_bytes/target)
    equally-sized parquet files.

    The small-file problem is the operational scale killer of long-running
    ingestion (every micro-batch leaves a file; a year of 1-minute batches
    is 500k files whose METADATA dominates planning).  Compaction sizes the
    output from the INPUT's actual bytes -- the same arithmetic a real
    compactor (Delta OPTIMIZE, Iceberg rewrite_data_files) runs -- and a
    round-robin repartition(n) spreads rows evenly across exactly n files.
    """
    out = scratch_dir(sf_dir, "events_compacted")
    events = load_table(spark, sf_dir, "events")
    src = table_path(sf_dir, "events")
    if os.path.isdir(src):
        in_bytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(src)
            for f in fs
        )
    else:
        in_bytes = os.path.getsize(src)
    n_files = max(1, -(-in_bytes // TARGET_FILE_BYTES))
    events.repartition(n_files).write.mode("overwrite").parquet(out)
    return out, n_files


@register(
    "sink_merge_upsert",
    oracle="""
WITH changes AS (
  -- updates: every 7th event re-arrives with a doubled value
  SELECT event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 2 AS DOUBLE) AS value,
         user_id
  FROM events WHERE event_id % 7 = 0
  UNION ALL
  -- inserts: late events with fresh ids above the current max
  SELECT event_id + (SELECT MAX(event_id) + 1 FROM events) AS event_id,
         CAST(CAST(value AS DECIMAL(18,2)) + 1 AS DOUBLE) AS value,
         user_id
  FROM events WHERE event_id % 97 = 0
),
merged AS (
  SELECT e.event_id, CAST(CAST(e.value AS DECIMAL(18,2)) AS DOUBLE) AS value,
         e.user_id
  FROM events e ANTI JOIN changes c ON e.event_id = c.event_id
  UNION ALL
  SELECT event_id, value, user_id FROM changes
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       bit_xor(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT)
         AS id_checksum
FROM merged
""",
    doc="MERGE INTO (upsert) sink without a table format: a deterministic "
    "changes batch (updates = every 7th event with doubled value, inserts "
    "= fresh ids above max) merged into the base table as "
    "base ANTI-JOIN changes UNION changes -- the WHEN MATCHED UPDATE / "
    "WHEN NOT MATCHED INSERT semantics of Delta/Iceberg MERGE expressed "
    "as one Catalyst plan, written to parquet and value-checked from the "
    "read-back.  At 100 TB both sides hash-join on the merge key and the "
    "rewrite is partition-local; the checksum pins the exact post-merge "
    "id set, not just the counts.",
    tags=("sink", "merge", "upsert"),
    bench=True,
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash64_sql_spark

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "value", "user_id"
    )
    max_id = F.lit(
        events.agg(F.max("event_id")).collect()[0][0] + 1
    )  # one scalar job, the same MAX the oracle's subquery computes
    updates = events.where(F.col("event_id") % 7 == 0).select(
        "event_id",
        F.expr("cast(cast(value as decimal(18,2)) * 2 as double)").alias("value"),
        "user_id",
    )
    inserts = events.where(F.col("event_id") % 97 == 0).select(
        (F.col("event_id") + max_id).alias("event_id"),
        F.expr("cast(cast(value as decimal(18,2)) + 1 as double)").alias("value"),
        "user_id",
    )
    changes = updates.unionByName(inserts)
    merged = (
        events.select(
            "event_id",
            F.expr("cast(cast(value as decimal(18,2)) as double)").alias("value"),
            "user_id",
        )
        .join(changes.select("event_id"), "event_id", "left_anti")
        .unionByName(changes)
    )
    out = scratch_dir(sf_dir, "events_merged")
    merged.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("cast(sum(cast(value as decimal(18,2))) as double)").alias(
            "total_value"
        ),
        F.expr(
            f"bit_xor({hash64_sql_spark('cast(event_id as string)')})"
        ).alias("id_checksum"),
    )


@register(
    "sink_compacted_events",
    oracle="""
SELECT event_id, md5(props) AS props_hash, user_id
FROM events
""",
    doc="Compaction sink: events rewritten into ceil(bytes/target) "
    "equally-sized parquet files (the anti-small-file maintenance "
    "rewrite every long-running ingestion needs; the reference's "
    "single-row-group flush is the opposite failure mode, one giant "
    "unsplittable batch).  The read-back is value-checked row-by-row "
    "against the ORIGINAL table, so the rewrite must be lossless; the "
    "file-count arithmetic is asserted in tests.",
    tags=("sink", "compaction"),
)
def sink_compacted_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, _ = write_compacted_events(spark, sf_dir)
    back = spark.read.parquet(out)
    return back.select(
        "event_id", F.md5("props").alias("props_hash"), "user_id"
    )


# --- Z-order clustering sink -------------------------------------------------

ZB_BITS = 8  # bits per dimension on the (x, y) grid
Z_BUCKETS = 64  # physical files per layout


def _bit_expr(col: str, i: int, weight: int) -> str:
    # ((col div 2^i) % 2) * weight -- pure positive-int arithmetic, parses
    # and evaluates identically in Spark SQL ('div') and DuckDB ('//').
    return f"(({col} div {1 << i}) % 2) * {weight}"


def _bit_expr_duck(col: str, i: int, weight: int) -> str:
    return f"(({col} // {1 << i}) % 2) * {weight}"


def zvalue_sql(x: str, y: str, spark_side: bool) -> str:
    """Morton (Z-order) interleave of two ZB_BITS-wide dimensions."""
    f = _bit_expr if spark_side else _bit_expr_duck
    terms = []
    for i in range(ZB_BITS):
        terms.append(f(x, i, 1 << (2 * i)))
        terms.append(f(y, i, 1 << (2 * i + 1)))
    return "(" + " + ".join(terms) + ")"


def zorder_events_path(sf_dir: str, layout: str) -> str:
    return scratch_dir(sf_dir, f"events_{layout}")


_X_DEF = "user_id % 256"
_Y_DEF = "(unix_micros(ts) div 3600000000) % 256"
_Y_DEF_DUCK = "(epoch_us(ts) // 3600000000) % 256"
# The probe predicate: a 2-D box (a user slice x a time slice) -- the shape
# of "these users, that week" investigative queries.
BOX = {"x_lo": 32, "x_hi": 47, "y_lo": 64, "y_hi": 95}


@register(
    "sink_zorder_events",
    oracle=f"""
WITH pts AS (
  SELECT CAST({_X_DEF} AS BIGINT) AS x,
         CAST({_Y_DEF_DUCK} AS BIGINT) AS y
  FROM events
),
tagged AS (
  SELECT x, y,
         CAST({zvalue_sql('x', 'y', False)} // {(1 << (2 * ZB_BITS)) // Z_BUCKETS}
              AS INT) AS zbucket,
         CAST(y // {256 // Z_BUCKETS} AS INT) AS linbucket
  FROM pts
),
stats AS (
  SELECT 'zorder' AS layout, zbucket AS bucket, COUNT(*) AS n_rows,
         MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
  FROM tagged GROUP BY zbucket
  UNION ALL
  SELECT 'linear', linbucket, COUNT(*),
         MIN(x), MAX(x), MIN(y), MAX(y)
  FROM tagged GROUP BY linbucket
)
SELECT layout, bucket, n_rows, min_x, max_x, min_y, max_y,
       CAST(max_x < {BOX['x_lo']} OR min_x > {BOX['x_hi']}
            OR max_y < {BOX['y_lo']} OR min_y > {BOX['y_hi']} AS INT)
         AS pruned
FROM stats
""",
    doc="Z-order (Morton) clustering sink vs naive time-linear layout: "
    "events are bucketed by the interleaved bits of (user slice, hour "
    "slice) and written one file per bucket, then per-file min/max "
    "column stats decide which files a 2-D box predicate can SKIP -- "
    "exactly the parquet row-group/file pruning a lakehouse OPTIMIZE "
    "ZORDER buys.  The linear layout prunes on time but every file "
    "spans all users (pruned=0 for every in-range hour slice); the "
    "Z-order layout bounds both dimensions per file -- measured on the "
    "testdata, ONE z-file survives the probe box vs eight linear files, "
    "a 5x scan reduction that widens with file count.  Stats are "
    "computed from the written files "
    "(read-back), proving the persisted organization, not just the "
    "expression.",
    tags=("sink", "zorder", "clustering", "pruning"),
)
def sink_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pts = events.select(
        F.expr(f"cast({_X_DEF} as bigint)").alias("x"),
        F.expr(f"cast({_Y_DEF} as bigint)").alias("y"),
    )
    zdiv = (1 << (2 * ZB_BITS)) // Z_BUCKETS
    tagged = pts.select(
        "x",
        "y",
        F.expr(f"cast({zvalue_sql('x', 'y', True)} div {zdiv} as int)").alias(
            "zbucket"
        ),
        F.expr(f"cast(y div {256 // Z_BUCKETS} as int)").alias("linbucket"),
    )
    outs = {}
    for layout, bucket_col in (("zorder", "zbucket"), ("linear", "linbucket")):
        out = zorder_events_path(sf_dir, layout)
        (
            tagged.select("x", "y", F.col(bucket_col).alias("bucket"))
            .repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(out)
        )
        outs[layout] = out
    stats = None
    for layout, out in outs.items():
        back = spark.read.parquet(out)
        st = back.groupBy(
            F.col("bucket").cast("int").alias("bucket")
        ).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        ).select(F.lit(layout).alias("layout"), "*")
        stats = st if stats is None else stats.unionByName(st)
    return stats.select(
        "layout",
        "bucket",
        "n_rows",
        "min_x",
        "max_x",
        "min_y",
        "max_y",
        (
            (F.col("max_x") < BOX["x_lo"])
            | (F.col("min_x") > BOX["x_hi"])
            | (F.col("max_y") < BOX["y_lo"])
            | (F.col("min_y") > BOX["y_hi"])
        )
        .cast("int")
        .alias("pruned"),
    )


# --- Snapshot diff (CDC-style change detection) ------------------------------

_DIFF_MOD = 20  # 1/20 deleted, 1/20 updated, 1/20 inserted


@register(
    "table_diff_snapshots",
    oracle=f"""
WITH a AS (
  SELECT event_id,
         md5(CAST(epoch_us(ts) AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)
             || ':' || event_type || ':'
             || CAST(CAST(FLOOR(value * 1e8) AS BIGINT) AS VARCHAR)) AS row_hash
  FROM events
),
b AS (
  SELECT event_id,
         md5(CAST(epoch_us(ts) AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)
             || ':' || event_type || ':'
             || CAST(CAST(FLOOR(value * 1e8) AS BIGINT)
                     + CASE WHEN event_id % {_DIFF_MOD} = 1 THEN 100000000
                            ELSE 0 END AS VARCHAR)) AS row_hash
  FROM events WHERE event_id % {_DIFF_MOD} <> 0
  UNION ALL
  SELECT event_id + 10000000,
         md5('ins:' || CAST(event_id AS VARCHAR))
  FROM events WHERE event_id % {_DIFF_MOD} = 2
),
diff AS (
  SELECT COALESCE(a.event_id, b.event_id) AS event_id,
         CASE WHEN b.event_id IS NULL THEN 'deleted'
              WHEN a.event_id IS NULL THEN 'inserted'
              WHEN a.row_hash <> b.row_hash THEN 'updated'
              ELSE 'unchanged' END AS change_type
  FROM a FULL OUTER JOIN b ON a.event_id = b.event_id
)
SELECT change_type,
       COUNT(*) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum
FROM diff
GROUP BY change_type
""",
    doc="Snapshot diff / change detection (the CDC audit between two table "
    "versions): full outer join on the key with a row-payload hash "
    "compare classifies every key as inserted / deleted / updated / "
    "unchanged.  The 'new' snapshot is derived deterministically from "
    "the old one (1/20 deleted, 1/20 value-bumped, 1/20 fresh keys) so "
    "the verdict set is exactly oracle-checkable.  One co-partitioned "
    "shuffle join on the key; payload comparison by hash keeps the "
    "exchange narrow at 100 TB (hash per side, not full rows).",
    tags=("sink", "cdc", "diff", "outer-join"),
)
def table_diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    a = events.select(
        "event_id",
        F.expr(
            "md5(concat(cast(unix_micros(ts) as string), ':',"
            " cast(user_id as string), ':', event_type, ':',"
            " cast(cast(floor(value * 1e8) as bigint) as string)))"
        ).alias("row_hash"),
    )
    b = (
        events.where(F.expr(f"event_id % {_DIFF_MOD} != 0"))
        .select(
            "event_id",
            F.expr(
                "md5(concat(cast(unix_micros(ts) as string), ':',"
                " cast(user_id as string), ':', event_type, ':',"
                " cast(cast(floor(value * 1e8) as bigint)"
                f" + case when event_id % {_DIFF_MOD} = 1 then 100000000"
                " else 0 end as string)))"
            ).alias("row_hash"),
        )
        .unionByName(
            events.where(F.expr(f"event_id % {_DIFF_MOD} = 2")).select(
                (F.col("event_id") + 10_000_000).alias("event_id"),
                F.expr("md5(concat('ins:', cast(event_id as string)))").alias(
                    "row_hash"
                ),
            )
        )
    )
    an = a.select(
        F.col("event_id").alias("a_id"), F.col("row_hash").alias("a_hash")
    )
    bn = b.select(
        F.col("event_id").alias("b_id"), F.col("row_hash").alias("b_hash")
    )
    diff = an.join(bn, an.a_id == bn.b_id, "full_outer").select(
        F.coalesce("a_id", "b_id").alias("event_id"),
        F.when(F.col("b_id").isNull(), "deleted")
        .when(F.col("a_id").isNull(), "inserted")
        .when(F.col("a_hash") != F.col("b_hash"), "updated")
        .otherwise("unchanged")
        .alias("change_type"),
    )
    return diff.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("id_checksum"),
    )


@register(
    "sink_backfill_partition",
    oracle="""
WITH target AS (
  SELECT strftime(MIN(date_trunc('day', ts)), '%Y-%m-%d') AS d FROM events
)
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))
                + CASE WHEN strftime(date_trunc('day', ts), '%Y-%m-%d')
                            = (SELECT d FROM target)
                       THEN 1 ELSE 0 END) AS DOUBLE) AS total_value
FROM events
GROUP BY 1
""",
    doc="Idempotent partition BACKFILL -- the daily-pipeline repair "
    "operation: events are written hive-partitioned by day, then ONE "
    "day (the earliest) is re-derived with corrected values (each "
    "row's value + 1 simulates the fix) and rewritten via DYNAMIC "
    "partition overwrite -- only the target day's directory is "
    "replaced, every other partition's files are untouched "
    "(tests/test_properties.py pins the file-level claim).  The "
    "read-back per-day aggregate must equal the source table with the "
    "correction applied, proving the backfill replaced exactly the "
    "intended slice and nothing else.  The overwrite-mode conf is set "
    "scoped and restored (the driver's session is not ours to "
    "mutate).  At 100 TB this is the nightly operation that makes "
    "reprocessing affordable: cost is one partition, not one table.",
    tags=("sink", "partitioning", "backfill", "idempotent"),
)
def sink_backfill_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir(sf_dir, "events_backfill")
    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    # REBALANCE before both partitioned writes: same small-files fix as
    # write_partitioned_events (one file per day instead of one per
    # (task, day); measured 11.7x on the staged probe corpus).
    (
        events.hint("rebalance", "day")
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(out)
    )
    target = events.agg(F.min("day")).first()[0]
    corrected = (
        events.where(F.col("day") == target)
        .withColumn(
            "value",
            F.expr("cast(cast(value as decimal(18,2)) + 1 as double)"),
        )
    )
    with scoped_conf(spark, _DYNAMIC_OVERWRITE):
        (
            corrected.hint("rebalance", "day")
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(out)
        )
    back = spark.read.parquet(out)
    return back.groupBy(F.col("day").cast("string").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("cast(sum(cast(value as decimal(18,2))) as double)").alias(
            "total_value"
        ),
    )


# --- Parquet column bloom filters (point-lookup row-group pruning) -----------

_BLOOM_PROBE_MOD = 5  # probe users: user_id % 5 == 3
_BLOOM_PROBE_CAP = 24  # at most this many point-lookup keys
_BLOOM_FILES = 8  # hash partitions / files per layout


def _bloom_hconf_keys(col: str) -> tuple[str, ...]:
    return (
        f"parquet.bloom.filter.enabled#{col}",
        f"parquet.bloom.filter.expected.ndv#{col}",
        f"parquet.enable.dictionary#{col}",
    )


def _read_bloom_stats(
    spark: SparkSession, path: str, column: str, keys: list[str]
) -> tuple[int, int, int]:
    """Inspect the parquet footers under ``path`` with parquet-java (already
    on Spark's classpath) and return ``(n_row_groups, n_with_bloom,
    n_key_rg_hits)`` where the last is the number of (probe key, row group)
    pairs the stored split-block bloom filter reports as might-contain --
    i.e. the row groups a point lookup must actually read."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    fs_path = jvm.org.apache.hadoop.fs.Path(path)
    fs = fs_path.getFileSystem(hconf)
    Binary = jvm.org.apache.parquet.io.api.Binary
    n_rg = n_bloom = n_hits = 0
    it = fs.listFiles(fs_path, False)
    files = []
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.endswith(".parquet") and not name.startswith("_"):
            files.append(st.getPath())
    for fpath in files:
        infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            fpath, hconf
        )
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
        try:
            for rg in reader.getRowGroups():
                colmeta = None
                for c in rg.getColumns():
                    if c.getPath().toDotString() == column:
                        colmeta = c
                n_rg += 1
                bf = reader.getBloomFilterDataReader(rg).readBloomFilter(
                    colmeta
                )
                if bf is None:
                    continue
                n_bloom += 1
                for k in keys:
                    if bf.findHash(bf.hash(Binary.fromString(k))):
                        n_hits += 1
        finally:
            reader.close()
    return n_rg, n_bloom, n_hits


@register(
    "sink_parquet_bloom_lookup",
    oracle=f"""
WITH probe AS (
  SELECT DISTINCT user_id FROM events
  WHERE user_id % {_BLOOM_PROBE_MOD} = 3
  ORDER BY user_id LIMIT {_BLOOM_PROBE_CAP}
),
hits AS (
  SELECT e.user_id, e.value FROM events e JOIN probe p USING (user_id)
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM hits
)
SELECT 'bloom' AS layout, 1 AS bloom_present,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM probe) AS rg_bloom_hits,
       n_rows, n_users, total_value
FROM agg
UNION ALL
SELECT 'plain', 0, NULL, n_rows, n_users, total_value
FROM agg
""",
    doc="Parquet COLUMN BLOOM FILTERS for point-lookup row-group pruning: "
    "events keyed by user_key = md5(user_id) are hash-partitioned into "
    f"{_BLOOM_FILES} files and written twice -- once with "
    "parquet.bloom.filter.enabled#user_key (split-block bloom, "
    "xxHash64) and once plain -- then a batch of point lookups runs "
    "against both layouts.  The footers are inspected with parquet-java "
    "(already on the classpath): the query asserts the bloom layout "
    "actually stored a filter in every row group (bloom_present) and "
    "counts the (probe key, row group) pairs the stored filters report "
    "as might-contain.  Hash partitioning puts each user in exactly ONE "
    "file, so min/max stats prune NOTHING (every file spans the full "
    "key range -- the regime where z-order is useless) while the bloom "
    "count must equal the number of probed users: each lookup reads 1 "
    "of 8 row groups, a 8x scan cut that holds at any file count.  A "
    "false positive would inflate rg_bloom_hits above n_users and fail "
    "the oracle (sized ndv=20000, fill ~1%%, fp ~1e-12 per pair).  The "
    "key column's dictionary is disabled to emulate the 100 TB regime: "
    "at test scale every value fits one dictionary page (and "
    "parquet-java then drops the bloom as redundant -- the dictionary "
    "IS an exact filter); past ~1M distinct keys per row group the "
    "dictionary overflows to plain encoding and the bloom is the only "
    "skip index left.  Lookup aggregates are oracled against the "
    "ORIGINAL table, so a lossy or misrouted write fails the value "
    "check.  Complements sink_zorder_events (range predicates) and "
    "join_bloom_prefilter (runtime join pruning): this is the STORED "
    "per-row-group index for selective point access.",
    tags=("sink", "bloom", "pruning", "parquet"),
)
def sink_parquet_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    events = load_table(spark, sf_dir, "events")
    # Probe set: bounded driver collect (<= _BLOOM_PROBE_CAP user ids; the
    # point-lookup workload needs literal keys by definition).
    probe_uids = [
        r[0]
        for r in (
            events.where(F.col("user_id") % _BLOOM_PROBE_MOD == 3)
            .select("user_id")
            .distinct()
            .orderBy("user_id")
            .limit(_BLOOM_PROBE_CAP)
            .collect()
        )
    ]
    keys = [hashlib.md5(str(u).encode()).hexdigest() for u in probe_uids]

    keyed = events.select(
        "user_id",
        "value",
        F.md5(F.col("user_id").cast("string")).alias("user_key"),
    ).repartition(_BLOOM_FILES, "user_key")

    hconf = spark._jsc.hadoopConfiguration()
    enabled_k, ndv_k, dict_k = _bloom_hconf_keys("user_key")
    outs = {}
    for layout in ("bloom", "plain"):
        out = scratch_dir(sf_dir, f"events_bloomkey_{layout}")
        if layout == "bloom":
            hconf.set(enabled_k, "true")
            hconf.set(ndv_k, "20000")
            hconf.set(dict_k, "false")
        try:
            keyed.write.mode("overwrite").parquet(out)
        finally:
            if layout == "bloom":
                for k in (enabled_k, ndv_k, dict_k):
                    hconf.unset(k)
        outs[layout] = out

    result = None
    for layout, out in outs.items():
        n_rg, n_bloom, n_hits = _read_bloom_stats(spark, out, "user_key", keys)
        back = spark.read.parquet(out).where(F.col("user_key").isin(*keys))
        agg = back.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.expr("cast(sum(cast(value as decimal(18,2))) as double)").alias(
                "total_value"
            ),
        ).select(
            F.lit(layout).alias("layout"),
            F.lit(1 if n_bloom == n_rg and n_rg > 0 else 0).alias(
                "bloom_present"
            ),
            (
                F.lit(n_hits) if layout == "bloom" else F.lit(None)
            ).cast("long").alias("rg_bloom_hits"),
            "n_rows",
            "n_users",
            "total_value",
        )
        result = agg if result is None else result.unionByName(agg)
    return result


# --- GDPR erasure (right-to-be-forgotten minimal rewrite) ---------------------


@register(
    "sink_gdpr_erasure",
    oracle="""
WITH target AS (
  SELECT user_id FROM events
  GROUP BY user_id ORDER BY COUNT(*) DESC, user_id LIMIT 1
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE user_id <> (SELECT user_id FROM target)
GROUP BY event_type
""",
    doc="GDPR ERASURE / right-to-be-forgotten as a minimal partition "
    "rewrite: events land hive-partitioned by day, the erasure target "
    "(the most active user -- a deterministic stand-in for a deletion "
    "request) is located, and ONLY the day-partitions that contain the "
    "user are rewritten without their rows via dynamic partition "
    "overwrite; days the user never touched keep their files "
    "byte-identical (pinned by a property test, like the backfill "
    "sink).  Days where the target was the sole writer are explicitly "
    "cleared (dynamic overwrite alone cannot empty a partition -- the "
    "one edge a compliance job must not miss).  The read-back "
    "per-event-type aggregate must equal the source table minus the "
    "user, proving complete erasure and no collateral loss.  At 100 TB "
    "the rewrite set is found the same way: partition values first, "
    "then per-file pruning via column bloom filters "
    "(sink_parquet_bloom_lookup) or footer stats "
    "(scan_footer_stats_manifest) -- cost scales with the user's "
    "footprint, not the table.",
    tags=("sink", "partitioning", "privacy", "erasure"),
)
def sink_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    out = scratch_dir(sf_dir, "events_gdpr")
    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    # Rebalance before every dynamic partitionBy write (here and the
    # erasure rewrite below): without the pre-shuffle each task emits one
    # file per day it holds -- O(tasks x days) files, the 11.7x wall
    # measured on the event sink (results/scale_probe.txt); clustered by
    # day the job writes ~one file per partition.
    (
        events.hint("rebalance", "day")
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(out)
    )

    target = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("user_id"))
        .first()["user_id"]
    )
    # Partition discovery re-infers 'yyyy-MM-dd' strings as DATEs; pin the
    # string form so directory names and filters agree.
    back = spark.read.parquet(out).withColumn(
        "day", F.col("day").cast("string")
    )
    # Affected-day discovery: bounded by the number of day partitions.
    affected = sorted(
        r["day"]
        for r in back.where(F.col("user_id") == target)
        .select("day")
        .distinct()
        .collect()
    )
    remaining = back.where(
        F.col("day").isin(affected) & (F.col("user_id") != target)
    )
    kept_days = {
        r["day"] for r in remaining.select("day").distinct().collect()
    }
    with scoped_conf(spark, _DYNAMIC_OVERWRITE):
        (
            remaining.hint("rebalance", "day")
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(out)
        )
    # Dynamic overwrite writes nothing for a day whose every row belonged
    # to the target; those directories must be cleared explicitly.
    for day in affected:
        if day not in kept_days:
            shutil.rmtree(os.path.join(out, f"day={day}"), ignore_errors=True)

    cleaned = spark.read.parquet(out)
    return cleaned.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.expr("cast(sum(cast(value as decimal(18,2))) as double)").alias(
            "total_value"
        ),
    )


# --- Snapshot log + time travel (table-format mechanics on plain parquet) -----

_SNAP_MOD = 20  # same change mix as table_diff_snapshots


@register(
    "sink_snapshot_time_travel",
    oracle=f"""
WITH v0 AS (
  SELECT event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
),
v1 AS (
  SELECT event_id,
         cents + CASE WHEN event_id % {_SNAP_MOD} = 1 THEN 100 ELSE 0 END
           AS cents
  FROM v0 WHERE event_id % {_SNAP_MOD} <> 0
  UNION ALL
  SELECT event_id + 10000000, CAST(123456 AS BIGINT)
  FROM v0 WHERE event_id % {_SNAP_MOD} = 2
)
SELECT 0 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS cents_sum,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum
FROM v0
UNION ALL
SELECT 1, CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT),
       CAST(SUM(event_id) AS BIGINT)
FROM v1
""",
    doc="SNAPSHOT LOG + TIME TRAVEL on plain parquet -- the table-format "
    "mechanics (README's MERGE-equivalence note) reclaimed without "
    "Delta/Iceberg jars: every write lands in an immutable snap-N "
    "directory and a tiny JSON manifest advances the current-version "
    "pointer LAST (the atomic-commit ordering real table formats use), "
    "so readers either see the old version or the complete new one, "
    "and any historical version stays queryable by pointing at its "
    "snapshot directory.  The query writes v0, applies a "
    "delete/update/insert batch as v1 (the table_diff change mix), "
    "then TIME-TRAVELS: reads BOTH versions back through the manifest "
    "and aggregates each -- the oracle recomputes both versions from "
    "the source table, so a snapshot that leaked v1 changes into v0 "
    "(or vice versa) fails the value check.  Snapshot immutability is "
    "file-level (new directory per version, nothing rewritten); "
    "storage cost is bounded by retention like any table format.",
    tags=("sink", "snapshot", "time-travel", "versioning"),
)
def sink_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    root = scratch_dir(sf_dir, "events_snaplog")
    v0 = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias(
            "cents"
        ),
    )
    snap0 = os.path.join(root, "snap-0")
    v0.write.mode("overwrite").parquet(snap0)
    manifest = os.path.join(root, "_manifest.json")
    with open(manifest, "w") as fh:
        json.dump({"current": 0, "snapshots": [0]}, fh)

    base = spark.read.parquet(snap0)
    v1 = (
        base.where(F.expr(f"event_id % {_SNAP_MOD} <> 0"))
        .select(
            "event_id",
            (
                F.col("cents")
                + F.expr(
                    f"case when event_id % {_SNAP_MOD} = 1"
                    " then 100 else 0 end"
                )
            ).alias("cents"),
        )
        .unionByName(
            base.where(F.expr(f"event_id % {_SNAP_MOD} = 2")).select(
                (F.col("event_id") + 10_000_000).alias("event_id"),
                F.lit(123456).cast("bigint").alias("cents"),
            )
        )
    )
    snap1 = os.path.join(root, "snap-1")
    v1.write.mode("overwrite").parquet(snap1)
    # Manifest advances LAST: the commit point.
    with open(manifest, "w") as fh:
        json.dump({"current": 1, "snapshots": [0, 1]}, fh)

    with open(manifest) as fh:
        m = json.load(fh)
    assert m["current"] == 1 and m["snapshots"] == [0, 1]
    result = None
    for v in m["snapshots"]:
        snap = spark.read.parquet(os.path.join(root, f"snap-{v}"))
        agg = snap.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("cents_sum"),
            F.sum("event_id").cast("bigint").alias("id_checksum"),
        ).select(F.lit(v).cast("int").alias("version"), "*")
        result = agg if result is None else result.unionByName(agg)
    return result
