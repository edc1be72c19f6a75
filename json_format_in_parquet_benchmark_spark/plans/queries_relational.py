"""Relational operator coverage over the TPC-H-ish testdata.

The reference has no relational runtime (SURVEY.md section 2.2 -- no joins,
aggregation, windows, sorts or set ops), so this module supplies the standard
coverage the category checklist demands, each query expressed declaratively so
Catalyst picks the physical strategy:

- broadcast hash join  : dimension joins (region/nation/supplier) -- small
  sides are explicitly ``F.broadcast()``-hinted so the plan survives missing
  stats on a real cluster.
- shuffle/sort-merge   : orders x lineitem fact-fact join on the shuffle key.
- semi / anti joins    : existence checks without row multiplication.
- windows              : top-N per group, running totals.
- rollup / cube        : multi-level aggregates in one shuffle.
- sorts / top-k        : global order + limit (Spark runs TakeOrderedAndProject,
  no full sort at scale).
- set ops, string/date/array functions, filter pushdown.
- as-of join           : Spark lacks a native one; expressed as a running
  ``max_by`` window over a union-ordered stream -- one shuffle, no UDF, scales
  linearly (the standard Spark formulation of point-in-time joins).

Cross-engine exactness: every double aggregate uses the decimal-exact pattern
(registry module docstring); timestamps are emitted as formatted strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash64_sql_duckdb, hash64_sql_spark
from ..runtime import scratch_dir, track_persist, track_view
from ..tables import load_table
from .registry import register


@register(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag,
       l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE)
         AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1-style pricing summary: filtered scan -> hash aggregate with "
    "map-side partial aggregation; the shipdate predicate pushes to Parquet.",
    tags=("relational", "aggregation", "filter"),
    bench=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    flt = li.where(F.col("l_shipdate") <= F.lit("2000-01-01 00:00:00").cast("timestamp"))
    return flt.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr("cast(sum(cast(l_quantity as decimal(18,2))) as double)").alias("sum_qty"),
        F.expr("cast(sum(cast(l_extendedprice as decimal(18,2))) as double)").alias(
            "sum_base_price"
        ),
        F.expr(
            "cast(sum(cast(l_extendedprice as decimal(18,2))"
            " * (1 - cast(l_discount as decimal(18,2)))) as double)"
        ).alias("sum_disc_price"),
        F.expr(
            "cast(sum(cast(l_extendedprice as decimal(18,2))"
            " * (1 - cast(l_discount as decimal(18,2)))"
            " * (1 + cast(l_tax as decimal(18,2)))) as double)"
        ).alias("sum_charge"),
        F.expr(
            "cast(sum(cast(l_quantity as decimal(18,2))) as double) / count(*)"
        ).alias("avg_qty"),
        F.expr(
            "cast(sum(cast(l_extendedprice as decimal(18,2))) as double) / count(*)"
        ).alias("avg_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "q3_shipping_priority",
    oracle="""
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
GROUP BY o_orderkey, orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
    doc="TPC-H Q3-style: selective dimension filter -> two joins -> top-k by "
    "aggregated revenue (TakeOrderedAndProject; customer side broadcasts).",
    tags=("relational", "join", "topk"),
    bench=True,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
    )
    return (
        joined.groupBy(
            "o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate")
        )
        .agg(
            F.expr(
                "cast(sum(cast(l_extendedprice as decimal(18,2))"
                " * (1 - cast(l_discount as decimal(18,2))))"
                " as double)"
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@register(
    "join_broadcast_region_revenue",
    oracle="""
SELECT r_name AS region, n_name AS nation,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2
""",
    doc="Star join: fact x 3 broadcast dimensions, zero fact-side shuffles "
    "before the final aggregate (all dim joins are broadcast-hinted).",
    tags=("relational", "join", "broadcast"),
    bench=True,
)
def join_broadcast_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    dim = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "n_name", "r_name")
    )
    return (
        li.join(F.broadcast(dim), li.l_suppkey == dim.s_suppkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.expr(
                "cast(sum(cast(l_extendedprice as decimal(18,2))"
                " * (1 - cast(l_discount as decimal(18,2))))"
                " as double)"
            ).alias("revenue"),
        )
    )


@register(
    "join_sortmerge_order_fulfilment",
    oracle="""
SELECT o_orderstatus,
       COUNT(DISTINCT o_orderkey) AS n_orders,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1
""",
    doc="Fact-fact join on the natural shuffle key (orderkey), merge-hinted "
    "so the plan is a true SortMergeJoin even at test scale (the big-big "
    "shape this query has at 100 TB); there, both sides would additionally "
    "be bucketed on orderkey to make it a zero-shuffle join.",
    tags=("relational", "join", "sortmerge"),
    bench=True,
)
def join_sortmerge_order_fulfilment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.hint("merge").join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.count(F.lit(1)).alias("n_items"),
            F.expr("cast(sum(cast(l_quantity as decimal(18,2))) as double)").alias(
                "total_qty"
            ),
        )
    )


@register(
    "join_semi_anti_customers",
    oracle="""
WITH buyers AS (SELECT DISTINCT o_custkey FROM orders)
SELECT n_name AS nation,
       COUNT(*) AS n_customers,
       COUNT(b.o_custkey) AS n_with_orders,
       COUNT(*) - COUNT(b.o_custkey) AS n_without_orders
FROM customer
JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN buyers b ON c_custkey = b.o_custkey
GROUP BY 1
""",
    doc="Semi/anti join coverage: per-nation counts of customers with and "
    "without orders (Spark side uses genuine left_semi / left_anti joins).",
    tags=("relational", "join", "semi", "anti"),
)
def join_semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    nat = load_table(spark, sf_dir, "nation")
    base = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    semi = (
        base.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_with_orders"))
    )
    anti = (
        base.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_without_orders"))
    )
    total = base.groupBy("n_name").agg(F.count(F.lit(1)).alias("n_customers"))
    return (
        total.join(semi, "n_name", "left")
        .join(anti, "n_name", "left")
        .select(
            F.col("n_name").alias("nation"),
            "n_customers",
            F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
            F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"),
        )
    )


@register(
    "window_topn_orders_per_customer",
    oracle="""
SELECT * FROM (
  SELECT o_custkey,
         o_orderkey,
         CAST(o_totalprice AS DOUBLE) AS totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
""",
    doc="Window top-N per group: one shuffle on the partition key; at scale "
    "this beats a self-join top-N by orders of magnitude.",
    tags=("relational", "window", "topk"),
    bench=True,
)
def window_topn_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("totalprice"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


@register(
    "window_running_customer_spend",
    oracle="""
SELECT o_custkey,
       o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_spend
FROM orders
""",
    doc="Running total window (decimal-exact prefix sums).",
    tags=("relational", "window"),
)
def window_running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias(
            "running_spend"
        ),
    )


@register(
    "agg_rollup_region_nation",
    oracle="""
SELECT COALESCE(r_name, 'ALL') AS region,
       COALESCE(n_name, 'ALL') AS nation,
       COUNT(c_custkey) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
""",
    doc="ROLLUP: hierarchical (region -> nation -> grand total) aggregates in "
    "a single pass.",
    tags=("relational", "aggregation", "rollup"),
)
def agg_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    joined = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey).join(
        F.broadcast(reg), nat.n_regionkey == reg.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.expr("cast(sum(cast(c_acctbal as decimal(18,2))) as double)").alias(
                "total_acctbal"
            ),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n_customers",
            "total_acctbal",
        )
    )


@register(
    "agg_cube_order_status",
    oracle="""
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
""",
    doc="CUBE: all grouping-set combinations in one shuffle.",
    tags=("relational", "aggregation", "cube"),
)
def agg_cube_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr("cast(sum(cast(o_totalprice as decimal(18,2))) as double)").alias(
                "total_price"
            ),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


@register(
    "sort_topk_lineitems",
    oracle="""
SELECT l_orderkey, l_linenumber, CAST(l_extendedprice AS DOUBLE) AS price
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 20
""",
    doc="Global top-k: ORDER BY + LIMIT compiles to TakeOrderedAndProject "
    "(per-partition heap + driver merge, never a full sort).",
    tags=("relational", "sort", "topk"),
)
def sort_topk_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_extendedprice").cast("double").alias("price"),
        )
        .orderBy(F.desc("price"), "l_orderkey", "l_linenumber")
        .limit(20)
    )


@register(
    "set_ops_nations",
    oracle="""
WITH cn AS (SELECT DISTINCT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey),
     sn AS (SELECT DISTINCT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey)
SELECT 'union' AS op, n_name FROM (SELECT n_name FROM cn UNION SELECT n_name FROM sn)
UNION ALL
SELECT 'intersect' AS op, n_name FROM (SELECT n_name FROM cn INTERSECT SELECT n_name FROM sn)
UNION ALL
SELECT 'except' AS op, n_name FROM (SELECT n_name FROM cn EXCEPT SELECT n_name FROM sn)
""",
    doc="Set operations: UNION / INTERSECT / EXCEPT over derived nation sets.",
    tags=("relational", "setops"),
)
def set_ops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    cn = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select("n_name")
        .distinct()
    )
    sn = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select("n_name")
        .distinct()
    )
    return (
        cn.union(sn).distinct().select(F.lit("union").alias("op"), "n_name")
        .unionByName(cn.intersect(sn).select(F.lit("intersect").alias("op"), "n_name"))
        .unionByName(cn.exceptAll(sn).distinct().select(F.lit("except").alias("op"), "n_name"))
    )


@register(
    "string_funcs_parts",
    oracle="""
SELECT p_partkey,
       CAST(regexp_extract(p_brand, '#(\\d+)', 1) AS BIGINT) AS brand_num,
       upper(p_name) AS name_upper,
       length(p_name) AS name_len,
       substr(p_type, 1, 5) AS type_prefix
FROM part
WHERE p_type LIKE '%ECO%' OR p_name LIKE 'b%'
""",
    doc="String function coverage: regexp_extract, upper, length, substr, LIKE.",
    tags=("relational", "string"),
)
def string_funcs_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.where(
        F.col("p_type").like("%ECO%") | F.col("p_name").like("b%")
    ).select(
        "p_partkey",
        F.regexp_extract("p_brand", r"#(\d+)", 1).cast("bigint").alias("brand_num"),
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
    )


@register(
    "date_funcs_order_calendar",
    oracle="""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
       CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mth,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY 1, 2
""",
    doc="Date/time function coverage: year/month extraction + monthly rollup.",
    tags=("relational", "datetime", "aggregation"),
)
def date_funcs_order_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mth")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr("cast(sum(cast(o_totalprice as decimal(18,2))) as double)").alias(
            "total_price"
        ),
    )


@register(
    "filter_pushdown_scan",
    oracle="""
SELECT event_id, user_id, CAST(value AS DOUBLE) AS value
FROM events
WHERE event_type = 'purchase' AND value > 150.0
""",
    doc="Selective filter + narrow projection; both the predicate and the "
    "2-column ReadSchema reach the Parquet scan (verified in tests via "
    "the explain plan).",
    tags=("relational", "filter", "pushdown"),
)
def filter_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.where(
        (F.col("event_type") == "purchase") & (F.col("value") > 150.0)
    ).select("event_id", "user_id", F.col("value").cast("double").alias("value"))


@register(
    "asof_join_purchase_click",
    oracle="""
WITH tagged AS (
  SELECT *,
         MAX(CASE WHEN event_type = 'click' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
  FROM events
)
SELECT event_id,
       user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       strftime(last_click_ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
FROM tagged
WHERE event_type = 'purchase'
""",
    doc="As-of join (point-in-time): for each purchase, the most recent "
    "prior-or-equal click of the same user.  Spark has no native as-of join; "
    "this is the single-shuffle window formulation (partition by the entity "
    "key, running max of the as-of timestamp), which scales linearly and "
    "avoids the naive range self-join blowup.",
    tags=("relational", "join", "asof", "custom-operator"),
)
def asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = events.withColumn(
        "last_click_ts",
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).over(w),
    )
    return tagged.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        F.date_format("last_click_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
    )


@register(
    "map_funcs_event_props",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(SUM(len(json_keys(props))) AS BIGINT) AS n_entries,
       MIN(json_keys(props)[1]) AS first_key
FROM events
GROUP BY 1
""",
    doc="Map functions over semi-structured props: from_json to "
    "map<string,int>, then element_at / size / map_keys aggregated per "
    "event_type (MapType surface; reference keeps JSON opaque, "
    "/root/reference/src/format/plain_json.rs:17-19).",
    tags=("relational", "map", "json"),
)
def map_funcs_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.withColumn("m", F.from_json("props", "map<string,bigint>"))
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.element_at("m", "k")).alias("sum_k"),
        F.sum(F.size("m")).alias("n_entries"),
        F.min(F.element_at(F.map_keys("m"), 1)).alias("first_key"),
    )


@register(
    "array_funcs_order_lines",
    oracle="""
WITH arrs AS (
  SELECT l_orderkey,
         list_sort(list(l_linenumber)) AS lines
  FROM lineitem GROUP BY 1
)
SELECT l_orderkey,
       len(lines) AS n_lines,
       lines[1] AS first_line,
       lines[-1] AS last_line,
       list_contains(lines, 7) AS has_line7,
       CAST(list_sum(lines) AS BIGINT) AS line_sum
FROM arrs
""",
    doc="Array functions: collect_list + sort_array per order, then "
    "size/element_at/array_contains/aggregate over the array -- the "
    "ArrayType operator surface (reference's tape lists, "
    "/root/reference/src/format/jsonc.rs:24-39, held 1 array per doc).",
    tags=("relational", "array", "aggregation"),
)
def array_funcs_order_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    arrs = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_linenumber")).alias("lines")
    )
    return arrs.select(
        "l_orderkey",
        F.size("lines").alias("n_lines"),
        F.element_at("lines", 1).alias("first_line"),
        F.element_at("lines", -1).alias("last_line"),
        F.array_contains("lines", 7).alias("has_line7"),
        F.expr("aggregate(lines, 0L, (acc, x) -> acc + x)").alias("line_sum"),
    )


@register(
    "range_join_user_events",
    oracle="""
SELECT a.user_id,
       COUNT(*) AS n_pairs,
       CAST(MIN(epoch_us(b.ts) - epoch_us(a.ts)) AS BIGINT) AS min_gap_us
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND epoch_us(b.ts) > epoch_us(a.ts)
 AND epoch_us(b.ts) - epoch_us(a.ts) <= 3600000000
GROUP BY 1
""",
    doc="Range join: same-user event pairs within a 1-hour horizon "
    "(click-attribution shape).  The equi-key (user_id) prunes the "
    "cross-product so Spark executes SMJ + range filter; at 100 TB the "
    "pattern adds a coarse time-bucket to the equi-key so each side only "
    "meets neighbors within +-1 bucket.",
    tags=("relational", "join", "range"),
    bench=True,
)
def range_join_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    a = events.select("user_id", F.unix_micros("ts").alias("ts_a"))
    b = events.select(
        F.col("user_id").alias("user_b"), F.unix_micros("ts").alias("ts_b")
    )
    pairs = a.join(
        b,
        (F.col("user_id") == F.col("user_b"))
        & (F.col("ts_b") > F.col("ts_a"))
        & (F.col("ts_b") - F.col("ts_a") <= 3_600_000_000),
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min(F.col("ts_b") - F.col("ts_a")).alias("min_gap_us"),
    )


@register(
    "agg_salted_skew_user",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1
""",
    doc="Two-phase salted aggregation for skewed keys: phase 1 groups on "
    "(user_id, salt16) spreading each hot key over 16 reducers, phase 2 "
    "combines the partials.  Result identical to a plain groupBy (the "
    "oracle IS the plain groupBy); decimal partials re-sum exactly.  This "
    "is the manual fallback when AQE skew handling cannot apply (e.g. "
    "skewed aggregation rather than join).  Measured worth (round-5 zipf "
    "probe, results/scale_probe.txt): for ALGEBRAIC aggregates like this "
    "one, map-side partial aggregation already collapses hot keys before "
    "the shuffle, so the salted two-phase is at best a wash even at 50M "
    "zipf(1.2) rows -- reserve the technique for non-algebraic "
    "aggregates (collect_list/exact percentile) where no map-side "
    "combine exists.",
    tags=("relational", "aggregation", "skew", "salting"),
)
def agg_salted_skew_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    salted = events.withColumn("salt", F.pmod(F.col("event_id"), F.lit(16)))
    partial = salted.groupBy("user_id", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.expr("sum(cast(value as decimal(18,2)))").alias("pv"),
    )
    return partial.groupBy("user_id").agg(
        F.sum("pn").alias("n_events"),
        F.expr("cast(sum(pv) as double)").alias("total_value"),
    )


@register(
    "join_salted_skew_events",
    oracle="""
SELECT c_nationkey,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
JOIN customer ON user_id = c_custkey
GROUP BY 1
""",
    doc="Salted REPLICATION join for skewed join keys: the big (skewed) "
    "side gets a deterministic salt in [0,16) from event_id, the small "
    "side is replicated 16x (explode) so the join key becomes "
    "(custkey, salt) and each hot user's rows spread over 16 reducers "
    "instead of one straggler task.  Result provably identical to the "
    "plain join (the oracle IS the plain join+aggregate).  This is the "
    "manual form of what AQE skew-join does for sort-merge joins -- "
    "needed when the engine's skew handling cannot see the skew (e.g. "
    "post-shuffle state, or non-SMJ plans).  Measured worth (round-5 "
    "zipf probe, results/scale_probe.txt): at zipf(1.2) skew AQE "
    "skew-join beats this plan and salting is a net LOSS (the n_salt x "
    "dim explode costs more than the straggler it removes); salting wins "
    "outright (1.6x) only at extreme skew (zipf 2.0, hot key ~61%) where "
    "AQE's partition split does not recover the shape.  Broadcast > AQE "
    "skew-join > manual salt, in that order.",
    tags=("relational", "join", "skew", "salting"),
)
def join_salted_skew_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_salt = 16
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "value", F.pmod(F.col("event_id"), F.lit(n_salt)).alias("salt")
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .withColumn("salt", F.explode(F.expr(f"sequence(0, {n_salt - 1})")))
    )
    joined = events.join(
        dim,
        (events.user_id == dim.c_custkey) & (events.salt == dim.salt),
    )
    return joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("cast(sum(cast(value as decimal(18,2))) as double)").alias(
            "total_value"
        ),
    )


@register(
    "pivot_daily_event_types",
    oracle="""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events
GROUP BY 1
""",
    doc="Pivot: event_type rotated into columns per day (explicit value "
    "list, so the plan is a single aggregate -- no second pass to discover "
    "pivot values).",
    tags=("relational", "pivot", "aggregation"),
)
def pivot_daily_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    out = (
        events.withColumn(
            "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
        )
        .groupBy("day")
        .pivot("event_type", ["click", "purchase", "view"])
        .count()
    )
    # pivot leaves missing combinations null; the oracle's SUM(CASE) yields 0
    return out.select(
        "day",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("click", "purchase", "view")],
    )


@register(
    "subquery_orders_above_cust_avg",
    oracle="""
SELECT o.o_orderkey, o.o_custkey,
       CAST(o.o_totalprice AS DOUBLE) AS totalprice
FROM orders o
WHERE o.o_totalprice > (
  SELECT 1.5 * CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*)
  FROM orders i WHERE i.o_custkey = o.o_custkey
)
""",
    doc="Correlated scalar subquery: orders priced >1.5x their customer's "
    "average (Catalyst de-correlates into an aggregate + join -- the "
    "rewrite that makes correlated subqueries scale).",
    tags=("relational", "subquery"),
)
def subquery_orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_sq")
    track_view(spark, "orders_sq")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey,
               CAST(o.o_totalprice AS DOUBLE) AS totalprice
        FROM orders_sq o
        WHERE o.o_totalprice > (
          SELECT 1.5 * CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     / COUNT(*)
          FROM orders_sq i WHERE i.o_custkey = o.o_custkey
        )
        """
    )


@register(
    "agg_grouping_sets_orders",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
    doc="Explicit GROUPING SETS (beyond rollup/cube): two independent "
    "1-level groupings plus the grand total in ONE shuffle instead of a "
    "union of three aggregations.",
    tags=("relational", "aggregation", "grouping-sets"),
)
def agg_grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs")
    track_view(spark, "orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "events_funnel_conversion",
    oracle="""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
), v AS (
  SELECT user_id, MIN(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.us) AS t2, MIN(v.t1) AS t1
  FROM e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.us > v.t1
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.us) AS t3, MIN(c.t2) AS t2
  FROM e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.us > c.t2
  GROUP BY e.user_id
)
SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(NULL AS DOUBLE) AS avg_advance_us
FROM v
UNION ALL
SELECT '2_click_after_view', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(t2 - t1) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
FROM c
UNION ALL
SELECT '3_purchase_after_click', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(t3 - t2) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
FROM p
""",
    doc="Sequential funnel analytics (view -> click -> purchase): per user, "
    "the first view, the first click strictly after it, and the first "
    "purchase strictly after that; emits per-stage user counts and mean "
    "stage-advance time.  Each stage is one aggregation plus one join ON "
    "user_id -- the stage output is already hash-partitioned on the join "
    "key, so at scale the next stage's join is co-located (no extra "
    "exchange of the small side; the big events scan is filtered to one "
    "event type before it ever shuffles).  Time math stays in exact "
    "integer microseconds (micros-domain comparisons match DuckDB's "
    "nanos->micros truncation); the mean is one final double division "
    "with identical operands.",
    tags=("relational", "events", "funnel"),
    bench=True,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"), F.min("t1").alias("t1"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c.select("user_id", "t2"), "user_id")
        .where(F.col("us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"), F.min("t2").alias("t2"))
    )

    def stage(df: DataFrame, name: str, end: str, start: str | None) -> DataFrame:
        if start is None:
            avg = F.lit(None).cast("double")
        else:
            avg = F.sum(F.col(end) - F.col(start)).cast("double") / F.count(
                F.lit(1)
            ).cast("double")
        return df.agg(
            F.count(F.lit(1)).alias("n_users"), avg.alias("avg_advance_us")
        ).select(F.lit(name).alias("stage"), "n_users", "avg_advance_us")

    return (
        stage(v, "1_view", "t1", None)
        .unionByName(stage(c, "2_click_after_view", "t2", "t1"))
        .unionByName(stage(p, "3_purchase_after_click", "t3", "t2"))
    )


_WEEK_US = 7 * 86400 * 1_000_000


@register(
    "events_retention_cohorts",
    oracle=f"""
WITH s AS (
  SELECT user_id, MIN(ts) AS su, MIN(epoch_us(ts)) AS su_us
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), s2 AS (
  SELECT user_id, su_us,
         strftime(date_trunc('week', su), '%Y-%m-%d') AS cohort_week,
         epoch_us(date_trunc('week', su)) AS cw_us
  FROM s
), act AS (
  SELECT s2.cohort_week,
         (epoch_us(date_trunc('week', e.ts)) - s2.cw_us) // {_WEEK_US}
           AS week_offset,
         e.user_id
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE epoch_us(e.ts) >= s2.su_us
), ret AS (
  SELECT cohort_week, week_offset,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
  FROM act GROUP BY 1, 2
), size_ AS (
  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_cohort
  FROM s2 GROUP BY 1
)
SELECT r.cohort_week, r.week_offset, r.n_active, z.n_cohort,
       CAST(r.n_active AS DOUBLE) / CAST(z.n_cohort AS DOUBLE)
         AS retention_rate
FROM ret r JOIN size_ z ON z.cohort_week = r.cohort_week
""",
    doc="Cohort retention matrix: users are grouped into signup-week "
    "cohorts (first 'signup' event); for every later week the distinct "
    "active users are counted and divided by the cohort size.  One "
    "aggregation builds the cohort dimension (tiny -- weeks, not users), "
    "which re-joins the event stream on user_id (co-partitioned with the "
    "signup aggregation's output) and broadcasts into the final "
    "per-(cohort, offset) rollup.  All time math is exact integer "
    "microseconds (matching DuckDB's nanos->micros truncation); the "
    "retention rate is one final double division with identical "
    "operands.",
    tags=("relational", "events", "cohort"),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("su"),
            F.min(F.unix_micros("ts")).alias("su_us"),
        )
    )
    s2 = s.select(
        "user_id",
        "su_us",
        F.date_format(F.date_trunc("week", "su"), "yyyy-MM-dd").alias(
            "cohort_week"
        ),
        F.unix_micros(F.date_trunc("week", "su")).alias("cw_us"),
    )
    act = (
        ev.join(s2, "user_id")
        .where(F.unix_micros("ts") >= F.col("su_us"))
        .select(
            "cohort_week",
            F.expr(
                f"(unix_micros(date_trunc('week', ts)) - cw_us)"
                f" div {_WEEK_US}"
            ).alias("week_offset"),
            "user_id",
        )
    )
    ret = act.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    size = s2.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    return ret.join(F.broadcast(size), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "n_cohort",
        (
            F.col("n_active").cast("double")
            / F.col("n_cohort").cast("double")
        ).alias("retention_rate"),
    )


@register(
    "unpivot_daily_event_types",
    oracle="""
WITH wide AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
         CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view
  FROM events
  GROUP BY 1
)
SELECT day, 'click' AS event_type, click AS n_events FROM wide
UNION ALL
SELECT day, 'purchase', purchase FROM wide
UNION ALL
SELECT day, 'view', view FROM wide
""",
    doc="Unpivot (melt): the wide per-day event-type count table rotated "
    "back to long form with DataFrame.unpivot -- the inverse reshape of "
    "pivot_daily_event_types.  Unpivot is a zero-shuffle map-side "
    "Expand (each input row emits one row per value column); only the "
    "upstream wide aggregate exchanges data.",
    tags=("relational", "unpivot", "reshape"),
)
def unpivot_daily_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    wide = (
        events.withColumn(
            "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
        )
        .groupBy("day")
        .pivot("event_type", ["click", "purchase", "view"])
        .count()
    )
    wide = wide.select(
        "day",
        *[
            F.coalesce(F.col(c), F.lit(0)).alias(c)
            for c in ("click", "purchase", "view")
        ],
    )
    return wide.unpivot(
        ids=["day"],
        values=["click", "purchase", "view"],
        variableColumnName="event_type",
        valueColumnName="n_events",
    )


@register(
    "q6_forecast_revenue",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.04 AND 0.06
  AND l_quantity < 24
""",
    doc="TPC-H Q6-style forecast-revenue change: a pure scan->filter->global "
    "aggregate with NO join and NO groupBy shuffle -- the canonical "
    "predicate-pushdown showcase.  All three predicates (shipdate range, "
    "discount band, quantity cap) reach the Parquet reader as PushedFilters "
    "and ReadSchema keeps only the four referenced columns; at 100 TB this "
    "plan is a single map stage plus a scalar partial-aggregate merge.",
    tags=("relational", "aggregation", "filter", "pushdown"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.expr(
                "cast(sum(cast(l_extendedprice as decimal(18,2))"
                " * cast(l_discount as decimal(18,2))) as double)"
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q10_returned_items",
    oracle="""
SELECT c.c_custkey,
       c.c_name,
       n.n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM customer c
JOIN orders o    ON o.o_custkey = c.c_custkey
JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
JOIN nation n    ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    doc="TPC-H Q10-style returned-item report: which customers returned the "
    "most revenue.  Plan shape at scale: the returnflag filter pushes into "
    "the lineitem scan BEFORE the fact-fact shuffle join with orders; "
    "customer and nation are broadcast so the big side shuffles exactly "
    "once (on l_orderkey); the final top-20 runs as TakeOrderedAndProject "
    "-- per-partition heaps, no global sort.",
    tags=("relational", "join", "aggregation", "topk"),
    bench=True,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    returned = li.where(F.col("l_returnflag") == "R")
    joined = (
        returned.join(orders, returned.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    agg = joined.groupBy("c_custkey", "c_name", "n_name").agg(
        F.expr(
            "cast(sum(cast(l_extendedprice as decimal(18,2))"
            " * (1 - cast(l_discount as decimal(18,2)))) as double)"
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return agg.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(20)


@register(
    "q14_promo_revenue",
    oracle="""
SELECT CAST(100.0 AS DOUBLE)
       * CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                       THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
       / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS promo_revenue_pct,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1997-06-01 00:00:00'
""",
    doc="TPC-H Q14-style promotion effect: percentage of revenue from "
    "promo-typed parts in a shipdate window.  part is a dimension -- "
    "broadcast-joined so lineitem never shuffles; the conditional "
    "numerator and the denominator aggregate in ONE pass (two partial "
    "aggregates in the same map stage).  Both sums are exact DECIMAL; the "
    "single final double division has identical operands cross-engine.",
    tags=("relational", "join", "aggregation"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    flt = li.where(
        (F.col("l_shipdate") >= F.lit("1997-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-06-01 00:00:00").cast("timestamp"))
    )
    joined = flt.join(F.broadcast(part), flt.l_partkey == part.p_partkey)
    return joined.agg(
        F.expr(
            "cast(100.0 as double)"
            " * cast(sum(case when p_type like 'PROMO%'"
            "   then cast(l_extendedprice as decimal(18,2))"
            "        * (1 - cast(l_discount as decimal(18,2)))"
            "   else cast(0 as decimal(18,2)) end) as double)"
            " / cast(sum(cast(l_extendedprice as decimal(18,2))"
            "        * (1 - cast(l_discount as decimal(18,2)))) as double)"
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q18_large_volume_customers",
    oracle="""
WITH big_orders AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
)
SELECT c.c_custkey,
       c.c_name,
       o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
       CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
       b.total_qty
FROM big_orders b
JOIN orders o   ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o_totalprice DESC, o.o_orderkey
LIMIT 50
""",
    doc="TPC-H Q18-style large-volume customers: orders whose total line "
    "quantity exceeds a threshold, with their customers, by price.  The "
    "HAVING aggregate runs on lineitem grouped by its natural shuffle key "
    "(l_orderkey) with map-side partial aggregation; the surviving key set "
    "is small, so its join to orders broadcast-converts under AQE, and "
    "customer is broadcast outright.  Top-50 via per-partition heaps.",
    tags=("relational", "join", "aggregation", "having", "topk"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.expr(
                "cast(sum(cast(l_quantity as decimal(18,2))) as double)"
            ).alias("total_qty"),
            F.expr("sum(cast(l_quantity as decimal(18,2)))").alias("_q"),
        )
        .where(F.col("_q") > 150)
        .drop("_q")
    )
    joined = (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    out = joined.select(
        "c_custkey",
        "c_name",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "total_qty",
    )
    return out.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")).limit(50)


@register(
    "window_ntile_deciles",
    oracle="""
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey, spend,
       CAST(NTILE(10) OVER w AS INT) AS decile,
       CAST(PERCENT_RANK() OVER w AS DOUBLE) AS pct_rank,
       CAST(CUME_DIST() OVER w AS DOUBLE) AS cume
FROM spend
WINDOW w AS (ORDER BY spend DESC, o_custkey)
""",
    doc="Distribution-rank window functions (ntile / percent_rank / "
    "cume_dist) over per-customer spend: the segmentation pass every "
    "marketing-style workload runs.  Ranks are rational outputs of exact "
    "row positions, so the doubles are deterministic cross-engine.  The "
    "global ORDER BY window is the documented scale caveat: one ordered "
    "partition means one task holds the sorted run -- at 100 TB this "
    "exact form is replaced by the two-phase rank + integer NTILE "
    "arithmetic (events_uplift_deciles' recipe) when exactness is "
    "required, or a two-phase approximate-quantile cut "
    "(sketch_histogram_quantiles) when it is not.  DECIDED r11: this "
    "entry deliberately stays the NATIVE window form -- it is the "
    "ntile/percent_rank/cume_dist SURFACE-coverage demo, and the scale "
    "path exists under its own names.",
    tags=("relational", "window", "rank"),
)
def window_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.expr(
            "cast(sum(cast(o_totalprice as decimal(18,2))) as double)"
        ).alias("spend")
    )
    # global-window: this query IS the exact global-rank capability demo (ntile/percent_rank/cume_dist); doc names the sketch replacement at scale
    w = Window.orderBy(F.col("spend").desc(), F.col("o_custkey"))
    return spend.select(
        "o_custkey",
        "spend",
        F.ntile(10).over(w).cast("int").alias("decile"),
        F.percent_rank().over(w).cast("double").alias("pct_rank"),
        F.cume_dist().over(w).cast("double").alias("cume"),
    )


@register(
    "events_anomaly_zscore",
    oracle="""
WITH stats AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(value * 1e8) AS BIGINT)) AS BIGINT) AS s1,
         CAST(SUM(CAST(FLOOR(value * value * 1e8) AS BIGINT)) AS BIGINT) AS s2
  FROM events GROUP BY user_id
),
m AS (
  SELECT user_id, n, mean, ex2, ex2 - mean * mean AS var
  FROM (
    SELECT user_id, n,
           CAST(s1 AS DOUBLE) / (CAST(1e8 AS DOUBLE) * CAST(n AS DOUBLE)) AS mean,
           CAST(s2 AS DOUBLE) / (CAST(1e8 AS DOUBLE) * CAST(n AS DOUBLE)) AS ex2
    FROM stats
  )
)
SELECT e.event_id, e.user_id, e.value,
       (e.value - m.mean) / sqrt(m.var) AS zscore,
       CAST(abs((e.value - m.mean) / sqrt(m.var)) > 2.0 AS INT) AS is_anomaly
FROM events e JOIN m ON m.user_id = e.user_id
WHERE m.var > 0.0
  AND abs((e.value - m.mean) / sqrt(m.var)) > 2.0
""",
    doc="Per-user z-score anomaly detection over event values: per-user "
    "mean and variance from quantized-integer sums (order-free, exact "
    "cross-engine; value^2 is squared in the double domain FIRST, then "
    "quantized, so no int64 overflow), joined back as a broadcast-sized "
    "stats table -- two scans of events, one tiny shuffle.  Every "
    "arithmetic step after the exact sums is deterministic IEEE "
    "(division, sqrt, subtraction), so the emitted z-scores hash-match "
    "bit-for-bit.  Emits only the anomalies (|z| > 2).",
    tags=("events", "anomaly", "aggregation"),
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    stats = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("cast(floor(value * 1e8) as bigint)"))
        .cast("bigint")
        .alias("s1"),
        F.sum(F.expr("cast(floor(value * value * 1e8) as bigint)"))
        .cast("bigint")
        .alias("s2"),
    )
    m = stats.select(
        "user_id",
        "n",
        F.expr(
            "cast(s1 as double) / (cast(1e8 as double) * cast(n as double))"
        ).alias("mean"),
        F.expr(
            "cast(s2 as double) / (cast(1e8 as double) * cast(n as double))"
        ).alias("ex2"),
    ).withColumn("var", F.expr("ex2 - mean * mean"))
    # var can quantize below 0 for a (near-)constant-value user, where the
    # z-score is undefined anyway: DuckDB's sqrt raises on negatives while
    # Spark returns NaN, so BOTH sides exclude var <= 0 explicitly.
    z = "(value - mean) / sqrt(var)"
    joined = events.join(F.broadcast(m), "user_id")
    return joined.where(
        (F.col("var") > 0.0) & F.expr(f"abs({z}) > 2.0")
    ).select(
        "event_id",
        "user_id",
        "value",
        F.expr(z).alias("zscore"),
        F.expr(f"cast(abs({z}) > 2.0 as int)").alias("is_anomaly"),
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
SELECT n.n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue,
       COUNT(*) AS n_lines
FROM customer c
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
               AND s.s_nationkey = c.c_nationkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
JOIN region r   ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'EUROPE'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
ORDER BY revenue DESC, n_name
""",
    doc="TPC-H Q5-style local supplier volume: revenue where customer and "
    "supplier share a nation, per EUROPE nation in 1997.  Plan shape: the "
    "orderdate filter pushes into the orders scan; lineitem x orders is "
    "the one fact-fact shuffle join, then supplier/customer/nation/region "
    "are broadcast -- the same-nation predicate rides the supplier join "
    "condition, so no post-join filter pass.",
    tags=("relational", "join", "aggregation"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    o_f = o.where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    joined = (
        li.join(o_f, li.l_orderkey == o_f.o_orderkey)
        .join(F.broadcast(c), o_f.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .where(F.col("r_name") == "EUROPE")
    )
    agg = joined.groupBy("n_name").agg(
        F.expr(
            "cast(sum(cast(l_extendedprice as decimal(18,2))"
            " * (1 - cast(l_discount as decimal(18,2)))) as double)"
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return agg.orderBy(F.col("revenue").desc(), "n_name")


@register(
    "q7_volume_shipping",
    oracle="""
SELECT rs.r_name AS supp_region,
       rc.r_name AS cust_region,
       CAST(YEAR(l.l_shipdate) AS INT) AS ship_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS volume,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
JOIN region rs  ON rs.r_regionkey = ns.n_regionkey
JOIN region rc  ON rc.r_regionkey = nc.n_regionkey
WHERE ((rs.r_name = 'EUROPE' AND rc.r_name = 'ASIA')
    OR (rs.r_name = 'ASIA' AND rc.r_name = 'EUROPE'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY rs.r_name, rc.r_name, ship_year
ORDER BY supp_region, cust_region, ship_year
""",
    doc="TPC-H Q7-style volume shipping: bilateral trade between two "
    "REGIONS by shipment year (region-level so the result is dense at "
    "every test scale; the plan shape is the spec's).  The disjunctive "
    "pair predicate sits on broadcast dimension columns, so it evaluates "
    "right after the broadcast joins with no extra shuffle; only "
    "lineitem x orders exchanges data, and the shipdate range prunes "
    "the lineitem scan.",
    tags=("relational", "join", "aggregation"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"),
        F.col("n_regionkey").alias("ns_region"),
    )
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"),
        F.col("n_regionkey").alias("nc_region"),
    )
    rs = region.select(
        F.col("r_regionkey").alias("rs_key"),
        F.col("r_name").alias("supp_region"),
    )
    rc = region.select(
        F.col("r_regionkey").alias("rc_key"),
        F.col("r_name").alias("cust_region"),
    )
    li_f = li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    joined = (
        li_f.join(o, li_f.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li_f.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(ns), s.s_nationkey == F.col("ns_key"))
        .join(F.broadcast(nc), c.c_nationkey == F.col("nc_key"))
        .join(F.broadcast(rs), F.col("ns_region") == F.col("rs_key"))
        .join(F.broadcast(rc), F.col("nc_region") == F.col("rc_key"))
        .where(
            (
                (F.col("supp_region") == "EUROPE")
                & (F.col("cust_region") == "ASIA")
            )
            | (
                (F.col("supp_region") == "ASIA")
                & (F.col("cust_region") == "EUROPE")
            )
        )
    )
    agg = joined.groupBy(
        "supp_region",
        "cust_region",
        F.year("l_shipdate").cast("int").alias("ship_year"),
    ).agg(
        F.expr(
            "cast(sum(cast(l_extendedprice as decimal(18,2))"
            " * (1 - cast(l_discount as decimal(18,2)))) as double)"
        ).alias("volume"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return agg.orderBy("supp_region", "cust_region", "ship_year")


@register(
    "q8_market_share",
    oracle="""
WITH all_lines AS (
  SELECT CAST(YEAR(o.o_orderdate) AS INT) AS order_year,
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS volume,
         ns.n_name AS supp_nation
  FROM lineitem l
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN part p     ON p.p_partkey = l.l_partkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
  JOIN region r   ON r.r_regionkey = nc.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'ASIA' AND p.p_type = 'STANDARD'
)
SELECT order_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
       COUNT(*) AS n_lines
FROM all_lines
GROUP BY order_year
ORDER BY order_year
""",
    doc="TPC-H Q8-style national market share: the fraction of ASIA's "
    "STANDARD-part revenue supplied by one nation, per order year.  "
    "Numerator and denominator aggregate in the same pass (conditional "
    "decimal sum); the p_type filter prunes via the broadcast part join "
    "before the revenue math.  One fact-fact shuffle, five broadcasts.",
    tags=("relational", "join", "aggregation"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), c.c_nationkey == F.col("nc_key"))
        .join(F.broadcast(r), F.col("nc_region") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), s.s_nationkey == F.col("ns_key"))
    )
    lines = joined.select(
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.expr(
            "cast(l_extendedprice as decimal(18,2))"
            " * (1 - cast(l_discount as decimal(18,2)))"
        ).alias("volume"),
        "supp_nation",
    )
    agg = lines.groupBy("order_year").agg(
        F.expr(
            "cast(sum(case when supp_nation = 'NATION_2' then volume"
            " else cast(0 as decimal(18,2)) end) as double)"
            " / cast(sum(volume) as double)"
        ).alias("mkt_share"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return agg.orderBy("order_year")


@register(
    "q13_customer_distribution",
    oracle="""
WITH per_cust AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    doc="TPC-H Q13-style customer order-count distribution, INCLUDING "
    "zero-order customers (the left join is the point of the query).  "
    "Two aggregations: per-customer counts shuffle on the join key they "
    "already share (no extra exchange under AQE), then the distribution "
    "rollup collapses to at most max-order-count rows.",
    tags=("relational", "join", "aggregation", "outer-join"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q15_top_supplier",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM revenue r
JOIN supplier s ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s.s_suppkey
""",
    doc="TPC-H Q15-style top supplier: the supplier(s) with maximum "
    "quarterly revenue (ties all emitted, per the spec).  The revenue "
    "'view' is computed once; Spark expresses the scalar-max filter as a "
    "window MAX over an empty partition on the ALREADY-aggregated "
    "per-supplier rows -- tiny input, no second scan of lineitem, where "
    "the naive correlated form would rescan the fact table.",
    tags=("relational", "aggregation", "subquery", "window"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.expr(
                "cast(sum(cast(l_extendedprice as decimal(18,2))"
                " * (1 - cast(l_discount as decimal(18,2)))) as double)"
            ).alias("total_revenue")
        )
    )
    # global-window: unordered MAX over the per-supplier aggregate (dimension-sized, no sort frame)
    w = Window.partitionBy()
    top = revenue.withColumn(
        "mx", F.max("total_revenue").over(w)
    ).where(F.col("total_revenue") == F.col("mx"))
    return (
        top.join(F.broadcast(s), top.supplier_no == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
WITH brand_lines AS (
  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_brand = 'Brand#1'
),
part_avg AS (
  SELECT l_partkey,
         0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                / COUNT(*)) AS qty_cut
  FROM brand_lines GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(b.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
         AS avg_yearly,
       COUNT(*) AS n_lines
FROM brand_lines b
JOIN part_avg a ON a.l_partkey = b.l_partkey
WHERE b.l_quantity < a.qty_cut
""",
    doc="TPC-H Q17-style small-quantity-order revenue: lines of one brand "
    "whose quantity is under 20% of that part's average.  The per-part "
    "average and the line filter are a self-join of the SAME filtered "
    "scan on its natural key -- the brand filter rides the broadcast "
    "part join, the per-part aggregate broadcast-joins back under AQE, "
    "and lineitem is scanned once per side with only brand lines kept.  "
    "The cut itself (0.2 * exact-decimal mean) is deterministic IEEE.",
    tags=("relational", "join", "aggregation", "subquery"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    brand_lines = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part_avg = brand_lines.groupBy("l_partkey").agg(
        F.expr(
            "0.2 * (cast(sum(cast(l_quantity as decimal(18,2))) as double)"
            " / count(*))"
        ).alias("qty_cut")
    )
    joined = brand_lines.join(
        part_avg.withColumnRenamed("l_partkey", "pk"),
        F.col("l_partkey") == F.col("pk"),
    ).where(F.col("l_quantity") < F.col("qty_cut"))
    return joined.agg(
        F.expr(
            "cast(sum(cast(l_extendedprice as decimal(18,2))) as double) / 7.0"
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q22_dormant_accounts",
    oracle="""
WITH cutoff AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         / COUNT(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0.0
),
rich_idle AS (
  SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
  FROM customer c, cutoff
  WHERE c.c_acctbal > cutoff.avg_bal
    AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
)
SELECT n.n_name,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM rich_idle r
JOIN nation n ON n.n_nationkey = r.c_nationkey
GROUP BY n.n_name
ORDER BY n.n_name
""",
    doc="TPC-H Q22-style global sales opportunity, adapted to the testdata "
    "schema (no phone column, so the country-code filter is dropped): "
    "above-average-balance customers with no orders since 2000, rolled "
    "up by nation. "
    "The scalar average broadcasts as a one-row cross join; the "
    "no-orders test is a LEFT ANTI join on the order keys only (column-"
    "pruned scan) -- the two canonical decorrelation patterns in one "
    "query.",
    tags=("relational", "anti-join", "subquery", "aggregation"),
)
def q22_dormant_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    cutoff = c.where(F.col("c_acctbal") > 0.0).agg(
        F.expr(
            "cast(sum(cast(c_acctbal as decimal(18,2))) as double) / count(*)"
        ).alias("avg_bal")
    )
    rich = c.crossJoin(F.broadcast(cutoff)).where(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    recent = o.where(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    ).select("o_custkey")
    idle = rich.join(
        recent, rich.c_custkey == F.col("o_custkey"), "left_anti"
    )
    return (
        idle.join(F.broadcast(n), idle.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.expr(
                "cast(sum(cast(c_acctbal as decimal(18,2))) as double)"
            ).alias("totacctbal"),
        )
        .orderBy("n_name")
    )



@register(
    "dq_validate_suite",
    oracle="""
WITH li AS (
  SELECT COUNT(*) AS n_rows,
         CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                       THEN 1 ELSE 0 END) AS BIGINT) AS bad_qty,
         CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.5
                       THEN 1 ELSE 0 END) AS BIGINT) AS bad_discount
  FROM lineitem
),
o AS (
  SELECT COUNT(*) AS n_rows,
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS dup_pk,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS null_cust
  FROM orders
),
d AS (
  SELECT CAST(SUM(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS empty_text,
         CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_chars_drift
  FROM documents
),
fk1 AS (
  SELECT COUNT(*) AS orphans FROM lineitem l
  ANTI JOIN orders oo ON oo.o_orderkey = l.l_orderkey
),
fk2 AS (
  SELECT COUNT(*) AS orphans FROM orders oo
  ANTI JOIN customer c ON c.c_custkey = oo.o_custkey
),
checks(check_name, observed, threshold) AS (
  SELECT 'lineitem_row_count_min', (SELECT n_rows FROM li), 1000
  UNION ALL SELECT 'lineitem_quantity_domain', (SELECT bad_qty FROM li), 0
  UNION ALL SELECT 'lineitem_discount_domain', (SELECT bad_discount FROM li), 0
  UNION ALL SELECT 'orders_pk_unique', (SELECT dup_pk FROM o), 0
  UNION ALL SELECT 'orders_custkey_complete', (SELECT null_cust FROM o), 0
  UNION ALL SELECT 'lineitem_fk_orders', (SELECT orphans FROM fk1), 0
  UNION ALL SELECT 'orders_fk_customer', (SELECT orphans FROM fk2), 0
  UNION ALL SELECT 'documents_text_nonempty', (SELECT empty_text FROM d), 0
  UNION ALL SELECT 'documents_n_chars_consistent',
                   (SELECT n_chars_drift FROM d), 0
)
SELECT check_name,
       CAST(observed AS BIGINT) AS observed,
       CAST(threshold AS BIGINT) AS threshold,
       CAST(CASE WHEN check_name = 'lineitem_row_count_min'
                 THEN observed >= threshold
                 ELSE observed <= threshold END AS INT) AS passed
FROM checks
""",
    doc="Deequ-style data-validation suite: domain checks, primary-key "
    "uniqueness, foreign-key orphan counts, null completeness, and a "
    "derived-column consistency check (n_chars vs length(text)), emitted "
    "as one verdict row per constraint.  Scale design: all per-table "
    "constraints for a table fold into ONE conditional-aggregate scan "
    "(deequ's core trick -- checks per table, not scans per check); the "
    "FK checks are anti-join counts on column-pruned key scans.  The "
    "suite is the pre-training gate a 100 TB corpus refresh runs before "
    "any expensive pipeline stage.",
    tags=("quality", "validation", "aggregation", "anti-join"),
)
def dq_validate_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    d = load_table(spark, sf_dir, "documents")

    li_stats = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)
            .otherwise(0)
        ).alias("bad_qty"),
        F.sum(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.5), 1
            ).otherwise(0)
        ).alias("bad_discount"),
    )
    o_stats = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dup_pk"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
            "null_cust"
        ),
    )
    d_stats = d.agg(
        F.sum(F.when(F.length("text") == 0, 1).otherwise(0)).alias(
            "empty_text"
        ),
        F.sum(
            F.when(F.col("n_chars") != F.length("text"), 1).otherwise(0)
        ).alias("n_chars_drift"),
    )
    fk1 = (
        li.select("l_orderkey")
        .join(
            o.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("orphans"))
    )
    fk2 = (
        o.select("o_custkey")
        .join(
            c.select("c_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("orphans"))
    )
    # One scan per table: each single-row stats aggregate unpivots into its
    # verdict rows via stack() -- referencing li_stats from three separate
    # union branches would re-run the lineitem scan per branch (Catalyst
    # does not CSE across union arms).
    checks = (
        li_stats.select(
            F.expr(
                "stack(3,"
                " 'lineitem_row_count_min', cast(n_rows as bigint), 1000L,"
                " 'lineitem_quantity_domain', cast(bad_qty as bigint), 0L,"
                " 'lineitem_discount_domain', cast(bad_discount as bigint),"
                " 0L) as (check_name, observed, threshold)"
            )
        )
        .unionByName(
            o_stats.select(
                F.expr(
                    "stack(2,"
                    " 'orders_pk_unique', cast(dup_pk as bigint), 0L,"
                    " 'orders_custkey_complete', cast(null_cust as bigint),"
                    " 0L) as (check_name, observed, threshold)"
                )
            )
        )
        .unionByName(
            d_stats.select(
                F.expr(
                    "stack(2,"
                    " 'documents_text_nonempty', cast(empty_text as bigint),"
                    " 0L,"
                    " 'documents_n_chars_consistent',"
                    " cast(n_chars_drift as bigint), 0L)"
                    " as (check_name, observed, threshold)"
                )
            )
        )
        .unionByName(
            fk1.select(
                F.lit("lineitem_fk_orders").alias("check_name"),
                F.col("orphans").cast("bigint").alias("observed"),
                F.lit(0).cast("bigint").alias("threshold"),
            )
        )
        .unionByName(
            fk2.select(
                F.lit("orders_fk_customer").alias("check_name"),
                F.col("orphans").cast("bigint").alias("observed"),
                F.lit(0).cast("bigint").alias("threshold"),
            )
        )
    )
    return checks.select(
        "check_name",
        "observed",
        "threshold",
        F.when(
            F.col("check_name") == "lineitem_row_count_min",
            F.col("observed") >= F.col("threshold"),
        )
        .otherwise(F.col("observed") <= F.col("threshold"))
        .cast("int")
        .alias("passed"),
    )


BASKET_MIN_SUP = 5  # minimum co-occurrence count for a reported pair
BASKET_TOP = 20


@register(
    "orders_market_basket",
    oracle=f"""
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
),
n AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM items),
item_cnt AS (SELECT part, COUNT(*) AS cnt FROM items GROUP BY part),
pair_cnt AS (
  SELECT a.part AS part_a, b.part AS part_b, COUNT(*) AS n_both
  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
  GROUP BY a.part, b.part
  HAVING COUNT(*) >= {BASKET_MIN_SUP}
)
SELECT part_a, part_b, n_both,
       CAST(n_both AS DOUBLE) / CAST(n.n_orders AS DOUBLE) AS support,
       CAST(n_both * n.n_orders AS DOUBLE)
         / CAST(ca.cnt * cb.cnt AS DOUBLE) AS lift
FROM pair_cnt
CROSS JOIN n
JOIN item_cnt ca ON ca.part = pair_cnt.part_a
JOIN item_cnt cb ON cb.part = pair_cnt.part_b
ORDER BY n_both DESC, part_a, part_b
LIMIT {BASKET_TOP}
""",
    doc="Market-basket pair mining (the first pass of FP-growth/Apriori): "
    "part pairs co-occurring in the same order, with support and lift.  "
    "The pair generation is a WITHIN-ORDER self-join, so its cost is "
    "bounded by max-basket-size^2 per order (baskets are ~7 lines here), "
    "never corpus-quadratic -- the same bounded-blocking argument as the "
    "dedup family; the min-support HAVING prunes before the dimension "
    "joins, and item counts + the order total are broadcast-sized.  "
    "Lift is one double division of exact integer products.",
    tags=("relational", "basket", "mining", "join"),
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    ).distinct()
    n_orders_df = items.agg(
        F.countDistinct("okey").alias("n_orders")
    )
    item_cnt = items.groupBy("part").agg(F.count(F.lit(1)).alias("cnt"))
    a = items.select("okey", F.col("part").alias("part_a"))
    b = items.select("okey", F.col("part").alias("part_b"))
    pair_cnt = (
        a.join(b, "okey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .where(F.col("n_both") >= BASKET_MIN_SUP)
    )
    ca = item_cnt.select(
        F.col("part").alias("part_a"), F.col("cnt").alias("cnt_a")
    )
    cb = item_cnt.select(
        F.col("part").alias("part_b"), F.col("cnt").alias("cnt_b")
    )
    scored = (
        pair_cnt.crossJoin(F.broadcast(n_orders_df))
        .join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .select(
            "part_a",
            "part_b",
            "n_both",
            F.expr("cast(n_both as double) / cast(n_orders as double)").alias(
                "support"
            ),
            F.expr(
                "cast(n_both * n_orders as double)"
                " / cast(cnt_a * cnt_b as double)"
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("n_both").desc(), "part_a", "part_b"
    ).limit(BASKET_TOP)


@register(
    "events_markov_transitions",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
),
totals AS (
  SELECT prev_type, CAST(SUM(n) AS BIGINT) AS row_total FROM trans
  GROUP BY prev_type
)
SELECT t.prev_type, t.next_type, t.n, tt.row_total,
       CAST(t.n AS DOUBLE) / CAST(tt.row_total AS DOUBLE) AS p
FROM trans t JOIN totals tt ON tt.prev_type = t.prev_type
ORDER BY t.prev_type, next_type
""",
    doc="First-order Markov transition matrix over per-user event "
    "sequences (the product-analytics 'what happens after X' table): "
    "lag() in the integer micros domain with event_id tiebreak, then "
    "transition counts and row-normalized probabilities.  One shuffle "
    "on user_id for the ordering; the matrix itself is "
    "event-type-squared tiny at any corpus size.",
    tags=("events", "markov", "window", "aggregation"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.expr("unix_micros(ts)"), F.col("event_id")
    )
    ordered = events.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        ordered.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = trans.groupBy("prev_type").agg(
        F.sum("n").cast("bigint").alias("row_total")
    )
    return (
        trans.join(F.broadcast(totals), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            "row_total",
            F.expr("cast(n as double) / cast(row_total as double)").alias("p"),
        )
        .orderBy("prev_type", "next_type")
    )


@register(
    "parts_abc_pareto",
    oracle="""
WITH rev AS (
  SELECT l_partkey,
         CAST(FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                             * (1 - CAST(l_discount AS DECIMAL(18,2))))
                         AS DOUBLE) * 100.0) AS BIGINT) AS rq
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT CAST(SUM(rq) AS BIGINT) AS t FROM rev),
ranked AS (
  SELECT l_partkey, rq,
         CAST(CAST(SUM(rq) OVER (ORDER BY rq DESC, l_partkey
                                 ROWS UNBOUNDED PRECEDING) AS DOUBLE)
              / CAST(tot.t AS DOUBLE) AS DOUBLE) AS cum_share
  FROM rev CROSS JOIN tot
),
classed AS (
  SELECT l_partkey, rq,
         CASE WHEN cum_share <= 0.8 THEN 'A'
              WHEN cum_share <= 0.95 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM ranked
)
SELECT abc_class,
       COUNT(*) AS n_parts,
       CAST(SUM(rq) AS BIGINT) AS class_revenue_cents,
       CAST(MIN(l_partkey) AS BIGINT) AS min_part,
       CAST(MAX(l_partkey) AS BIGINT) AS max_part
FROM classed
GROUP BY abc_class
ORDER BY abc_class
""",
    doc="ABC / Pareto classification of parts by revenue: rank by revenue, "
    "accumulate the share of total, cut at 80%/95% -- the inventory-"
    "management classic.  Per-part revenue is quantized to integer CENTS "
    "from the exact-decimal sum (floor of identical doubles is "
    "deterministic), so the running total, the grand total, and every "
    "share division are order-free integer/IEEE arithmetic -- a "
    "double-to-DECIMAL recast here would round HALF_UP in Spark but "
    "HALF_EVEN in DuckDB.  The running total is the TWO-PHASE bucketed "
    "prefix sum (functions/windows.py:prefix_sum_two_phase over -rq "
    "with the l_partkey tiebreak): a global ordered window would sort "
    "the whole part dimension on one reducer, and the (rq, partkey) "
    "total order plus exact int64 addition make the two-phase prefix "
    "bit-identical to the single-window oracle.  Bucket width 2^16 "
    "cents: the per-part revenue RANGE is SF-independent (~2e8 cents), "
    "so the width sets the fan-out ceiling -- 2^16 gives ~3k buckets "
    "at any scale where a coarser width capped parallelism at ~50.",
    tags=("relational", "window", "pareto", "aggregation"),
)
def parts_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.windows import prefix_sum_two_phase

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.expr(
            "cast(floor(cast(sum(cast(l_extendedprice as decimal(18,2))"
            " * (1 - cast(l_discount as decimal(18,2)))) as double)"
            " * 100.0) as bigint)"
        ).alias("rq")
    )
    tot = rev.agg(F.sum("rq").cast("bigint").alias("t"))
    # Descending revenue order as an ASCENDING integral order column.
    base = rev.withColumn("_g", F.lit(0)).withColumn("neg_rq", -F.col("rq"))
    pre = prefix_sum_two_phase(
        base, "_g", "neg_rq", "rq", order_extra=("l_partkey",),
        bucket_width=1 << 16, out_col="_pre",
    )
    ranked = pre.crossJoin(F.broadcast(tot)).withColumn(
        "cum_share",
        (F.col("_pre") + F.col("rq")).cast("double")
        / F.col("t").cast("double"),
    )
    classed = ranked.withColumn(
        "abc_class",
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rq").cast("bigint").alias("class_revenue_cents"),
            F.min("l_partkey").cast("bigint").alias("min_part"),
            F.max("l_partkey").cast("bigint").alias("max_part"),
        )
        .orderBy("abc_class")
    )


@register(
    "parts_skyline_cheap_small",
    oracle="""
WITH pts AS (
  SELECT p_retailprice AS price, p_size AS psize,
         COUNT(*) AS n_parts, MIN(p_partkey) AS sample_part
  FROM part GROUP BY p_retailprice, p_size
)
SELECT a.price, a.psize, a.n_parts, a.sample_part
FROM pts a
WHERE NOT EXISTS (
  SELECT 1 FROM pts b
  WHERE b.price <= a.price AND b.psize <= a.psize
    AND (b.price < a.price OR b.psize < a.psize)
)
ORDER BY a.price, a.psize
""",
    doc="Skyline (Pareto-front preference) query: the parts no other part "
    "beats on BOTH price and size -- the canonical multi-criteria "
    "shortlist.  The oracle states the NOT-EXISTS domination semantics "
    "directly; the Spark side earns them with the sort-scan algorithm: "
    "over DISTINCT (price, size) pairs ordered by (price, size), a pair "
    "is dominated iff the running MIN(size) over strictly-preceding "
    "pairs is <= its size -- one window pass, O(n log n), no quadratic "
    "self-join.  At 100 TB the distinct-pair grid (the only shuffled "
    "data) is tiny relative to the fact table.",
    tags=("relational", "skyline", "window", "preference"),
)
def parts_skyline_cheap_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    pts = part.groupBy(
        F.col("p_retailprice").alias("price"), F.col("p_size").alias("psize")
    ).agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min("p_partkey").alias("sample_part"),
    )
    # Distinct pairs sorted by (price, size): any strictly-preceding pair
    # has price < p, or price = p and size < s -- so it dominates iff its
    # size <= s, making "dominated" = running-min(size) over the preceding
    # frame <= s.  Pair distinctness rules out the equal-pair edge case.
    w = (
        # global-window: distinct (price, size) pairs -- bounded by the value grid, not row count
        Window.orderBy("price", "psize")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = pts.withColumn("min_prev_size", F.min("psize").over(w))
    return (
        flagged.where(
            F.col("min_prev_size").isNull()
            | (F.col("min_prev_size") > F.col("psize"))
        )
        .select("price", "psize", "n_parts", "sample_part")
        .orderBy("price", "psize")
    )


PATHS_TOP = 15


@register(
    "events_top_paths",
    oracle=f"""
WITH paths AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
         string_agg(event_type, '>' ORDER BY epoch_us(ts), event_id) AS path
  FROM events
  GROUP BY user_id, day
)
SELECT path, COUNT(*) AS n_sessions
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT {PATHS_TOP}
""",
    doc="Path exploration (the product-analytics 'what journeys happen "
    "most'): each user-day becomes an ordered event-type path string, "
    "then the most frequent journeys surface.  Path assembly is "
    "collect_list of (time, id, type) structs sorted in-array -- struct "
    "ordering gives a total, engine-independent order -- so the emitted "
    "strings match DuckDB's ORDER BY string_agg exactly.  Two shuffles "
    "(user-day grouping, then path counting), both map-side-combined; "
    "path cardinality, not event volume, bounds the second.",
    tags=("events", "paths", "aggregation"),
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    paths = (
        events.select(
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.struct(
                F.expr("unix_micros(ts)").alias("us"),
                F.col("event_id").alias("eid"),
                F.col("event_type").alias("et"),
            ).alias("z"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.expr(
                "concat_ws('>', transform(array_sort(collect_list(z)),"
                " x -> x.et))"
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(PATHS_TOP)
    )


# Skew decision rule, measured by the round-5 zipf probe
# (results/scale_probe.txt): broadcast always wins when the dim side fits;
# otherwise AQE skew-join handles moderate skew (it beat manual salting at
# zipf 1.2, hot key ~13%); manual salting only pays once ONE key holds
# tens of percent of all rows (zipf 2.0, hot key ~61%, salting won 1.6x
# where AQE's partition split did not recover).  Algebraic aggregates
# never need either -- map-side partial aggregation collapses hot keys
# before the shuffle.
SKEW_SALT_HOT_FRAC = 0.25  # top-1 key holds >= 25% of rows -> salt
SKEW_AQE_RATIO = 4.0  # skew_ratio above this -> let AQE skew-join handle it

_SKEW_ARM_SQL = (
    f"CASE WHEN CAST(top1_freq AS DOUBLE) / CAST(n_rows AS DOUBLE)"
    f" >= {SKEW_SALT_HOT_FRAC!r}"
    f" THEN 'salt' WHEN skew_ratio > {SKEW_AQE_RATIO!r} THEN 'aqe_skew_join'"
    f" ELSE 'plain' END"
)


def _skew_block(label: str, table: str, key: str) -> str:
    return f"""
SELECT key_col, n_rows, ndv, top1_freq, top10_freq, skew_ratio,
       {_SKEW_ARM_SQL} AS recommended_arm
FROM (
SELECT '{label}' AS key_col,
       a.n_rows, a.ndv, a.top1_freq, t.top10_freq,
       CAST(a.top1_freq * a.ndv AS DOUBLE) / CAST(a.n_rows AS DOUBLE)
         AS skew_ratio
FROM (
  SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS ndv,
         CAST(MAX(c) AS BIGINT) AS top1_freq
  FROM (SELECT {key} AS k, COUNT(*) AS c FROM {table} GROUP BY {key})
) a CROSS JOIN (
  SELECT CAST(SUM(c) AS BIGINT) AS top10_freq
  FROM (SELECT COUNT(*) AS c FROM {table} GROUP BY {key}
        ORDER BY COUNT(*) DESC, {key} LIMIT 10)
) t
)"""


@register(
    "dq_skew_profile",
    oracle=" UNION ALL ".join(
        [
            _skew_block("lineitem.l_orderkey", "lineitem", "l_orderkey"),
            _skew_block("lineitem.l_partkey", "lineitem", "l_partkey"),
            _skew_block("events.user_id", "events", "user_id"),
        ]
    ),
    doc="Join-key skew diagnostics: for each hot join/shuffle key, the "
    "row count, distinct count, heaviest-key frequency, top-10 "
    "frequency mass, the skew ratio top1 * ndv / rows (1.0 = "
    "perfectly uniform; >> 1 = a salting/AQE-skew-join candidate), "
    "and the RECOMMENDED ARM from the measured decision rule "
    "(round-5 zipf probe, results/scale_probe.txt): broadcast always "
    "precedes when the dim side fits; otherwise 'plain' for "
    "near-uniform keys, 'aqe_skew_join' for moderate skew (AQE beat "
    "manual salting at zipf 1.2), and 'salt' only when one key holds "
    ">= 25% of all rows (zipf 2.0 regime, where AQE's split did not "
    "recover and salting won 1.6x).  Algebraic aggregations need "
    "NEITHER -- map-side combine collapses hot keys pre-shuffle.  "
    "This is the measurement that DECIDES whether "
    "agg_salted_skew_user-style salting is worth its extra shuffle at "
    "100 TB -- run it on a sample before committing the plan.  Each "
    "key costs one groupBy shuffle; the top-10 is a TakeOrdered over "
    "already-aggregated counts, not a global sort.",
    tags=("dq", "diagnostics", "aggregation", "skew"),
)
def dq_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    def block(label: str, df: DataFrame, key: str) -> DataFrame:
        grp = df.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).alias("c")
        )
        summary = grp.agg(
            F.sum("c").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("ndv"),
            F.max("c").cast("bigint").alias("top1_freq"),
        )
        top10 = (
            grp.orderBy(F.col("c").desc(), F.col("k"))
            .limit(10)
            .agg(F.sum("c").cast("bigint").alias("top10_freq"))
        )
        return (
            summary.crossJoin(top10)
            .select(
                F.lit(label).alias("key_col"),
                "n_rows",
                "ndv",
                "top1_freq",
                "top10_freq",
                (
                    (F.col("top1_freq") * F.col("ndv")).cast("double")
                    / F.col("n_rows").cast("double")
                ).alias("skew_ratio"),
            )
            .withColumn("recommended_arm", F.expr(_SKEW_ARM_SQL))
        )

    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    return (
        block("lineitem.l_orderkey", li, "l_orderkey")
        .unionAll(block("lineitem.l_partkey", li, "l_partkey"))
        .unionAll(block("events.user_id", ev, "user_id"))
    )


@register(
    "join_fuzzy_part_names",
    oracle="""
WITH names AS (SELECT DISTINCT p_name FROM part),
blocked AS (
  SELECT a.p_name AS name_a, b.p_name AS name_b
  FROM names a JOIN names b
    ON a.p_name < b.p_name
   AND abs(length(a.p_name) - length(b.p_name)) <= 2
   AND (substr(a.p_name, 1, 3) = substr(b.p_name, 1, 3)
        OR substr(a.p_name, length(a.p_name) - 2, 3)
           = substr(b.p_name, length(b.p_name) - 2, 3))
)
SELECT name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS BIGINT) AS edit_dist
FROM blocked
WHERE levenshtein(name_a, name_b) <= 2
ORDER BY name_a, name_b
""",
    doc="Fuzzy (edit-distance) self-join for entity cleaning: distinct part "
    "names within Levenshtein distance 2, candidate-blocked by a length "
    "band (a true lev bound) plus shared 3-char prefix OR suffix, then "
    "verified with the exact distance -- the candidate-generate/verify "
    "shape every scale fuzzy join uses (the affix blocking trades "
    "recall for never going all-pairs; on this corpus it is measured "
    "COMPLETE against the brute-force join, pinned in "
    "tests/test_properties.py).  Distances are exact integers, so both "
    "engines agree bit-for-bit.  At 100 TB the name-dictionary side is "
    "orders of magnitude smaller than the fact data -- dedupe names "
    "first, fuzzy-join the dictionary, broadcast the mapping back.",
    tags=("relational", "join", "fuzzy", "dedup"),
)
def join_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    names = p.select("p_name").distinct()
    a = names.select(F.col("p_name").alias("name_a"))
    b = names.select(F.col("p_name").alias("name_b"))
    blocked = a.join(
        b,
        (F.col("name_a") < F.col("name_b"))
        & (
            F.abs(F.length("name_a") - F.length("name_b")) <= 2
        )
        & (
            (F.substring("name_a", 1, 3) == F.substring("name_b", 1, 3))
            | (
                F.expr("substr(name_a, length(name_a) - 2, 3)")
                == F.expr("substr(name_b, length(name_b) - 2, 3)")
            )
        ),
    )
    return (
        blocked.withColumn(
            "edit_dist",
            F.levenshtein("name_a", "name_b").cast("bigint"),
        )
        .where(F.col("edit_dist") <= 2)
        .orderBy("name_a", "name_b")
    )


RFM_ANCHOR = "2002-01-01 00:00:00"


@register(
    "customers_rfm_segments",
    oracle=f"""
WITH base AS (
  SELECT o_custkey AS custkey,
         date_diff('day', MAX(o_orderdate),
                   TIMESTAMP '{RFM_ANCHOR}') AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT custkey, recency_days, frequency, monetary_cents,
         ROW_NUMBER() OVER (ORDER BY recency_days, custkey) - 1 AS rr,
         ROW_NUMBER() OVER (ORDER BY frequency, custkey) - 1 AS rf,
         ROW_NUMBER() OVER (ORDER BY monetary_cents, custkey) - 1 AS rm,
         COUNT(*) OVER () AS n
  FROM base
),
scored AS (
  SELECT custkey, monetary_cents,
         CAST(LEAST(3, (4 * rr) // n) AS BIGINT) AS r_q,
         CAST(LEAST(3, (4 * rf) // n) AS BIGINT) AS f_q,
         CAST(LEAST(3, (4 * rm) // n) AS BIGINT) AS m_q
  FROM ranked
)
SELECT r_q, f_q, m_q,
       COUNT(*) AS n_customers,
       CAST(SUM(monetary_cents) AS BIGINT) AS total_cents,
       CAST(SUM(custkey) AS BIGINT) AS custkey_checksum
FROM scored
GROUP BY r_q, f_q, m_q
ORDER BY r_q, f_q, m_q
""",
    doc="RFM customer segmentation: per-customer recency (days from last "
    "order to a fixed anchor), frequency (order count), monetary "
    "(exact cents), each cut into quartiles by EXACT rank "
    "(quartile = 4*rank/n floored, deterministic custkey tiebreak) and "
    "rolled up per (R,F,M) cell with a membership checksum -- the "
    "classic marketing segmentation, kept cross-engine exact by "
    "integer ranks instead of percentile estimates.  All three rank "
    "passes run as the TWO-PHASE bucketed rank "
    "(functions/windows.py:rank_two_phase with a constant partition "
    "key): a global ROW_NUMBER window would sort the entire customer "
    "dimension on ONE reducer -- billions of rows at 100 TB (measured "
    "87.8s window vs 20.8s two-phase at 50M rows, "
    "results/scale_probe.txt).  Bucket widths are per-metric constants "
    "chosen from SF-INDEPENDENT per-customer spreads (recency spans "
    "the ~2400-day order window, frequency 1..~40 orders, monetary a "
    "bounded per-customer cents sum), so the bucket fan-out holds at "
    "any scale; the deterministic (value, custkey) total order makes "
    "the two-phase ranks identical to the single-window oracle bit "
    "for bit.  DECIDED (r12, closing the r11 not-yet item): no "
    "cardinality-adaptive switch back to plain windows below ~1M "
    "customers -- the fork's scale arm would never execute at the "
    "driver's test SFs and so could never earn driver correctness "
    "evidence, the fork needs an extra count() job on every build, "
    "and a data-dependent plan makes plan-hash regression tracking "
    "meaningless; the ~2.4x two-phase overhead below 1M customers "
    "(results/scale_probe.txt r10) is a bounded test-scale constant "
    "this registry pays knowingly, exactly like events_uplift_deciles.",
    tags=("relational", "window", "segmentation", "aggregation"),
)
def customers_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.windows import rank_two_phase

    o = load_table(spark, sf_dir, "orders")
    base = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(
            F.lit(RFM_ANCHOR).cast("timestamp"), F.max("o_orderdate")
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.expr("cast(round(o_totalprice * 100.0) as bigint)"))
        .cast("bigint")
        .alias("monetary_cents"),
    ).withColumn("_g", F.lit(0))
    # Three global exact ranks, each via the bucketed two-phase recipe
    # (constant-key form).  Widths size the fan-out ceiling RANGE/width,
    # since the per-customer value RANGES are SF-independent: recency 8
    # days (~220 buckets over the ~1800-day spread), monetary 2^20 cents
    # (~590 buckets over the 6M..621M-cent spread).  Frequency is a
    # LOW-NDV value (1..~40 orders/customer at any SF), where value
    # buckets alone cap the fan-out at the NDV -- the tie_bucket second
    # level splits each exact frequency's run by custkey div 2^20, so
    # the fan-out grows with the customer dimension instead.
    ranked = rank_two_phase(
        base, "_g", "recency_days", order_extra=("custkey",),
        bucket_width=8, rn_col="_rn_r", n_col="n",
    )
    ranked = rank_two_phase(
        ranked, "_g", "frequency", order_extra=("custkey",),
        bucket_width=1, rn_col="_rn_f", n_col="_n_f",
        tie_bucket=("custkey", 1 << 20),
    )
    ranked = (
        rank_two_phase(
            ranked, "_g", "monetary_cents", order_extra=("custkey",),
            bucket_width=1 << 20, rn_col="_rn_m", n_col="_n_m",
        )
        .withColumn("rr", F.col("_rn_r") - 1)
        .withColumn("rf", F.col("_rn_f") - 1)
        .withColumn("rm", F.col("_rn_m") - 1)
    )
    scored = ranked.select(
        "custkey",
        "monetary_cents",
        F.least(F.lit(3), F.expr("(4 * rr) div n"))
        .cast("bigint")
        .alias("r_q"),
        F.least(F.lit(3), F.expr("(4 * rf) div n"))
        .cast("bigint")
        .alias("f_q"),
        F.least(F.lit(3), F.expr("(4 * rm) div n"))
        .cast("bigint")
        .alias("m_q"),
    )
    return (
        scored.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary_cents").cast("bigint").alias("total_cents"),
            F.sum("custkey").cast("bigint").alias("custkey_checksum"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


@register(
    "dq_k_anonymity",
    oracle="""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size
  FROM customer
  GROUP BY c_nationkey, c_mktsegment
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(class_size) AS BIGINT) AS min_class_size,
       CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_lt_5,
       CAST(SUM(CASE WHEN class_size < 10 THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_lt_10,
       CAST(SUM(CASE WHEN class_size < 10 THEN class_size ELSE 0 END)
            AS BIGINT) AS customers_at_risk_lt_10
FROM classes
""",
    doc="k-anonymity audit over the (nation, market segment) "
    "quasi-identifier: equivalence-class size distribution, the "
    "minimum class size (the dataset's k), and how many classes / "
    "customers fall below k=5 and k=10 -- the privacy check a "
    "training-data release gate runs before publishing aggregates or "
    "joining external data.  One groupBy on the quasi-identifier "
    "tuple, one scalar rollup; trivially scale-safe.",
    tags=("dq", "privacy", "aggregation"),
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    classes = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    return classes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("class_size").cast("bigint").alias("min_class_size"),
        F.sum(F.when(F.col("class_size") < 5, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_lt_5"),
        F.sum(F.when(F.col("class_size") < 10, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_lt_10"),
        F.sum(
            F.when(F.col("class_size") < 10, F.col("class_size")).otherwise(0)
        )
        .cast("bigint")
        .alias("customers_at_risk_lt_10"),
    )


@register(
    "dq_l_diversity",
    oracle="""
WITH banded AS (
  SELECT c_nationkey, c_mktsegment,
         (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 100000)
           // 200000 AS bal_band
  FROM customer
),
classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS class_size,
         CAST(COUNT(DISTINCT bal_band) AS BIGINT) AS l_distinct
  FROM banded
  GROUP BY c_nationkey, c_mktsegment
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(l_distinct) AS BIGINT) AS min_l,
       CAST(SUM(CASE WHEN l_distinct < 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_lt_2,
       CAST(SUM(CASE WHEN l_distinct < 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_lt_3,
       CAST(SUM(CASE WHEN l_distinct < 2 THEN class_size ELSE 0 END)
            AS BIGINT) AS customers_fully_exposed
FROM classes
""",
    doc="Distinct l-diversity audit, the companion gate to dq_k_anonymity: "
    "k-anonymity alone fails the homogeneity attack (a class where "
    "every member shares the sensitive value discloses it even at "
    "large k), so for each (nation, market segment) equivalence class "
    "this counts DISTINCT sensitive values -- account-balance bands of "
    "2000 currency units, shifted to a non-negative integer grid so "
    "floor division agrees across engines -- and reports the dataset's "
    "l, classes below l=2 (full disclosure) and l=3, and how many "
    "customers sit in fully-homogeneous classes.  One groupBy on the "
    "quasi-identifier with a distinct-count, one scalar rollup -- the "
    "same two-phase shape as the k audit, scale-safe.",
    tags=("dq", "privacy", "aggregation"),
)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    banded = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.expr(
            "(cast(cast(c_acctbal as decimal(18,2)) * 100 as bigint)"
            " + 100000) div 200000"
        ).alias("bal_band"),
    )
    classes = banded.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("class_size"),
        F.countDistinct("bal_band").cast("bigint").alias("l_distinct"),
    )
    return classes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("l_distinct").cast("bigint").alias("min_l"),
        F.sum(F.when(F.col("l_distinct") < 2, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_lt_2"),
        F.sum(F.when(F.col("l_distinct") < 3, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_lt_3"),
        F.sum(
            F.when(F.col("l_distinct") < 2, F.col("class_size")).otherwise(0)
        )
        .cast("bigint")
        .alias("customers_fully_exposed"),
    )


BLOOM_M_BITS = 1 << 17  # filter size in bits (2048 int64 words, ~16 KiB)
BLOOM_K = 3  # salted portable hashes per key


@register(
    "join_bloom_prefilter",
    oracle="""
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS order_month,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY 1
""",
    doc="Runtime Bloom-filter semi-join reduction: the filtered dimension "
    "side (urgent orders) folds its join keys into a 128 Ki-bit Bloom "
    f"filter ({BLOOM_K} salted portable md5 hashes per key); the DISTINCT "
    "bit positions -- bounded by the filter size, NOT by the dimension "
    "row count -- are collected and embedded as a 2048-word int64 array "
    "literal, and the fact table drops non-matching rows in its scan "
    "stage BEFORE the join and its exchange.  Bloom filters admit no "
    "false negatives and the real (broadcast) join then removes the "
    "false positives, so the result is exactly the plain join -- the "
    "oracle states it that way -- while the plan ships only "
    "~FP-rate-inflated matching rows through the shuffle; at 100 TB this "
    "is the explicit, engine-portable form of the sideways information "
    "passing Spark's own runtime bloom filters (AQE) apply, with the "
    "repo's cross-engine md5 hashing so the filter is reproducible "
    "anywhere.",
    tags=("relational", "join", "bloom", "runtime-filter"),
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash64_sql_spark

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_orderdate"
    )

    def positions(key_expr: str) -> list[str]:
        return [
            f"({hash64_sql_spark(key_expr, salt=f'bloom{i}:')} % {BLOOM_M_BITS})"
            for i in range(BLOOM_K)
        ]

    # Build: distinct bit positions (<= BLOOM_M_BITS of them, independent of
    # dimension cardinality), folded into int64 words driver-side.
    pos_rows = (
        urgent.select(
            F.explode(
                F.array(*[F.expr(p) for p in positions("cast(o_orderkey as string)")])
            ).alias("pos")
        )
        .distinct()
        .collect()
    )
    words = [0] * (BLOOM_M_BITS // 64)
    for r in pos_rows:
        words[r["pos"] >> 6] |= 1 << (r["pos"] & 63)
    # int64 two's-complement for values with bit 63 set
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    # Materialize the word array as DATA in a broadcast single-row frame
    # (a 2048-element array LITERAL re-evaluates per probe row and blows
    # the codegen method limit -- measured 10x slower).
    words_df = spark.createDataFrame([(words,)], schema="_bw array<bigint>")

    probe = li.crossJoin(F.broadcast(words_df))
    cond = None
    for p in positions("cast(l_orderkey as string)"):
        hit = F.expr(
            f"(shiftright(element_at(_bw, cast(({p}) >> 6 as int) + 1),"
            f" cast(({p}) & 63 as int)) & 1) = 1"
        )
        cond = hit if cond is None else cond & hit
    prefiltered = probe.where(cond).drop("_bw")

    joined = prefiltered.join(
        F.broadcast(urgent), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return joined.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "order_month"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.expr(
            "cast(sum(cast(l_extendedprice as decimal(18,2))"
            " * (1 - cast(l_discount as decimal(18,2)))) as double)"
        ).alias("revenue"),
    )


_FD_CANDIDATES = (
    ("nation.n_nationkey->n_regionkey", "nation", "n_nationkey", "n_regionkey"),
    ("customer.c_nationkey->c_mktsegment", "customer", "c_nationkey", "c_mktsegment"),
    ("orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
    ("documents.lang->source", "documents", "lang", "source"),
)


def _fd_audit_oracle() -> str:
    arms = []
    for fd, table, lhs, rhs in _FD_CANDIDATES:
        arms.append(f"""
SELECT '{fd}' AS fd,
       CAST(SUM(rows_g) AS BIGINT) AS n_rows,
       COUNT(*) AS n_groups,
       CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_groups,
       CAST(SUM(rows_g) - SUM(max_rhs) AS BIGINT) AS g3_rows_to_fix,
       CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 AS INT) AS holds
FROM (
  SELECT {lhs}, SUM(c) AS rows_g, COUNT(*) AS n_rhs, MAX(c) AS max_rhs
  FROM (SELECT {lhs}, {rhs}, COUNT(*) AS c FROM {table} GROUP BY 1, 2)
  GROUP BY 1
)""")
    return "\nUNION ALL\n".join(arms)


@register(
    "dq_fd_audit",
    oracle=_fd_audit_oracle(),
    doc="Approximate functional-dependency audit (the profiling side of "
    "schema discovery): for each candidate FD X -> Y the suite reports "
    "group counts, the number of X-groups seeing more than one Y, and "
    "the exact g3 repair cost (minimum rows to delete for the FD to "
    "hold = rows minus the sum of each group's modal-Y count -- the "
    "standard approximate-FD error measure).  Each FD is two cascaded "
    "hash aggregates -- (X, Y) counts, then per-X stats -- both "
    "map-side combined, so one FD costs one shuffle of at most "
    "|distinct(X, Y)| rows regardless of table size; candidates over "
    "the same table still share the scan via Spark's plan-level scan "
    "reuse.  Catches silent key violations and denormalization drift "
    "(a column that SHOULD be determined but isn't) before a corpus "
    "refresh propagates them.",
    tags=("quality", "profiling", "aggregation"),
)
def dq_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for fd, table, lhs, rhs in _FD_CANDIDATES:
        df = load_table(spark, sf_dir, table)
        pair = df.groupBy(lhs, rhs).agg(F.count(F.lit(1)).alias("c"))
        grp = pair.groupBy(lhs).agg(
            F.sum("c").alias("rows_g"),
            F.count(F.lit(1)).alias("n_rhs"),
            F.max("c").alias("max_rhs"),
        )
        arm = grp.agg(
            F.lit(fd).alias("fd"),
            F.sum("rows_g").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).alias("n_groups"),
            F.sum((F.col("n_rhs") > 1).cast("bigint")).cast("bigint").alias(
                "n_violating_groups"
            ),
            (F.sum("rows_g") - F.sum("max_rhs")).cast("bigint").alias(
                "g3_rows_to_fix"
            ),
            (F.sum((F.col("n_rhs") > 1).cast("bigint")) == 0)
            .cast("int")
            .alias("holds"),
        ).select(
            "fd", "n_rows", "n_groups", "n_violating_groups", "g3_rows_to_fix", "holds"
        )
        out = arm if out is None else out.unionByName(arm)
    return out


# (table, column, kind) spec shared by the Spark builder and the DuckDB
# oracle so the two sides cannot drift.  kind drives the min/max string
# rendering: decimal-cast doubles ("123.40") and fixed-pattern timestamps
# are bit-identical cross-engine; bare double->string is NOT.
_PROFILE_SPEC = (
    ("orders", (
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp"),
        ("o_orderpriority", "string"),
    )),
    ("documents", (
        ("doc_id", "bigint"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "bigint"),
    )),
)


def _profile_minmax_duck(agg: str, col: str, kind: str) -> str:
    if kind == "double":
        return f"CAST(CAST({agg}({col}) AS DECIMAL(18,2)) AS VARCHAR)"
    if kind == "timestamp":
        return f"strftime({agg}({col}), '%Y-%m-%d %H:%M:%S')"
    return f"CAST({agg}({col}) AS VARCHAR)"


def _profile_oracle() -> str:
    ctes, arms = [], []
    for tbl, cols in _PROFILE_SPEC:
        stats = ["COUNT(*) AS _n"]
        for c, kind in cols:
            stats.append(f"COUNT(*) - COUNT({c}) AS {c}__nulls")
            stats.append(f"COUNT(DISTINCT {c}) AS {c}__nd")
            stats.append(f"{_profile_minmax_duck('MIN', c, kind)} AS {c}__min")
            stats.append(f"{_profile_minmax_duck('MAX', c, kind)} AS {c}__max")
        ctes.append(f"prof_{tbl} AS (SELECT {', '.join(stats)} FROM {tbl})")
        for c, _ in cols:
            arms.append(
                f"SELECT '{tbl}' AS tbl, '{c}' AS col, CAST(_n AS BIGINT) AS n_rows,"
                f" CAST({c}__nulls AS BIGINT) AS n_nulls,"
                f" CAST({c}__nd AS BIGINT) AS n_distinct,"
                f" {c}__min AS min_v, {c}__max AS max_v FROM prof_{tbl}"
            )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(arms)


@register(
    "profile_table_columns",
    oracle=_profile_oracle(),
    doc="Deequ-ColumnProfiler-style dataset profile (the ANALYZE TABLE "
    "statistics layer a warehouse maintains and Catalyst's CBO consumes): "
    "per column -- row count, null count, exact distinct count, and "
    "type-aware min/max rendered to strings (decimal-cast doubles and "
    "fixed-pattern timestamps; a bare double->string cast formats "
    "differently across engines).  ALL of a table's per-column stats "
    "fold into ONE aggregate scan (deequ's stats-per-table-not-per-"
    "column trick), then unpivot to one row per column, so profiling a "
    "100 TB table costs one pass regardless of how many columns are "
    "profiled; at scale the exact COUNT(DISTINCT ...) slots swap for "
    "the repo's mergeable HLL registers with the same output shape.",
    tags=("quality", "profiling", "aggregation"),
)
def profile_table_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    def minmax(agg, c, kind):
        if kind == "double":
            return F.expr(f"cast(cast({agg}({c}) as decimal(18,2)) as string)")
        if kind == "timestamp":
            return F.expr(f"date_format({agg}({c}), 'yyyy-MM-dd HH:mm:ss')")
        return F.expr(f"cast({agg}({c}) as string)")

    out = None
    for tbl, cols in _PROFILE_SPEC:
        df = load_table(spark, sf_dir, tbl)
        aggs = [F.count(F.lit(1)).alias("_n")]
        for c, kind in cols:
            aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"))
            aggs.append(F.countDistinct(c).alias(f"{c}__nd"))
            aggs.append(minmax("min", c, kind).alias(f"{c}__min"))
            aggs.append(minmax("max", c, kind).alias(f"{c}__max"))
        row = df.agg(*aggs)
        structs = [
            F.struct(
                F.lit(tbl).alias("tbl"),
                F.lit(c).alias("col"),
                F.col("_n").cast("bigint").alias("n_rows"),
                F.col(f"{c}__nulls").cast("bigint").alias("n_nulls"),
                F.col(f"{c}__nd").cast("bigint").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_v"),
                F.col(f"{c}__max").alias("max_v"),
            )
            for c, _ in cols
        ]
        prof = row.select(F.explode(F.array(*structs)).alias("p")).select("p.*")
        out = prof if out is None else out.unionByName(prof)
    return out


AQP_SAMPLE_MOD = 64  # 1-in-64 deterministic hash sample (p = 1/64)


def _aqp_oracle() -> str:
    from ..functions.hashing import hash64_sql_duckdb

    h = hash64_sql_duckdb(
        "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)",
        salt="aqp:",
    )
    m = AQP_SAMPLE_MOD
    rev = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))"
    return f"""
WITH scanned AS (
  SELECT {rev} AS rev, ({h}) % {m} = 0 AS sampled FROM lineitem
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(COUNT(*) FILTER (sampled) AS BIGINT) AS n_sampled,
         SUM(rev) AS true_dec,
         COALESCE(SUM(rev) FILTER (sampled), 0) * {m} AS est_dec
  FROM scanned
)
SELECT n_total, n_sampled,
       CAST(true_dec AS DOUBLE) AS true_revenue,
       CAST(est_dec AS DOUBLE) AS est_revenue,
       CAST(ABS(est_dec - true_dec) AS DOUBLE)
         / CAST(true_dec AS DOUBLE) * 100 AS rel_err_pct
FROM agg
"""


@register(
    "aqp_sampled_revenue",
    oracle=_aqp_oracle(),
    doc="Approximate query processing with a measured error bound: total "
    "lineitem revenue estimated from a deterministic 1-in-"
    f"{AQP_SAMPLE_MOD} hash sample (Horvitz-Thompson estimator: sample "
    f"sum x {AQP_SAMPLE_MOD}), computed alongside the exact answer in "
    "the SAME single scan so the query reports its own true relative "
    "error -- the AQP evaluation harness shape.  Every sum is exact "
    "decimal; the estimator scale-up and the error difference stay in "
    "the decimal domain, and the one double division has identical "
    "operands cross-engine.  Hash-deterministic membership means the "
    "estimate is reproducible across runs, cluster sizes and engines "
    "(unlike TABLESAMPLE).  100 TB shape: ONE map-side-combined "
    "conditional aggregation pass, no shuffle beyond the final 1-row "
    "combine; a production AQP system persists the sample slice at "
    "write time and scans 1/64th the bytes -- membership here is the "
    "same hash predicate it would use.",
    tags=("aqp", "sampling", "aggregation"),
)
def aqp_sampled_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash64_sql_spark

    h = hash64_sql_spark(
        "concat(cast(l_orderkey as string), ':', cast(l_linenumber as string))",
        salt="aqp:",
    )
    m = AQP_SAMPLE_MOD
    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr(
            "cast(l_extendedprice * (1 - l_discount) as decimal(38,4))"
        ).alias("rev"),
        (F.expr(h) % m == 0).alias("sampled"),
    )
    agg = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.expr("count_if(sampled)").cast("bigint").alias("n_sampled"),
        F.sum("rev").alias("true_dec"),
        (
            F.coalesce(F.expr("sum(case when sampled then rev end)"), F.lit(0))
            * m
        ).alias("est_dec"),
    )
    return agg.select(
        "n_total",
        "n_sampled",
        F.col("true_dec").cast("double").alias("true_revenue"),
        F.col("est_dec").cast("double").alias("est_revenue"),
        (
            F.abs(F.col("est_dec") - F.col("true_dec")).cast("double")
            / F.col("true_dec").cast("double")
            * 100
        ).alias("rel_err_pct"),
    )


@register(
    "scd2_customer_priority",
    oracle="""
WITH ordered AS (
  SELECT o_custkey,
         o_orderpriority AS seg,
         epoch_us(o_orderdate) AS ts_us,
         LAG(o_orderpriority) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ) AS prev_seg
  FROM orders
),
changes AS (
  SELECT o_custkey, seg, ts_us FROM ordered
  WHERE prev_seg IS NULL OR seg <> prev_seg
)
SELECT o_custkey, seg,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
       CAST(ts_us AS BIGINT) AS valid_from_us,
       CAST(LEAD(ts_us) OVER w AS BIGINT) AS valid_to_us,
       CAST(LEAD(ts_us) OVER w IS NULL AS INT) AS is_current
FROM changes
WINDOW w AS (PARTITION BY o_custkey ORDER BY ts_us, seg)
""",
    doc="Slowly-changing-dimension TYPE 2 build -- the temporal "
    "dimension-versioning transform every warehouse load runs: each "
    "customer's order stream is treated as the change log of their "
    "priority attribute, consecutive duplicates collapse (a new "
    "version only when the value CHANGES), and each surviving version "
    "gets [valid_from, valid_to) effectivity plus a current flag via "
    "one LEAD window -- the classic log-to-dimension derivation.  "
    "Timestamps compare in the integer micros domain (the repo's "
    "cross-engine timestamp rule).  100 TB shape: two windows over "
    "the same (custkey, time) order -- ONE shuffle on the dimension "
    "key, no self-joins; the change-collapse runs on the log before "
    "any dimension table is materialized.",
    tags=("relational", "scd2", "window", "temporal"),
)
def scd2_customer_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    w_log = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ordered = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.col("o_orderpriority").alias("seg"),
            # o_orderdate reads as TIMESTAMP_NTZ; with the session pinned
            # UTC the NTZ->LTZ cast preserves wall-clock == epoch micros
            # (the events.ts recipe), matching DuckDB's epoch_us exactly.
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("ts_us"),
            F.lag("o_orderpriority").over(w_log).alias("prev_seg"),
        )
    )
    changes = ordered.where(
        F.col("prev_seg").isNull() | (F.col("seg") != F.col("prev_seg"))
    )
    w = Window.partitionBy("o_custkey").orderBy("ts_us", "seg")
    return changes.select(
        "o_custkey",
        "seg",
        F.row_number().over(w).cast("bigint").alias("version"),
        F.col("ts_us").cast("bigint").alias("valid_from_us"),
        F.lead("ts_us").over(w).cast("bigint").alias("valid_to_us"),
        F.lead("ts_us").over(w).isNull().cast("int").alias("is_current"),
    )


def _fd_repair_oracle() -> str:
    from ..functions.hashing import hash64_sql_duckdb

    h = hash64_sql_duckdb(
        "CAST(o_custkey AS VARCHAR) || ':' || modal_rhs", salt="fdrep:"
    )
    return f"""
WITH pair AS (
  SELECT o_custkey, o_orderpriority AS rhs, COUNT(*) AS c
  FROM orders GROUP BY 1, 2
),
modal AS (
  SELECT o_custkey, rhs AS modal_rhs FROM pair
  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
                             ORDER BY c DESC, rhs) = 1
),
repaired AS (
  SELECT o.o_custkey, o.o_orderpriority, m.modal_rhs
  FROM orders o JOIN modal m USING (o_custkey)
)
SELECT 'orders.o_custkey->o_orderpriority' AS fd,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) FILTER (o_orderpriority <> modal_rhs) AS BIGINT)
         AS n_repaired,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_groups,
       CAST(SUM(({h}) % 1000000007) AS BIGINT) AS repair_checksum
FROM repaired
"""


@register(
    "dq_fd_repair",
    oracle=_fd_repair_oracle(),
    doc="Functional-dependency REPAIR (the transform half of "
    "dq_fd_audit's census, the same audit->apply pattern as "
    "dedup_substring_exact -> dedup_substring_remove): the violated FD "
    "orders.o_custkey -> o_orderpriority is enforced by rewriting every "
    "row's RHS to its group's MODAL value (ties to the smallest value "
    "-- fully deterministic), the minimum-change repair whose row cost "
    "is exactly the audit's g3 measure.  Emits rows repaired and a "
    "per-assignment hash checksum that pins the exact repaired "
    "relation, not just counts.  100 TB shape: modal values come from "
    "the same two cascaded map-side-combined aggregates as the audit "
    "(one shuffle of |distinct(X,Y)|), and the repair itself is a "
    "broadcast join of the modal table (|distinct X| rows) against the "
    "fact -- no second fact shuffle.",
    tags=("quality", "repair", "aggregation"),
)
def dq_fd_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash64_sql_spark

    orders = load_table(spark, sf_dir, "orders")
    pair = orders.groupBy("o_custkey", F.col("o_orderpriority").alias("rhs")).agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("o_custkey").orderBy(F.desc("c"), F.asc("rhs"))
    modal = (
        pair.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", F.col("rhs").alias("modal_rhs"))
    )
    repaired = orders.select("o_custkey", "o_orderpriority").join(
        F.broadcast(modal), "o_custkey"
    )
    h = hash64_sql_spark(
        "concat(cast(o_custkey as string), ':', modal_rhs)", salt="fdrep:"
    )
    return repaired.agg(
        F.lit("orders.o_custkey->o_orderpriority").alias("fd"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.expr("count_if(o_orderpriority != modal_rhs)")
        .cast("bigint")
        .alias("n_repaired"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_groups"),
        F.sum(F.expr(f"({h}) % 1000000007")).cast("bigint").alias(
            "repair_checksum"
        ),
    )


@register(
    "join_spatial_grid",
    oracle="""
SELECT n_nationkey AS box_id,
       COUNT(*) AS n_points,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM (SELECT value,
             (('0x' || substr(md5('lat:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT) % 180000 AS plat,
             (('0x' || substr(md5('lon:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT) % 360000 AS plon
      FROM events), nation
WHERE plat >= n_nationkey * 7200
  AND plat <  n_nationkey * 7200 + 14400
  AND plon >= ((n_nationkey * 13) % 24) * 15000
  AND plon <  ((n_nationkey * 13) % 24) * 15000 + 30000
GROUP BY 1
""",
    doc="Spatial grid join (point-in-box): the inequality join every naive "
    "formulation writes is a cross product at scale; the Spark plan "
    "EQUI-joins on a grid cell instead -- each point hashes to exactly one "
    "15000-milli-degree cell, each box explodes to the <=4 cells it covers, "
    "and the containment predicate runs only on cell-collided pairs.  A "
    "(point, box) pair can collide only in the point's own cell, so no "
    "dedup is needed.  Coordinates are derived deterministically from "
    "event_id via the repo's portable 60-bit md5 hash (always non-negative "
    "in int64, no overflow at ANY id range -- a Knuth multiplicative hash "
    "would wrap negative in Spark and raise in DuckDB past event_id~3.5e9) "
    "on a NON-NEGATIVE milli-degree "
    "grid so integer division floors identically in both engines; boxes "
    "come from the 25-row nation table and are broadcast.  The oracle is "
    "the plain theta join -- same result, quadratic plan.",
    tags=("relational", "join", "spatial", "grid"),
    bench=True,
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    cell = 15_000  # milli-degrees; box lat span 14400 <= cell, lon span 2 cells
    lat_h = hash64_sql_spark("cast(event_id as string)", salt="lat:")
    lon_h = hash64_sql_spark("cast(event_id as string)", salt="lon:")
    points = load_table(spark, sf_dir, "events").selectExpr(
        "event_id",
        "value",
        f"({lat_h}) % 180000 AS plat",
        f"({lon_h}) % 360000 AS plon",
    )
    boxes = load_table(spark, sf_dir, "nation").selectExpr(
        "n_nationkey AS box_id",
        "cast(n_nationkey * 7200 AS bigint) AS la0",
        "cast(n_nationkey * 7200 + 14400 AS bigint) AS la1",
        "cast(((n_nationkey * 13) % 24) * 15000 AS bigint) AS lo0",
        "cast(((n_nationkey * 13) % 24) * 15000 + 30000 AS bigint) AS lo1",
    )
    box_cells = boxes.selectExpr(
        "*",
        f"explode(sequence(la0 div {cell}, (la1 - 1) div {cell})) AS cla",
    ).selectExpr(
        "*",
        f"explode(sequence(lo0 div {cell}, (lo1 - 1) div {cell})) AS clo",
    )
    pts = points.selectExpr(
        "*", f"plat div {cell} AS cla", f"plon div {cell} AS clo"
    )
    joined = pts.join(F.broadcast(box_cells), ["cla", "clo"]).where(
        "plat >= la0 AND plat < la1 AND plon >= lo0 AND plon < lo1"
    )
    return joined.groupBy("box_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.expr("cast(sum(cast(value as decimal(18,2))) as double)").alias(
            "sum_value"
        ),
    )


@register(
    "window_range_frame",
    oracle="""
SELECT event_id,
       user_id,
       epoch_us(ts) AS ts_us,
       COUNT(*) OVER w AS n_last_hour,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_last_hour
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
    doc="Time-RANGE window frame: per-user trailing one-hour count and sum "
    "at every event.  RANGE frames are tie-safe (the frame is determined "
    "by the ORDER BY VALUE, so rows with equal timestamps all see the same "
    "frame regardless of their arbitrary order within the partition) -- "
    "the property that makes this cross-engine exact without a tiebreak.  "
    "Ordering on unix micros keeps both engines in the integer domain; "
    "the sum re-aggregates in DECIMAL.  One shuffle on user_id.",
    tags=("relational", "window", "timeseries"),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("sum_last_hour"),
    )


@register(
    "events_attribution_lasttouch",
    oracle="""
SELECT COALESCE(lt, 'none') AS touch_type,
       COUNT(*) AS n_conversions,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value
FROM (
  SELECT event_type, value,
         LAST_VALUE(CASE WHEN event_type IN ('click', 'view', 'signup')
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt
  FROM events
)
WHERE event_type = 'purchase'
GROUP BY 1
""",
    doc="Last-touch attribution: every purchase is credited to the most "
    "recent prior touchpoint (click/view/signup) of the same user; "
    "purchases with no prior touch fall into the 'none' bucket.  The "
    "running carry is last(..., ignorenulls) over a ROWS frame ordered by "
    "(event-time micros, event_id) -- the event_id tiebreak makes the "
    "carry deterministic when timestamps collide.  One shuffle on "
    "user_id, value re-summed in DECIMAL.",
    tags=("relational", "window", "timeseries", "attribution"),
)
def events_attribution_lasttouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch = F.when(
        F.col("event_type").isin("click", "view", "signup"),
        F.col("event_type"),
    )
    carried = events.withColumn("lt", F.last(touch, ignorenulls=True).over(w))
    return (
        carried.where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("lt", F.lit("none")).alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.expr("cast(sum(cast(value as decimal(18,2))) as double)").alias(
                "attributed_value"
            ),
        )
    )


# log10(1 + 1/d) spelled as identical double literals in both engines --
# computing them via ln/log10 would risk the known 1-ulp libm divergence.
# E-NOTATION is load-bearing: plain decimal literals parse as DECIMAL in
# both engines, and DuckDB's DECIMAL(17,17)->DOUBLE cast loses the last
# bit (measured: 0.12493873660829993 arrives as ...4988 vs ...499);
# exponent literals parse directly as DOUBLE in both.
_BENFORD_P = {
    1: "3.010299956639812e-1",
    2: "1.7609125905568124e-1",
    3: "1.2493873660829992e-1",
    4: "9.691001300805642e-2",
    5: "7.918124604762482e-2",
    6: "6.694678963061322e-2",
    7: "5.799194697768673e-2",
    8: "5.115252244738129e-2",
    9: "4.575749056067514e-2",
}
_BENFORD_CASE = "CASE first_digit " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD_P.items()
) + " END"


@register(
    "dq_benford_digits",
    oracle=f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS first_digit
  FROM orders
  WHERE o_totalprice > 0
),
counted AS (
  SELECT first_digit, COUNT(*) AS n, SUM(COUNT(*)) OVER () AS total
  FROM digits GROUP BY 1
)
SELECT first_digit, CAST(n AS BIGINT) AS n,
       CAST(total AS DOUBLE) * ({_BENFORD_CASE}) AS expected_n
FROM counted
""",
    doc="Benford first-digit audit (fraud / synthetic-data detector): "
    "distribution of the leading digit of order totals vs Benford's law. "
    "Amounts move to integer CENTS via round() (double->BIGINT casts "
    "round in DuckDB but truncate in Spark -- the round() makes both "
    "engines see the same integer); expected counts use log10(1+1/d) "
    "spelled as identical double literals in both engines (never "
    "compute ln/log10 cross-engine: measured 1-ulp libm divergence). "
    "One scan, one 9-group aggregate, total via a window over the "
    "grouped frame.",
    tags=("relational", "dq", "audit"),
)
def dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.where(F.col("o_totalprice") > 0).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
            1,
            1,
        )
        .cast("bigint")
        .alias("first_digit")
    )
    counted = digits.groupBy("first_digit").agg(
        F.count(F.lit(1)).alias("n")
    ).withColumn(
        # global-window: 9-row first-digit table
        "total", F.sum("n").over(Window.partitionBy())
    )
    return counted.select(
        "first_digit",
        F.col("n").cast("bigint").alias("n"),
        (F.col("total").cast("double") * F.expr(_BENFORD_CASE)).alias(
            "expected_n"
        ),
    )


@register(
    "dq_referential_integrity",
    oracle="""
SELECT * FROM (
  SELECT 'orders.o_custkey->customer' AS fk,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) FILTER (NOT EXISTS (
           SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
           AS BIGINT) AS n_orphans
  FROM orders o
  UNION ALL
  SELECT 'lineitem.l_orderkey->orders', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) FILTER (NOT EXISTS (
           SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
           AS BIGINT)
  FROM lineitem l
  UNION ALL
  SELECT 'lineitem.l_partkey->part', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) FILTER (NOT EXISTS (
           SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
           AS BIGINT)
  FROM lineitem l
  UNION ALL
  SELECT 'lineitem.l_suppkey->supplier', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) FILTER (NOT EXISTS (
           SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
           AS BIGINT)
  FROM lineitem l
)
""",
    doc="Referential-integrity audit: orphan-row counts for every foreign "
    "key in the star schema, each measured with a broadcast LEFT ANTI "
    "join against the referenced key set (key columns only -- the dim "
    "scan prunes to one column, and fact tables are scanned once per FK "
    "with no shuffle).  The n_rows totals ride the same scans.  This is "
    "the pre-join data-contract check a 100 TB pipeline runs before "
    "trusting its dimensions.",
    tags=("relational", "dq", "audit", "join"),
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    checks = [
        (
            "orders.o_custkey->customer",
            orders,
            "o_custkey",
            load_table(spark, sf_dir, "customer").select("c_custkey"),
            "c_custkey",
        ),
        (
            "lineitem.l_orderkey->orders",
            lineitem,
            "l_orderkey",
            orders.select("o_orderkey"),
            "o_orderkey",
        ),
        (
            "lineitem.l_partkey->part",
            lineitem,
            "l_partkey",
            load_table(spark, sf_dir, "part").select("p_partkey"),
            "p_partkey",
        ),
        (
            "lineitem.l_suppkey->supplier",
            lineitem,
            "l_suppkey",
            load_table(spark, sf_dir, "supplier").select("s_suppkey"),
            "s_suppkey",
        ),
    ]
    parts = []
    for fk, fact, fcol, dim, dcol in checks:
        # ONE scan per FK: broadcast LEFT join + conditional aggregation
        # (an unmatched key surfaces a NULL dim key) -- the n_rows total
        # and the orphan count genuinely ride the same pass, matching the
        # oracle's COUNT(*) FILTER formulation.
        flagged = fact.select(fcol).join(
            F.broadcast(dim), F.col(fcol) == F.col(dcol), "left"
        )
        parts.append(
            flagged.agg(
                F.lit(fk).alias("fk"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.expr(f"count_if({dcol} IS NULL)")
                .cast("bigint")
                .alias("n_orphans"),
            )
        )
    from functools import reduce

    return reduce(lambda a, b: a.unionAll(b), parts)


@register(
    "events_sankey_paths",
    oracle="""
SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT event_type AS t1,
         LEAD(event_type, 1) OVER w AS t2,
         LEAD(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
)
WHERE t2 IS NOT NULL AND t3 IS NOT NULL
GROUP BY 1, 2, 3
""",
    doc="Path mining for Sankey / user-journey diagrams: every length-3 "
    "run of consecutive event types per user, counted corpus-wide.  Two "
    "LEADs over one user-ordered window (single shuffle on user_id; the "
    "event_id tiebreak pins sequence order under timestamp ties), then "
    "a 125-cell-bounded aggregate.  The generalization of "
    "events_markov_transitions from bigram to trigram paths.",
    tags=("relational", "timeseries", "window", "paths"),
)
def events_sankey_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    seq = events.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        seq.where(F.col("t2").isNotNull() & F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@register(
    "dq_outlier_mad",
    oracle="""
WITH base AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
ranked AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM base
),
med AS (
  SELECT event_type,
         CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS BIGINT)
           AS med_cents
  FROM ranked GROUP BY event_type
),
dev AS (
  SELECT b.event_type, b.cents, abs(b.cents - m.med_cents) AS adev,
         m.med_cents
  FROM base b JOIN med m USING (event_type)
),
dranked AS (
  SELECT event_type, cents, adev, med_cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY adev) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM dev
),
mad AS (
  SELECT event_type,
         CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN adev END) AS BIGINT)
           AS mad_cents
  FROM dranked GROUP BY event_type
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MAX(d.med_cents) AS BIGINT) AS med_cents,
       CAST(MAX(m.mad_cents) AS BIGINT) AS mad_cents,
       CAST(COUNT(*) FILTER (d.adev > 3 * m.mad_cents) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
""",
    doc="Robust outlier audit via Median Absolute Deviation: per event "
    "type, median and MAD of the value distribution in integer CENTS "
    "(round() both sides -- double->BIGINT casts round in DuckDB but "
    "truncate in Spark), flagging |x - med| > 3*MAD.  Medians are "
    "rank-to-VALUE (lower middle at even counts): the value at a rank "
    "is multiset-determined even when rank assignment among ties is "
    "not, so no tiebreak is needed and the result is cross-engine "
    "exact -- unlike mean/stddev z-scores, immune to the outliers it "
    "hunts.  Both rank passes run as the TWO-PHASE bucketed rank "
    "(functions/windows.py:rank_two_phase): event_type has a handful of "
    "values, so a plain rank window would sort each type's entire data "
    "on one reducer; the bucketed form preserves value-at-rank exactly "
    "(equal values share a bucket) and is checked against the "
    "single-window oracle.",
    tags=("relational", "dq", "audit", "robust-stats"),
)
def dq_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.windows import rank_two_phase

    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    ranked = rank_two_phase(base, "event_type", "cents", bucket_width=1024)
    med = ranked.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("cents"))
        )
        .cast("bigint")
        .alias("med_cents")
    )
    # Persisted: consumed by both the MAD rank pass and the final
    # aggregate -- unpersisted, the second consumer re-scans events and
    # re-runs the median join.
    dev = track_persist(
        base.join(F.broadcast(med), "event_type").select(
            "event_type",
            "cents",
            F.abs(F.col("cents") - F.col("med_cents")).alias("adev"),
            "med_cents",
        )
    )
    dranked = rank_two_phase(
        dev.select("event_type", "adev"), "event_type", "adev",
        bucket_width=1024,
    )
    mad = dranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("adev")))
        .cast("bigint")
        .alias("mad_cents")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.max("med_cents").cast("bigint").alias("med_cents"),
            F.max("mad_cents").cast("bigint").alias("mad_cents"),
            F.expr("count_if(adev > 3 * mad_cents)")
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Experimentation analytics: A/B testing over the events stream.
# ---------------------------------------------------------------------------
# Variant assignment is a deterministic 60-bit md5 hash of user_id mod 2 --
# exactly how production experiment frameworks bucket users (stable across
# re-runs and appends, no assignment table to join).  The Welch statistic is
# rendered from ONE shared snippet per side so every double operation has
# identical operands and ordering cross-engine: quantized-integer sums give
# exact (n, sum, sum-of-squares) per arm, and everything after is
# deterministic IEEE (division, multiplication, sqrt).
_AB_Z = "1.959963984540054"  # two-sided 95% critical value, exact literal


def _welch_snippets() -> dict[str, str]:
    """Expression fragments shared verbatim by the Spark plan and the
    DuckDB oracle (both engines parse the same arithmetic shape)."""
    out = {}
    for arm in ("a", "b"):
        out[f"mean_{arm}"] = (
            f"cast(s1_{arm} as double)"
            f" / (cast(1e8 as double) * cast(n_{arm} as double))"
        )
        # Sample variance via E[x^2] - mean^2, Bessel-corrected; the
        # subexpressions reuse the aliased mean_<arm> column so both sides
        # compute from the SAME double.
        out[f"var_{arm}"] = (
            f"(cast(s2_{arm} as double)"
            f" / (cast(1e8 as double) * cast(n_{arm} as double))"
            f" - mean_{arm} * mean_{arm})"
            f" * (cast(n_{arm} as double) / cast(n_{arm} - 1 as double))"
        )
        out[f"se2_{arm}"] = f"var_{arm} / cast(n_{arm} as double)"
    out["t_stat"] = "(mean_a - mean_b) / sqrt(se2_a + se2_b)"
    out["welch_df"] = (
        "((se2_a + se2_b) * (se2_a + se2_b))"
        " / (se2_a * se2_a / cast(n_a - 1 as double)"
        "    + se2_b * se2_b / cast(n_b - 1 as double))"
    )
    return out


_W = _welch_snippets()


@register(
    "events_ab_welch_ttest",
    oracle=f"""
WITH assigned AS (
  SELECT event_type, value,
         {hash64_sql_duckdb("CAST(user_id AS VARCHAR)", "ab")} % 2 AS variant
  FROM events
),
arms AS (
  SELECT event_type,
         CAST(COUNT(*) FILTER (variant = 0) AS BIGINT) AS n_a,
         CAST(COUNT(*) FILTER (variant = 1) AS BIGINT) AS n_b,
         CAST(SUM(CAST(FLOOR(value * 1e8) AS BIGINT)) FILTER (variant = 0)
              AS BIGINT) AS s1_a,
         CAST(SUM(CAST(FLOOR(value * 1e8) AS BIGINT)) FILTER (variant = 1)
              AS BIGINT) AS s1_b,
         CAST(SUM(CAST(FLOOR(value * value * 1e8) AS BIGINT))
              FILTER (variant = 0) AS BIGINT) AS s2_a,
         CAST(SUM(CAST(FLOOR(value * value * 1e8) AS BIGINT))
              FILTER (variant = 1) AS BIGINT) AS s2_b
  FROM assigned GROUP BY event_type
),
means AS (
  SELECT event_type, n_a, n_b, s1_a, s1_b, s2_a, s2_b,
         {_W["mean_a"]} AS mean_a, {_W["mean_b"]} AS mean_b
  FROM arms WHERE n_a > 1 AND n_b > 1
),
vars_ AS (
  SELECT *, {_W["var_a"]} AS var_a, {_W["var_b"]} AS var_b FROM means
),
ses AS (
  SELECT *, {_W["se2_a"]} AS se2_a, {_W["se2_b"]} AS se2_b FROM vars_
)
SELECT event_type, n_a, n_b, mean_a, mean_b,
       {_W["t_stat"]} AS t_stat,
       {_W["welch_df"]} AS welch_df,
       CAST(abs({_W["t_stat"]}) > {_AB_Z} AS INT) AS significant
FROM ses
WHERE se2_a + se2_b > 0.0
""",
    doc="A/B experiment readout with Welch's unequal-variance t-test: "
    "users are hashed into two arms (deterministic md5 bucketing -- the "
    "standard production assignment that survives re-runs and appends), "
    "then per-(event_type, arm) count / mean / sample variance feed the "
    "Welch t statistic and Welch-Satterthwaite degrees of freedom.  "
    "Exactness: per-arm moments come from quantized-integer sums "
    "(order-free across partitions), and the t/df arithmetic is rendered "
    "from one shared snippet so both engines execute the identical IEEE "
    "expression tree.  Plan shape: ONE scan of events, ONE map-side-"
    "combined aggregate keyed by tiny event_type (conditional FILTER "
    "aggregation folds both arms into a single shuffle row per group) -- "
    "at 100 TB this is the textbook two-pass-free experiment scorer: "
    "no per-arm subqueries, no join, |groups| rows of state.  Arms with "
    "n <= 1 or zero pooled variance are excluded identically on both "
    "sides (the statistic is undefined there).",
    tags=("events", "experimentation", "aggregation", "stats"),
    bench=True,
)
def events_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    assigned = events.select(
        "event_type",
        "value",
        F.expr(
            f"{hash64_sql_spark('cast(user_id as string)', 'ab')} % 2"
        ).alias("variant"),
    )
    q8 = "cast(floor(value * 1e8) as bigint)"
    q8sq = "cast(floor(value * value * 1e8) as bigint)"
    arms = assigned.groupBy("event_type").agg(
        F.expr("count_if(variant = 0)").cast("bigint").alias("n_a"),
        F.expr("count_if(variant = 1)").cast("bigint").alias("n_b"),
        F.expr(f"sum(case when variant = 0 then {q8} end)")
        .cast("bigint")
        .alias("s1_a"),
        F.expr(f"sum(case when variant = 1 then {q8} end)")
        .cast("bigint")
        .alias("s1_b"),
        F.expr(f"sum(case when variant = 0 then {q8sq} end)")
        .cast("bigint")
        .alias("s2_a"),
        F.expr(f"sum(case when variant = 1 then {q8sq} end)")
        .cast("bigint")
        .alias("s2_b"),
    )
    means = arms.where("n_a > 1 and n_b > 1").select(
        "*",
        F.expr(_W["mean_a"]).alias("mean_a"),
        F.expr(_W["mean_b"]).alias("mean_b"),
    )
    vars_ = means.select(
        "*",
        F.expr(_W["var_a"]).alias("var_a"),
        F.expr(_W["var_b"]).alias("var_b"),
    )
    ses = vars_.select(
        "*",
        F.expr(_W["se2_a"]).alias("se2_a"),
        F.expr(_W["se2_b"]).alias("se2_b"),
    )
    return ses.where("se2_a + se2_b > 0.0").select(
        "event_type",
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        F.expr(_W["t_stat"]).alias("t_stat"),
        F.expr(_W["welch_df"]).alias("welch_df"),
        F.expr(f"cast(abs({_W['t_stat']}) > {_AB_Z} as int)").alias(
            "significant"
        ),
    )




# Shared pre/post-period covariate block (CUPED + uplift): per-user
# integer-cents spend in each half of the global time range, split at the
# integer-micros midpoint.  ONE definition on each side -- a midpoint or
# coalesce change cannot silently diverge the consumers.
_PRE_POST_CTE_D = """pe AS (
  SELECT user_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         epoch_us(ts) AS t
  FROM events
),
bounds AS (SELECT MIN(t) AS lo, MAX(t) AS hi FROM pe),
per_user AS (
  SELECT user_id,
         CAST(COALESCE(SUM(CASE WHEN t - lo < (hi - lo) // 2 THEN cents END),
                       0) AS BIGINT) AS x,
         CAST(COALESCE(SUM(CASE WHEN t - lo >= (hi - lo) // 2 THEN cents END),
                       0) AS BIGINT) AS y
  FROM pe CROSS JOIN bounds
  GROUP BY user_id
)"""


def _per_user_pre_post(events: DataFrame) -> DataFrame:
    """Spark twin of _PRE_POST_CTE_D: per-user (x, y) = pre/post cents."""
    pe = events.select(
        "user_id",
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias(
            "cents"
        ),
        F.expr("unix_micros(ts)").alias("t"),
    )
    bounds = pe.agg(F.min("t").alias("lo"), F.max("t").alias("hi"))
    return (
        pe.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.expr(
                "cast(coalesce(sum(case when t - lo < (hi - lo) div 2"
                " then cents end), 0) as bigint)"
            ).alias("x"),
            F.expr(
                "cast(coalesce(sum(case when t - lo >= (hi - lo) div 2"
                " then cents end), 0) as bigint)"
            ).alias("y"),
        )
    )


# --- CUPED variance-reduced experiment readout -------------------------------
# Companion to events_ab_welch_ttest: the industry-standard pre-experiment
# covariate adjustment (Deng et al., WSDM 2013).  Each user's PRE-period
# spend (first half of the time range) is the covariate X for their POST-
# period spend Y; theta = cov(X,Y)/var(X) is fit pooled across arms, and the
# arms are compared on Y - theta*(X - mean(X)).  All moments are exact
# integer-cents sums; every double op after them is rendered from one shared
# snippet per side (the Welch recipe).  Integer budget: per-user cents sums
# ~1e5-1e6 at the test SFs, so n*sxy stays well under 2^63 through sf0.1;
# at real scale the moment sums move to DECIMAL(38,0)/HUGEINT unchanged in
# shape (they are one mergeable aggregate row).


def _cuped_snippets() -> dict[str, str]:
    out = {
        "cov_q": "n * sxy - sx * sy",
        "varx_q": "n * sxx - sx * sx",
        "vary_q": "n * syy - sy * sy",
        "theta": "cast(cov_q as double) / cast(varx_q as double)",
        "mean_x_all": "cast(sx as double) / cast(n * 100 as double)",
    }
    for arm in ("a", "b"):
        out[f"mean_y_{arm}"] = (
            f"cast(sy{arm} as double) / cast(n_{arm} * 100 as double)"
        )
        out[f"mean_adj_{arm}"] = (
            f"mean_y_{arm} - theta"
            f" * (cast(sx{arm} as double) / cast(n_{arm} * 100 as double)"
            f" - mean_x_all)"
        )
    out["diff_raw"] = "mean_y_a - mean_y_b"
    out["diff_adj"] = "mean_adj_a - mean_adj_b"
    out["var_ratio"] = (
        "(cast(vary_q as double) - 2e0 * theta * cast(cov_q as double)"
        " + theta * theta * cast(varx_q as double))"
        " / cast(vary_q as double)"
    )
    return out


_CUPED = _cuped_snippets()


@register(
    "events_ab_cuped",
    oracle=f"""
WITH {_PRE_POST_CTE_D},
armed AS (
  SELECT x, y,
         {hash64_sql_duckdb("CAST(user_id AS VARCHAR)", "ab")} % 2 AS arm
  FROM per_user
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(COUNT(*) FILTER (arm = 0) AS BIGINT) AS n_a,
         CAST(COUNT(*) FILTER (arm = 1) AS BIGINT) AS n_b,
         CAST(SUM(x) FILTER (arm = 0) AS BIGINT) AS sxa,
         CAST(SUM(y) FILTER (arm = 0) AS BIGINT) AS sya,
         CAST(SUM(x) FILTER (arm = 1) AS BIGINT) AS sxb,
         CAST(SUM(y) FILTER (arm = 1) AS BIGINT) AS syb
  FROM armed
),
qs AS (
  SELECT *, {_CUPED["cov_q"]} AS cov_q, {_CUPED["varx_q"]} AS varx_q,
         {_CUPED["vary_q"]} AS vary_q
  FROM m WHERE n_a > 1 AND n_b > 1
),
th AS (
  SELECT *, {_CUPED["theta"]} AS theta, {_CUPED["mean_x_all"]} AS mean_x_all
  FROM qs WHERE varx_q > 0 AND vary_q > 0
),
mn AS (
  SELECT *, {_CUPED["mean_y_a"]} AS mean_y_a, {_CUPED["mean_y_b"]} AS mean_y_b
  FROM th
),
adj AS (
  SELECT *, {_CUPED["mean_adj_a"]} AS mean_adj_a,
         {_CUPED["mean_adj_b"]} AS mean_adj_b
  FROM mn
)
SELECT n AS n_users, n_a, n_b, theta,
       {_CUPED["diff_raw"]} AS diff_raw,
       {_CUPED["diff_adj"]} AS diff_adj,
       {_CUPED["var_ratio"]} AS var_ratio
FROM adj
""",
    doc="CUPED variance-reduced A/B readout (Deng et al.): per-user "
    "PRE-period spend (first half of the global time range, integer "
    "micros midpoint) is the covariate for POST-period spend; theta = "
    "cov(X,Y)/var(X) is fit pooled across both md5-hashed arms and the "
    "treatment effect is re-estimated on the adjusted metric, with "
    "var_ratio reporting the achieved variance reduction "
    "(var(Y-thetaX)/var(Y), the whole point of CUPED).  Plan shape: one "
    "cheap global min/max broadcast back over the scan, ONE shuffle by "
    "user_id for the per-user (X, Y) pairs, then a single mergeable "
    "moment row (n, sums, cross-moments per arm) -- at 100 TB the state "
    "is one row; no join against an assignment table (hash bucketing "
    "is re-derivable, the same production practice as the Welch "
    "query).  Exactness: integer-cents moments, then every double op "
    "is rendered from one shared snippet per side; degenerate cases "
    "(an arm with n<=1, zero covariate or outcome variance) are "
    "excluded identically on both sides.",
    tags=("events", "experimentation", "aggregation", "stats"),
    bench=True,
)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    per_user = _per_user_pre_post(events)
    armed = per_user.select(
        "x",
        "y",
        F.expr(
            f"{hash64_sql_spark('cast(user_id as string)', 'ab')} % 2"
        ).alias("arm"),
    )
    m = armed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("cast(sum(x) as bigint)").alias("sx"),
        F.expr("cast(sum(y) as bigint)").alias("sy"),
        F.expr("cast(sum(x * x) as bigint)").alias("sxx"),
        F.expr("cast(sum(y * y) as bigint)").alias("syy"),
        F.expr("cast(sum(x * y) as bigint)").alias("sxy"),
        F.expr("cast(count_if(arm = 0) as bigint)").alias("n_a"),
        F.expr("cast(count_if(arm = 1) as bigint)").alias("n_b"),
        F.expr("cast(sum(case when arm = 0 then x end) as bigint)").alias(
            "sxa"
        ),
        F.expr("cast(sum(case when arm = 0 then y end) as bigint)").alias(
            "sya"
        ),
        F.expr("cast(sum(case when arm = 1 then x end) as bigint)").alias(
            "sxb"
        ),
        F.expr("cast(sum(case when arm = 1 then y end) as bigint)").alias(
            "syb"
        ),
    )
    qs = m.where("n_a > 1 and n_b > 1").select(
        "*",
        F.expr(_CUPED["cov_q"]).alias("cov_q"),
        F.expr(_CUPED["varx_q"]).alias("varx_q"),
        F.expr(_CUPED["vary_q"]).alias("vary_q"),
    )
    th = qs.where("varx_q > 0 and vary_q > 0").select(
        "*",
        F.expr(_CUPED["theta"]).alias("theta"),
        F.expr(_CUPED["mean_x_all"]).alias("mean_x_all"),
    )
    mn = th.select(
        "*",
        F.expr(_CUPED["mean_y_a"]).alias("mean_y_a"),
        F.expr(_CUPED["mean_y_b"]).alias("mean_y_b"),
    )
    adj = mn.select(
        "*",
        F.expr(_CUPED["mean_adj_a"]).alias("mean_adj_a"),
        F.expr(_CUPED["mean_adj_b"]).alias("mean_adj_b"),
    )
    return adj.select(
        F.col("n").alias("n_users"),
        "n_a",
        "n_b",
        "theta",
        F.expr(_CUPED["diff_raw"]).alias("diff_raw"),
        F.expr(_CUPED["diff_adj"]).alias("diff_adj"),
        F.expr(_CUPED["var_ratio"]).alias("var_ratio"),
    )


@register(
    "orders_cohort_ltv",
    oracle="""
WITH om AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS ym,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
cohort AS (
  SELECT o_custkey, MIN(ym) AS cohort_ym FROM om GROUP BY 1
),
sizes AS (
  SELECT cohort_ym, CAST(COUNT(*) AS BIGINT) AS n_customers
  FROM cohort GROUP BY 1
),
rev AS (
  SELECT c.cohort_ym, om.ym - c.cohort_ym AS k,
         CAST(SUM(om.cents) AS BIGINT) AS rev_cents
  FROM om JOIN cohort c USING (o_custkey)
  GROUP BY 1, 2
),
cum AS (
  SELECT cohort_ym, k, rev_cents,
         CAST(SUM(rev_cents) OVER (
           PARTITION BY cohort_ym ORDER BY k
         ) AS BIGINT) AS cum_cents
  FROM rev
)
SELECT c.cohort_ym, CAST(c.k AS BIGINT) AS k, c.rev_cents, c.cum_cents,
       s.n_customers,
       CAST(c.cum_cents AS DOUBLE)
         / (CAST(100 AS DOUBLE) * CAST(s.n_customers AS DOUBLE))
         AS ltv_per_customer
FROM cum c JOIN sizes s USING (cohort_ym)
""",
    doc="Cohort lifetime-value curves -- the growth-analytics workhorse: "
    "customers are cohorted by FIRST order month, revenue is bucketed "
    "by months-since-acquisition, and a per-cohort running sum divided "
    "by cohort size yields the LTV-per-customer curve whose shape "
    "payback models are fit to.  Exactness: month index is pure integer "
    "(y*12+m), revenue lives in integer CENTS end to end (DECIMAL cast "
    "then *100, summed and cumulated as int64), and the only double is "
    "one final division of identical operands.  100 TB shape: one "
    "shuffle to find each customer's cohort, one co-partitioned join "
    "back on the customer key, then an aggregate on (cohort, k) whose "
    "cardinality is months^2 -- tiny -- so the cumulative window runs "
    "on a broadcast-scale frame; no skew risk because the heavy "
    "aggregation is keyed by customer before cohorts ever meet.",
    tags=("relational", "cohort", "window", "analytics"),
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    om = orders.select(
        "o_custkey",
        F.expr(
            "cast(year(cast(o_orderdate as timestamp)) * 12"
            " + month(cast(o_orderdate as timestamp)) as bigint)"
        ).alias("ym"),
        F.expr(
            "cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"
        ).alias("cents"),
    )
    cohort = om.groupBy("o_custkey").agg(F.min("ym").alias("cohort_ym"))
    sizes = cohort.groupBy("cohort_ym").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )
    rev = (
        om.join(cohort, "o_custkey")
        .groupBy("cohort_ym", (F.col("ym") - F.col("cohort_ym")).alias("k"))
        .agg(F.sum("cents").cast("bigint").alias("rev_cents"))
    )
    w = Window.partitionBy("cohort_ym").orderBy("k")
    cum = rev.select(
        "cohort_ym",
        "k",
        "rev_cents",
        F.sum("rev_cents").over(w).cast("bigint").alias("cum_cents"),
    )
    return cum.join(F.broadcast(sizes), "cohort_ym").select(
        "cohort_ym",
        F.col("k").cast("bigint").alias("k"),
        "rev_cents",
        "cum_cents",
        "n_customers",
        F.expr(
            "cast(cum_cents as double)"
            " / (cast(100 as double) * cast(n_customers as double))"
        ).alias("ltv_per_customer"),
    )


# Bitmap-index retention: 63 users per int64 word (bit 63 stays clear --
# DuckDB's BIGINT << RAISES on sign-bit overflow while Spark wraps), 7-day
# horizon.
_BM_DAY_US = 86400000000
_BM_HORIZON = 7


@register(
    "events_bitmap_retention",
    oracle=f"""
WITH pres AS (
  SELECT DISTINCT epoch_us(ts) // {_BM_DAY_US} AS day, user_id FROM events
),
bm AS MATERIALIZED (
  SELECT day, user_id // 63 AS word,
         CAST(bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT))
              AS BIGINT) AS mask
  FROM pres GROUP BY 1, 2
),
day_n AS (
  SELECT day, CAST(SUM(bit_count(mask)) AS BIGINT) AS n_active
  FROM bm GROUP BY 1
),
pairs AS (
  SELECT a.day AS day_a, b.day - a.day AS k,
         CAST(SUM(bit_count(a.mask & b.mask)) AS BIGINT) AS n_both
  FROM bm a JOIN bm b
    ON a.word = b.word
   AND b.day BETWEEN a.day + 1 AND a.day + {_BM_HORIZON}
  GROUP BY 1, 2
)
SELECT p.day_a, CAST(p.k AS BIGINT) AS k, d.n_active, p.n_both,
       CAST(p.n_both AS DOUBLE) / CAST(d.n_active AS DOUBLE) AS retention
FROM pairs p JOIN day_n d ON d.day = p.day_a
""",
    doc="Day-k user retention computed on ROARING-STYLE BITMAP INDEXES "
    "instead of a user-level self-join: daily active users are packed "
    "63-per-int64 word (bit_or of shifted bits; the sign bit stays "
    "clear because DuckDB's << raises on int64 overflow), day-pair overlap is "
    "popcount(a AND b) summed over words, and retention is one exact "
    "integer division.  Semantically kin to events_retention_cohorts; "
    "the POINT is the physical strategy -- the bitmap variant shrinks "
    "the joined relation from |users x days| rows to |users/63 x days| "
    "words, turns the user-match join into bitwise AND + popcount "
    "(whole-stage-codegen integer ops, no hash table of user ids), and "
    "is exactly how OLAP engines accelerate COUNT(DISTINCT)-over-"
    "segments at 100 TB.  The word key co-partitions both sides; the "
    "7-day horizon bounds pair fan-out to a constant.",
    tags=("events", "retention", "bitmap", "join"),
    bench=True,
)
def events_bitmap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pres = events.select(
        F.expr(f"unix_micros(ts) div {_BM_DAY_US}").alias("day"),
        "user_id",
    ).distinct()
    bm = track_persist(
        pres.groupBy(
            "day", F.expr("user_id div 63").alias("word")
        )
        .agg(
            F.expr(
                "cast(bit_or(shiftleft(cast(1 as bigint),"
                " cast(user_id % 63 as int))) as bigint)"
            ).alias("mask")
        )
    )
    day_n = bm.groupBy("day").agg(
        F.expr("cast(sum(bit_count(mask)) as bigint)").alias("n_active")
    )
    a = bm.selectExpr("day AS day_a", "word", "mask AS mask_a")
    b = bm.selectExpr("day AS day_b", "word", "mask AS mask_b")
    pairs = (
        a.join(
            b,
            (a.word == b.word)
            & (F.col("day_b") > F.col("day_a"))
            & (F.col("day_b") <= F.col("day_a") + _BM_HORIZON),
        )
        .groupBy("day_a", (F.col("day_b") - F.col("day_a")).alias("k"))
        .agg(
            F.expr(
                "cast(sum(bit_count(mask_a & mask_b)) as bigint)"
            ).alias("n_both")
        )
    )
    dn = day_n.selectExpr("day AS day_a", "n_active")
    return pairs.join(F.broadcast(dn), "day_a").select(
        "day_a",
        F.col("k").cast("bigint").alias("k"),
        "n_active",
        "n_both",
        F.expr(
            "cast(n_both as double) / cast(n_active as double)"
        ).alias("retention"),
    )


# Two-sample chi-square drift detection: value-distribution comparison
# between a deterministic reference/current split.  Terms are quantized to
# 1e-9 before the cross-bin sum so the statistic is an order-free int64
# reduction (raw double sums are partition-order-dependent).
_DRIFT_BIN_W = 25.0
_DRIFT_BIN_CAP = 15


def _drift_term(side: str) -> str:
    # (o - e)^2 / e with e = rowtot * n_<side> / n_total, all operands cast
    # from exact int64 counts in an identical order on both engines.
    e = (
        f"(cast(o_ref + o_cur as double)"
        f" * cast(n_{side} as double) / cast(n_ref + n_cur as double))"
    )
    return (
        f"((cast(o_{side} as double) - {e}) * (cast(o_{side} as double) - {e})"
        f" / {e})"
    )


_DRIFT_TERMS = f"({_drift_term('ref')} + {_drift_term('cur')})"


@register(
    "dq_drift_chisq",
    oracle=f"""
WITH split AS (
  SELECT event_type,
         {hash64_sql_duckdb("CAST(event_id AS VARCHAR)", "drift")} % 2
           AS grp,
         CASE WHEN CAST(FLOOR(value / {_DRIFT_BIN_W!r}) AS INT)
                   > {_DRIFT_BIN_CAP}
              THEN {_DRIFT_BIN_CAP}
              ELSE CAST(FLOOR(value / {_DRIFT_BIN_W!r}) AS INT) END AS bin
  FROM events
),
bins AS (
  SELECT event_type, bin,
         CAST(COUNT(*) FILTER (grp = 0) AS BIGINT) AS o_ref,
         CAST(COUNT(*) FILTER (grp = 1) AS BIGINT) AS o_cur
  FROM split GROUP BY 1, 2
),
tot AS (
  SELECT *,
         CAST(SUM(o_ref) OVER (PARTITION BY event_type) AS BIGINT) AS n_ref,
         CAST(SUM(o_cur) OVER (PARTITION BY event_type) AS BIGINT) AS n_cur
  FROM bins
)
SELECT event_type, n_ref, n_cur,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(COUNT(*) - 1 AS BIGINT) AS dof,
       CAST(SUM(CAST(FLOOR({_DRIFT_TERMS} * 1e9) AS BIGINT)) AS BIGINT)
         AS chisq_q9,
       CAST(CAST(SUM(CAST(FLOOR({_DRIFT_TERMS} * 1e9) AS BIGINT)) AS BIGINT)
            AS DOUBLE) / 1e9 AS chisq
FROM tot
WHERE n_ref > 0 AND n_cur > 0
GROUP BY 1, 2, 3
""",
    doc="Distribution-drift detection via a two-sample chi-square test: "
    "events are deterministically hash-split into reference/current "
    "samples, values histogram into fixed-width capped bins, and the "
    "per-event_type chi-square statistic compares the two observed "
    "distributions against their pooled expectation -- the standard "
    "production data-drift monitor (PSI's log-free cousin: chi-square "
    "stays in the rational domain, so it is cross-engine exact where "
    "PSI's ln() drifts by 1 ulp).  Exactness: bin counts are integer; "
    "each bin's term is one identical IEEE expression; terms quantize "
    "to 1e-9 int64 BEFORE the cross-bin sum so the reduction is "
    "order-free.  100 TB shape: ONE scan, one aggregate on the tiny "
    "(event_type, bin) key with both arms folded by conditional "
    "FILTER counts, then window totals over bins -- state is "
    "|event_types| x |bins| rows regardless of input size; drift "
    "monitoring at full scale costs one pass.",
    tags=("dq", "drift", "stats", "aggregation"),
)
def dq_drift_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bin_expr = (
        f"case when cast(floor(value / {_DRIFT_BIN_W!r}) as int)"
        f" > {_DRIFT_BIN_CAP} then {_DRIFT_BIN_CAP}"
        f" else cast(floor(value / {_DRIFT_BIN_W!r}) as int) end"
    )
    split = events.select(
        "event_type",
        F.expr(
            f"{hash64_sql_spark('cast(event_id as string)', 'drift')} % 2"
        ).alias("grp"),
        F.expr(bin_expr).alias("bin"),
    )
    bins = split.groupBy("event_type", "bin").agg(
        F.expr("count_if(grp = 0)").cast("bigint").alias("o_ref"),
        F.expr("count_if(grp = 1)").cast("bigint").alias("o_cur"),
    )
    w = Window.partitionBy("event_type")
    tot = bins.select(
        "*",
        F.sum("o_ref").over(w).cast("bigint").alias("n_ref"),
        F.sum("o_cur").over(w).cast("bigint").alias("n_cur"),
    )
    return (
        tot.where("n_ref > 0 and n_cur > 0")
        .groupBy("event_type", "n_ref", "n_cur")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            (F.count(F.lit(1)) - 1).cast("bigint").alias("dof"),
            F.expr(f"sum(cast(floor({_DRIFT_TERMS} * 1e9) as bigint))")
            .cast("bigint")
            .alias("chisq_q9"),
            F.expr(
                f"cast(sum(cast(floor({_DRIFT_TERMS} * 1e9) as bigint))"
                " as double) / 1e9"
            ).alias("chisq"),
        )
    )


# --- Poisson bootstrap confidence interval ------------------------------------
# The one-pass bootstrap that works at 100 TB: instead of resampling n rows
# with replacement B times (B full shuffles), each row draws B independent
# Poisson(1) multiplicities -- the classic large-n approximation to the
# multinomial bootstrap -- so ALL B replicate sums fold into ONE map-side
# aggregation pass producing a single 2B-column row.  "Randomness" is the
# portable md5 hash of (event_id, replicate) mapped through the Poisson(1)
# inverse CDF on an integer 2^60 grid, so both engines draw identical
# weights; the CDF thresholds are code-generated literals (truncated at
# w=8, P ~ 1e-8).

_BOOT_B = 32  # bootstrap replicates
_BOOT_CDF = [  # floor(CDF_Poisson(1)(k) * 2^60), k = 0..7
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
    1152236456152946176,
    1152825534095764608,
    1152909688087595776,
]


def _boot_w_expr(u_col: str) -> str:
    """Poisson(1) multiplicity from a 60-bit uniform: identical CASE chain
    in Spark SQL and DuckDB."""
    branches = " ".join(
        f"when {u_col} < {c} then {k}" for k, c in enumerate(_BOOT_CDF)
    )
    return f"(case {branches} else {len(_BOOT_CDF)} end)"


@register(
    "events_bootstrap_ci",
    oracle=f"""
WITH base AS MATERIALIZED (
  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         {', '.join(
             hash64_sql_duckdb("CAST(event_id AS VARCHAR)", f"boot{b}")
             + f" AS u{b}" for b in range(_BOOT_B))}
  FROM events
),
w AS MATERIALIZED (
  SELECT cents,
         {', '.join(_boot_w_expr(f'u{b}') + f' AS w{b}'
                    for b in range(_BOOT_B))}
  FROM base
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(cents) AS BIGINT) AS s_all,
         {', '.join(
             f"CAST(SUM(w{b} * cents) AS BIGINT) AS s{b},"
             f" CAST(SUM(w{b}) AS BIGINT) AS m{b}" for b in range(_BOOT_B))}
  FROM w
),
reps AS (
  {' UNION ALL '.join(
      f"SELECT CAST(s{b} AS DOUBLE) / CAST(m{b} * 100 AS DOUBLE) AS mean_b"
      f" FROM agg WHERE m{b} > 0" for b in range(_BOOT_B))}
),
ranked AS (
  SELECT mean_b, row_number() OVER (ORDER BY mean_b) AS rn FROM reps
)
SELECT n_events,
       CAST(s_all AS DOUBLE) / CAST(n_events * 100 AS DOUBLE) AS mean_value,
       (SELECT mean_b FROM ranked WHERE rn = 2) AS boot_lo,
       (SELECT mean_b FROM ranked WHERE rn = {_BOOT_B - 1}) AS boot_hi
FROM agg
""",
    doc=f"Poisson bootstrap 95%-ish CI for the mean event value: each row "
    f"draws {_BOOT_B} deterministic Poisson(1) multiplicities (portable "
    "md5 uniform through a code-generated inverse-CDF integer grid) and "
    f"ALL {_BOOT_B} replicate (sum, count) pairs fold into ONE map-side "
    "aggregation pass -- no resampling shuffle, no data duplication; the "
    "CI is the rank-2 / rank-31 replicate mean.  This is the production "
    "bootstrap shape for massive data (one scan, 2B+2 integers of "
    "state, mergeable across executors; Chamandy et al. / Poisson "
    "bootstrap).  Exactness: integer-cents sums, one double division "
    "per replicate with identical operands; rank selection is on "
    "VALUES so rank ties across engines cannot change the result.  "
    "The per-row weight stage is persisted/MATERIALIZED on both sides "
    "so the hash evaluates once per (row, replicate), not once per "
    "CASE branch.",
    tags=("events", "statistics", "bootstrap", "aggregation"),
)
def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    base = events.select(
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias(
            "cents"
        ),
        *[
            F.expr(
                hash64_sql_spark("cast(event_id as string)", f"boot{b}")
            ).alias(f"u{b}")
            for b in range(_BOOT_B)
        ],
    )
    # Persist the uniform stage: projection collapse would otherwise
    # re-inline each md5 into every CASE branch of the weight expression
    # (the duplicated-lambda trap, results/bench_notes.md).
    track_persist(base)
    w = base.select(
        "cents",
        *[
            F.expr(_boot_w_expr(f"u{b}")).alias(f"w{b}")
            for b in range(_BOOT_B)
        ],
    )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.expr("cast(sum(cents) as bigint)").alias("s_all"),
    ]
    for b in range(_BOOT_B):
        aggs.append(F.expr(f"cast(sum(w{b} * cents) as bigint)").alias(f"s{b}"))
        aggs.append(F.expr(f"cast(sum(w{b}) as bigint)").alias(f"m{b}"))
    agg = w.agg(*aggs)
    track_persist(agg)
    stack_expr = "stack({}, {}) as (s, m)".format(
        _BOOT_B, ", ".join(f"s{b}, m{b}" for b in range(_BOOT_B))
    )
    reps = (
        agg.select(F.expr(stack_expr))
        .where("m > 0")
        .select(
            F.expr("cast(s as double) / cast(m * 100 as double)").alias(
                "mean_b"
            )
        )
    )
    ranked = reps.select(
        "mean_b",
        # global-window: _BOOT_B bootstrap replicate means (constant-bounded)
        F.row_number().over(Window.orderBy("mean_b")).alias("rn"),
    )
    lo = ranked.where(F.col("rn") == 2).select(
        F.col("mean_b").alias("boot_lo")
    )
    hi = ranked.where(F.col("rn") == _BOOT_B - 1).select(
        F.col("mean_b").alias("boot_hi")
    )
    return (
        agg.select(
            "n_events",
            F.expr(
                "cast(s_all as double) / cast(n_events * 100 as double)"
            ).alias("mean_value"),
        )
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
    )


# --- Funnel with exclusion pattern (MATCH_RECOGNIZE-style NOT-between) --------

_FX_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # conversion window


@register(
    "events_funnel_exclusion",
    oracle=f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS t, event_type FROM events
),
a AS (
  SELECT user_id, MIN(t) AS a_us FROM ev
  WHERE event_type = 'click' GROUP BY user_id
),
b AS (
  SELECT ev.user_id, MIN(ev.t) AS b_us, MIN(a.a_us) AS a_us
  FROM ev JOIN a ON a.user_id = ev.user_id
  WHERE ev.event_type = 'purchase'
    AND ev.t > a.a_us AND ev.t <= a.a_us + {_FX_WINDOW_US}
  GROUP BY ev.user_id
),
err AS (
  SELECT ev.user_id, CAST(COUNT(*) AS BIGINT) AS n_err
  FROM ev JOIN b ON b.user_id = ev.user_id
  WHERE ev.event_type = 'error' AND ev.t > b.a_us AND ev.t < b.b_us
  GROUP BY ev.user_id
),
flags AS (
  SELECT a.user_id,
         CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END AS reached,
         CASE WHEN b.user_id IS NOT NULL
                   AND COALESCE(err.n_err, 0) > 0 THEN 1 ELSE 0 END AS blocked,
         CASE WHEN b.user_id IS NOT NULL
                   AND COALESCE(err.n_err, 0) = 0 THEN 1 ELSE 0 END
           AS converted,
         CASE WHEN b.user_id IS NOT NULL
                   AND COALESCE(err.n_err, 0) = 0
              THEN b.b_us - b.a_us ELSE 0 END AS delay_us
  FROM a
  LEFT JOIN b ON b.user_id = a.user_id
  LEFT JOIN err ON err.user_id = a.user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_entered,
       CAST(SUM(reached) AS BIGINT) AS n_reached,
       CAST(SUM(blocked) AS BIGINT) AS n_blocked,
       CAST(SUM(converted) AS BIGINT) AS n_converted,
       CAST(SUM(delay_us) AS BIGINT) AS sum_delay_us
FROM flags
""",
    doc="Funnel with an EXCLUSION pattern -- the MATCH_RECOGNIZE shape SQL "
    "engines bolt on: first click (entry) followed by first purchase "
    "within 7 days, counted as converted ONLY if no error event falls "
    "strictly between the two -- 'A then B within T with no C between', "
    "the churn-diagnosis query plain funnels cannot express.  Plan "
    "shape: the projected event stream is persisted once (one scan), "
    "then three aggregates and three joins ALL key on user_id -- no "
    "reshuffle onto any other key, no per-event window sort, no cross "
    "product; at test scale AQE broadcasts the small aggregate sides, "
    "at 100 TB they degrade gracefully to co-partitioned SMJs on the "
    "same key.  All times in exact "
    "integer micros; delay sum emitted as an integer so no double "
    "ever forms.",
    tags=("events", "funnel", "pattern", "join"),
    bench=True,
)
def events_funnel_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(ts)").alias("t"),
        "event_type",
    )
    # Three stage frames branch from this projection; persist it so the
    # source is scanned once, not once per branch.
    track_persist(ev)
    a = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("t").alias("a_us"))
    )
    b = (
        ev.join(a, "user_id")
        .where(
            (F.col("event_type") == "purchase")
            & (F.col("t") > F.col("a_us"))
            & (F.col("t") <= F.col("a_us") + F.lit(_FX_WINDOW_US))
        )
        .groupBy("user_id")
        .agg(F.min("t").alias("b_us"), F.min("a_us").alias("a_us"))
    )
    err = (
        ev.where(F.col("event_type") == "error")
        .join(b.select("user_id", "a_us", "b_us"), "user_id")
        .where((F.col("t") > F.col("a_us")) & (F.col("t") < F.col("b_us")))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_err"))
    )
    flags = (
        a.join(b.withColumnRenamed("a_us", "ab_us"), "user_id", "left")
        .join(err, "user_id", "left")
        .select(
            F.when(F.col("b_us").isNotNull(), 1).otherwise(0).alias(
                "reached"
            ),
            F.when(
                F.col("b_us").isNotNull()
                & (F.coalesce(F.col("n_err"), F.lit(0)) > 0),
                1,
            )
            .otherwise(0)
            .alias("blocked"),
            F.when(
                F.col("b_us").isNotNull()
                & (F.coalesce(F.col("n_err"), F.lit(0)) == 0),
                1,
            )
            .otherwise(0)
            .alias("converted"),
            F.when(
                F.col("b_us").isNotNull()
                & (F.coalesce(F.col("n_err"), F.lit(0)) == 0),
                F.col("b_us") - F.col("ab_us"),
            )
            .otherwise(0)
            .alias("delay_us"),
        )
    )
    return flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entered"),
        F.sum("reached").cast("bigint").alias("n_reached"),
        F.sum("blocked").cast("bigint").alias("n_blocked"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        F.sum("delay_us").cast("bigint").alias("sum_delay_us"),
    )


# --- Entity resolution (Fellegi-Sunter scoring over blocked candidates) ------
# A derived "CRM import" snapshot plays the second source: every third
# customer reappears (some with a reformatted name, a mis-keyed balance, or
# a wrong country), and every (3k+1)-th customer appears as a brand-new
# prospect that matches nobody.  Ground truth is therefore known, so the
# query reports the full confusion readout -- the evaluation a real ER
# deployment runs on labeled data before trusting its thresholds.

_ER_W = {  # Fellegi-Sunter log-odds weights x10 (integer literals)
    "name": (40, -20),
    "cents": (30, -10),
    "nation": (10, -5),
    "seg": (5, -15),
}
_ER_MATCH, _ER_POSSIBLE = 45, 20
_ER_BAND = 100_000  # $1000 blocking band on integer cents


def _er_score(prefix_i: str, prefix_c: str) -> str:
    """Engine-neutral additive FS score over the four agreement fields."""
    terms = [
        f"(case when {prefix_i}i_name = {prefix_c}c_name"
        f" then {_ER_W['name'][0]} else {_ER_W['name'][1]} end)",
        f"(case when {prefix_i}i_cents = {prefix_c}cents"
        f" then {_ER_W['cents'][0]} else {_ER_W['cents'][1]} end)",
        f"(case when {prefix_i}i_nation = {prefix_c}c_nationkey"
        f" then {_ER_W['nation'][0]} else {_ER_W['nation'][1]} end)",
        f"(case when {prefix_i}i_seg = {prefix_c}c_mktsegment"
        f" then {_ER_W['seg'][0]} else {_ER_W['seg'][1]} end)",
    ]
    return " + ".join(terms)


@register(
    "join_entity_resolution",
    oracle=f"""
WITH cust AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
),
imp AS (
  SELECT c_custkey + 10000000 AS import_id,
         CASE WHEN c_custkey % 3 = 1
                THEN 'Prospect#' || CAST(c_custkey AS VARCHAR)
              WHEN c_custkey % 15 = 0
                THEN replace(c_name, 'Customer#', 'CUST-')
              ELSE c_name END AS i_name,
         CASE WHEN c_custkey % 3 = 1 THEN (c_nationkey + 7) % 25
              WHEN c_custkey % 21 = 0 THEN (c_nationkey + 1) % 25
              ELSE c_nationkey END AS i_nation,
         CASE WHEN c_custkey % 3 = 1 THEN cents + 100000
              WHEN c_custkey % 6 = 0 THEN cents + 10
              ELSE cents END AS i_cents,
         c_mktsegment AS i_seg,
         CASE WHEN c_custkey % 3 = 1 THEN -1 ELSE c_custkey END AS true_key
  FROM cust WHERE c_custkey % 3 IN (0, 1)
),
cand AS (
  SELECT i.import_id, c.c_custkey FROM imp i
  JOIN cust c ON c.c_nationkey = i.i_nation
  UNION
  SELECT i.import_id, c.c_custkey FROM imp i
  JOIN cust c ON c.cents // {_ER_BAND} = i.i_cents // {_ER_BAND}
),
scored AS (
  SELECT i.import_id, i.true_key, c.c_custkey,
         {_er_score('i.', 'c.')} AS score
  FROM cand
  JOIN imp i USING (import_id)
  JOIN cust c USING (c_custkey)
),
classed AS (
  SELECT CASE WHEN score >= {_ER_MATCH} THEN 'match'
              WHEN score >= {_ER_POSSIBLE} THEN 'possible'
              ELSE 'non_match' END AS decision,
         CASE WHEN true_key = c_custkey THEN 1 ELSE 0 END AS is_true
  FROM scored
),
per_class AS (
  SELECT decision, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(is_true) AS BIGINT) AS n_true_links
  FROM classed GROUP BY decision
),
missed AS (
  SELECT 'missed_by_blocking' AS decision,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(COUNT(*) AS BIGINT) AS n_true_links
  FROM imp i
  WHERE i.true_key >= 0 AND NOT EXISTS (
    SELECT 1 FROM cand WHERE cand.import_id = i.import_id
                         AND cand.c_custkey = i.true_key)
)
SELECT * FROM per_class UNION ALL SELECT * FROM missed
""",
    doc="Record linkage / ENTITY RESOLUTION with Fellegi-Sunter additive "
    "log-odds scoring: a derived CRM-import snapshot (reformatted "
    "names, mis-keyed balances, wrong countries, plus never-matching "
    "prospects) is linked back to the customer table through TWO "
    "blocking passes (nation equi-join + $1000 balance band), the "
    "union of candidates is scored field-by-field with integer "
    "agree/disagree weights, and decisions at the match/possible "
    "thresholds are reported AGAINST KNOWN GROUND TRUTH -- pairs and "
    "true links per decision class plus the links no blocking pass "
    "could reach (the blocking-recall cost every ER deployment must "
    "measure).  Multi-pass blocking is the scale story: candidates "
    "are |block|-bounded equi-joins, never a cross product, and a "
    "field perturbed in one blocking key is recovered by the other "
    "pass.  All scoring is integer; the derivation is deterministic "
    "so both engines build the identical snapshot.",
    tags=("relational", "join", "entity-resolution", "blocking"),
)
def join_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.expr("cast(round(c_acctbal * 100) as bigint)").alias("cents"),
    )
    track_persist(cust)
    imp = cust.where(F.expr("c_custkey % 3 in (0, 1)")).select(
        (F.col("c_custkey") + 10_000_000).alias("import_id"),
        F.expr(
            "case when c_custkey % 3 = 1"
            " then concat('Prospect#', cast(c_custkey as string))"
            " when c_custkey % 15 = 0"
            " then replace(c_name, 'Customer#', 'CUST-')"
            " else c_name end"
        ).alias("i_name"),
        F.expr(
            "case when c_custkey % 3 = 1 then (c_nationkey + 7) % 25"
            " when c_custkey % 21 = 0 then (c_nationkey + 1) % 25"
            " else c_nationkey end"
        ).alias("i_nation"),
        F.expr(
            "case when c_custkey % 3 = 1 then cents + 100000"
            " when c_custkey % 6 = 0 then cents + 10"
            " else cents end"
        ).alias("i_cents"),
        F.col("c_mktsegment").alias("i_seg"),
        F.expr(
            "case when c_custkey % 3 = 1 then -1 else c_custkey end"
        ).alias("true_key"),
    )
    track_persist(imp)
    by_nation = imp.join(
        cust, imp.i_nation == cust.c_nationkey
    ).select("import_id", "c_custkey")
    by_band = imp.join(
        cust,
        F.expr(f"cents div {_ER_BAND}") == F.expr(f"i_cents div {_ER_BAND}"),
    ).select("import_id", "c_custkey")
    cand = by_nation.union(by_band).distinct()
    track_persist(cand)
    scored = (
        cand.join(imp, "import_id")
        .join(cust, "c_custkey")
        .select(
            "import_id",
            "true_key",
            "c_custkey",
            F.expr(_er_score("", "")).alias("score"),
        )
    )
    classed = scored.select(
        F.expr(
            f"case when score >= {_ER_MATCH} then 'match'"
            f" when score >= {_ER_POSSIBLE} then 'possible'"
            f" else 'non_match' end"
        ).alias("decision"),
        F.expr(
            "case when true_key = c_custkey then 1 else 0 end"
        ).alias("is_true"),
    )
    per_class = classed.groupBy("decision").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("is_true").cast("bigint").alias("n_true_links"),
    )
    true_pairs = imp.where("true_key >= 0").select(
        "import_id", F.col("true_key").alias("c_custkey")
    )
    missed = (
        true_pairs.join(cand, ["import_id", "c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .select(
            F.lit("missed_by_blocking").alias("decision"),
            "n_pairs",
            F.col("n_pairs").alias("n_true_links"),
        )
    )
    return per_class.unionByName(missed)


# --- Uplift by score decile (targeting readout) --------------------------------


@register(
    "events_uplift_deciles",
    oracle=f"""
WITH {_PRE_POST_CTE_D},
armed AS (
  SELECT x, y,
         {hash64_sql_duckdb("CAST(user_id AS VARCHAR)", "ab")} % 2 AS arm,
         CAST(ntile(10) OVER (ORDER BY x DESC, user_id) AS INT) AS decile
  FROM per_user
),
agg AS (
  SELECT decile,
         CAST(COUNT(*) FILTER (arm = 0) AS BIGINT) AS n_t,
         CAST(COUNT(*) FILTER (arm = 1) AS BIGINT) AS n_c,
         CAST(COALESCE(SUM(y) FILTER (arm = 0), 0) AS BIGINT) AS y_t,
         CAST(COALESCE(SUM(y) FILTER (arm = 1), 0) AS BIGINT) AS y_c
  FROM armed GROUP BY decile
),
cum AS (
  SELECT decile, n_t, n_c, y_t, y_c,
         CAST(SUM(n_t) OVER w AS BIGINT) AS cn_t,
         CAST(SUM(n_c) OVER w AS BIGINT) AS cn_c,
         CAST(SUM(y_t) OVER w AS BIGINT) AS cy_t,
         CAST(SUM(y_c) OVER w AS BIGINT) AS cy_c
  FROM agg
  WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
)
SELECT decile, n_t, n_c, y_t, y_c,
       CASE WHEN n_t = 0 OR n_c = 0 THEN NULL
            ELSE CAST(y_t AS DOUBLE) / CAST(n_t * 100 AS DOUBLE)
               - CAST(y_c AS DOUBLE) / CAST(n_c * 100 AS DOUBLE) END
         AS uplift,
       CASE WHEN cn_t = 0 OR cn_c = 0 THEN NULL
            ELSE CAST(cy_t AS DOUBLE) / CAST(cn_t * 100 AS DOUBLE)
               - CAST(cy_c AS DOUBLE) / CAST(cn_c * 100 AS DOUBLE) END
         AS cum_uplift
FROM cum
ORDER BY decile
""",
    doc="Uplift-by-decile targeting readout (the Qini-curve table): users "
    "ranked by their PRE-period spend (the targeting score -- same "
    "covariate the CUPED query uses), cut into ntile(10) deciles with "
    "a deterministic (score, user_id) tiebreak, and each decile "
    "reports treatment-minus-control mean POST-period spend plus the "
    "cumulative (top-k-deciles) uplift -- how a growth team decides "
    "WHOM to target, not just whether the treatment works.  Exactness: "
    "all mass is integer cents through the per-decile and cumulative "
    "window sums; only the final per-row divisions are doubles, and "
    "empty arms yield NULL identically on both sides.  Plan: one "
    "user_id shuffle, then the decile cut runs as the TWO-PHASE "
    "bucketed rank (functions/windows.py:rank_two_phase, constant "
    "partition key) over the per-user frame -- a plain ntile window "
    "would sort the whole user DIMENSION on one reducer, 10^8-10^9 "
    "rows at 100 TB.  The score is ranked DESC via its negation; "
    "NTILE(10) is then pure integer arithmetic on (rank, n): with "
    "n = 10q + r, tile = ceil(rn/(q+1)) for the first r*(q+1) rows "
    "else r + ceil((rn - r*(q+1))/q) -- the SQL-standard first-r-"
    "tiles-get-the-extra-row rule, bit-equal to both engines' NTILE.  "
    "Bucket width 256 over the SF-INDEPENDENT per-user pre-spend "
    "spread (events per user are constant across SF, so the cents "
    "range is too; the value NDV ~= the user count, which is why "
    "plain value bucketing scales here and tie_bucket -- whose "
    "phase-2 cost grows with the value NDV -- would not).  Then one "
    "10-row rollup.",
    tags=("events", "experimentation", "uplift", "window"),
    bench=True,
)
def events_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.windows import rank_two_phase

    events = load_table(spark, sf_dir, "events")
    per_user = _per_user_pre_post(events)
    ranked = rank_two_phase(
        per_user.withColumn("_g", F.lit(0)).withColumn(
            "neg_x", (-F.col("x")).cast("bigint")
        ),
        "_g",
        "neg_x",
        order_extra=("user_id",),
        bucket_width=256,
    )
    # Exact SQL-standard NTILE(10) from (rn, n): first (n % 10) tiles
    # carry one extra row.  All integer `div` arithmetic -- ceil(a/b)
    # rendered as (a + b - 1) div b; the q = 0 branch (n < 10) never
    # reaches the else arm because rn <= n = r*(q+1) there.
    armed = ranked.select(
        "x",
        "y",
        F.expr(
            f"{hash64_sql_spark('cast(user_id as string)', 'ab')} % 2"
        ).alias("arm"),
        F.expr(
            "cast(case when rn <= (n % 10) * ((n div 10) + 1)"
            " then (rn + (n div 10)) div ((n div 10) + 1)"
            " else (n % 10) + (rn - (n % 10) * ((n div 10) + 1)"
            " + (n div 10) - 1) div (n div 10) end as int)"
        ).alias("decile"),
    )
    agg = armed.groupBy("decile").agg(
        F.expr("cast(count_if(arm = 0) as bigint)").alias("n_t"),
        F.expr("cast(count_if(arm = 1) as bigint)").alias("n_c"),
        F.expr(
            "cast(coalesce(sum(case when arm = 0 then y end), 0) as bigint)"
        ).alias("y_t"),
        F.expr(
            "cast(coalesce(sum(case when arm = 1 then y end), 0) as bigint)"
        ).alias("y_c"),
    )
    # global-window: 10-row decile rollup
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = agg.select(
        "*",
        F.sum("n_t").over(w).cast("bigint").alias("cn_t"),
        F.sum("n_c").over(w).cast("bigint").alias("cn_c"),
        F.sum("y_t").over(w).cast("bigint").alias("cy_t"),
        F.sum("y_c").over(w).cast("bigint").alias("cy_c"),
    )
    return cum.select(
        "decile",
        "n_t",
        "n_c",
        "y_t",
        "y_c",
        F.expr(
            "case when n_t = 0 or n_c = 0 then null"
            " else cast(y_t as double) / cast(n_t * 100 as double)"
            " - cast(y_c as double) / cast(n_c * 100 as double) end"
        ).alias("uplift"),
        F.expr(
            "case when cn_t = 0 or cn_c = 0 then null"
            " else cast(cy_t as double) / cast(cn_t * 100 as double)"
            " - cast(cy_c as double) / cast(cn_c * 100 as double) end"
        ).alias("cum_uplift"),
    ).orderBy("decile")


# --- In-flight metrics via the Observation API ---------------------------------


@register(
    "dq_observe_inflight",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) FILTER (props IS NULL) AS BIGINT) AS n_null_props,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS cents_sum,
       CAST(MAX(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS max_cents
FROM events
""",
    doc="IN-FLIGHT data-quality metrics via df.observe() + Observation "
    "(Spark's AggregatingAccumulator channel): the metrics row -- count, "
    "null count, exact cents sum, max cents (DISTINCT aggregates are "
    "rejected by the observe analyzer) -- is captured DURING "
    "a pass that consumes the frame for another purpose (here a "
    "parquet write), not by a second scan; this is how production "
    "pipelines validate while they load, paying zero extra jobs.  The "
    "observed values come back through the query-execution listener "
    "channel and are re-emitted as a one-row frame the oracle checks "
    "against ground truth -- proving the side channel reports exactly "
    "what a dedicated aggregation would.  At 100 TB the observe() "
    "aggregates ride the existing scan's partial-aggregation path; "
    "cost is a few accumulator updates per row.",
    tags=("dq", "observe", "metrics", "aggregation"),
)
def dq_observe_inflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    events = load_table(spark, sf_dir, "events")
    obs = Observation("dq_inflight")
    observed = events.observe(
        obs,
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count_if(F.col("props").isNull()).cast("bigint").alias(
            "n_null_props"
        ),
        F.sum(
            F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
        )
        .cast("bigint")
        .alias("cents_sum"),
        F.max(
            F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
        )
        .cast("bigint")
        .alias("max_cents"),
    )
    out = scratch_dir(sf_dir, "observe")
    # The consuming action the metrics piggyback on.
    observed.write.mode("overwrite").parquet(out)
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_null_props"],
                m["cents_sum"],
                m["max_cents"],
            )
        ],
        schema="n_rows bigint, n_null_props bigint, cents_sum bigint,"
        " max_cents bigint",
    )


# --- Sample-ratio-mismatch (SRM) integrity check -------------------------------


@register(
    "events_ab_srm_check",
    oracle=f"""
WITH armed AS (
  SELECT DISTINCT user_id,
         {hash64_sql_duckdb("CAST(user_id AS VARCHAR)", "ab")} % 2 AS arm
  FROM events
),
counts AS (
  SELECT CAST(COUNT(*) FILTER (arm = 0) AS BIGINT) AS n_a,
         CAST(COUNT(*) FILTER (arm = 1) AS BIGINT) AS n_b
  FROM armed
)
SELECT n_a, n_b,
       CAST(2 * (n_a - n_b) * (n_a - n_b) AS DOUBLE)
         / CAST(n_a + n_b AS DOUBLE) AS srm_chi2,
       CAST(CAST(2 * (n_a - n_b) * (n_a - n_b) AS DOUBLE)
              / CAST(n_a + n_b AS DOUBLE) > 3.841458820694124e0 AS INT)
         AS srm_flag
FROM counts WHERE n_a + n_b > 0
""",
    doc="Sample-ratio-mismatch check -- the experiment-integrity gate that "
    "must pass BEFORE any readout (Welch/CUPED/uplift) is trusted: "
    "under a 50/50 split the unit counts are binomial, and the "
    "chi-square statistic against the expected ratio reduces to the "
    "exact rational 2*(n_a-n_b)^2/(n_a+n_b) -- integer arithmetic and "
    "ONE IEEE division, flagged against the 95% critical value "
    "(E-notation literal; bare decimals parse as DECIMAL).  A "
    "triggered SRM means the assignment, logging, or bot filtering is "
    "biased and every downstream effect estimate is invalid -- the "
    "single most common silent failure in production experimentation.  "
    "One distinct + one conditional-count row; scale-trivial.",
    tags=("events", "experimentation", "dq", "stats"),
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    armed = events.select("user_id").distinct().select(
        F.expr(
            f"{hash64_sql_spark('cast(user_id as string)', 'ab')} % 2"
        ).alias("arm")
    )
    counts = armed.agg(
        F.expr("cast(count_if(arm = 0) as bigint)").alias("n_a"),
        F.expr("cast(count_if(arm = 1) as bigint)").alias("n_b"),
    )
    chi = (
        "cast(2 * (n_a - n_b) * (n_a - n_b) as double)"
        " / cast(n_a + n_b as double)"
    )
    return counts.where("n_a + n_b > 0").select(
        "n_a",
        "n_b",
        F.expr(chi).alias("srm_chi2"),
        F.expr(f"cast({chi} > 3.841458820694124e0 as int)").alias(
            "srm_flag"
        ),
    )


# --- KPI decomposition (metric-tree driver analysis) ----------------------------
# Total value V = users x (events/user) x (value/event).  The change V1-V0
# between the two halves of the time range is attributed to the three
# factors by sequential substitution (users -> frequency -> value-per-event)
# -- the standard BI "why did the metric move" decomposition; the order is
# part of the metric definition and is fixed here.  Every input is an exact
# integer (distinct users, event counts, cents); each contribution is a
# fixed-shape IEEE expression over those integers, rendered once and shared
# by both engines.


def _kpi_snips() -> dict[str, str]:
    out = {}
    for p in ("0", "1"):
        out[f"epu{p}"] = f"cast(e{p} as double) / cast(u{p} as double)"
        out[f"vpe{p}"] = f"cast(v{p} as double) / cast(e{p} as double)"
    out["contrib_users"] = (
        "cast(u1 - u0 as double) * epu0 * vpe0"
    )
    out["contrib_freq"] = "cast(u1 as double) * (epu1 - epu0) * vpe0"
    out["contrib_value"] = "cast(u1 as double) * epu1 * (vpe1 - vpe0)"
    return out


_KPI = _kpi_snips()


@register(
    "events_kpi_decomposition",
    oracle=f"""
WITH pe AS (
  SELECT user_id, epoch_us(ts) AS t,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
),
bounds AS (SELECT MIN(t) AS lo, MAX(t) AS hi FROM pe),
tagged AS (
  SELECT user_id, cents,
         CASE WHEN t - lo < (hi - lo) // 2 THEN 0 ELSE 1 END AS period
  FROM pe CROSS JOIN bounds
),
m AS (
  SELECT CAST(COUNT(DISTINCT user_id) FILTER (period = 0) AS BIGINT) AS u0,
         CAST(COUNT(DISTINCT user_id) FILTER (period = 1) AS BIGINT) AS u1,
         CAST(COUNT(*) FILTER (period = 0) AS BIGINT) AS e0,
         CAST(COUNT(*) FILTER (period = 1) AS BIGINT) AS e1,
         CAST(COALESCE(SUM(cents) FILTER (period = 0), 0) AS BIGINT) AS v0,
         CAST(COALESCE(SUM(cents) FILTER (period = 1), 0) AS BIGINT) AS v1
  FROM tagged
),
r AS (
  SELECT *, {_KPI["epu0"]} AS epu0, {_KPI["epu1"]} AS epu1,
         {_KPI["vpe0"]} AS vpe0, {_KPI["vpe1"]} AS vpe1
  FROM m WHERE u0 > 0 AND u1 > 0 AND e0 > 0 AND e1 > 0
)
SELECT u0, u1, e0, e1, v0 AS v0_cents, v1 AS v1_cents,
       {_KPI["contrib_users"]} AS contrib_users,
       {_KPI["contrib_freq"]} AS contrib_freq,
       {_KPI["contrib_value"]} AS contrib_value
FROM r
""",
    doc="KPI DECOMPOSITION / metric-tree driver analysis: the "
    "period-over-period change in total event value is attributed to "
    "its three factors (active users x events-per-user x "
    "value-per-event) by sequential substitution -- the 'why did the "
    "metric move' readout every BI review starts from.  All base "
    "quantities are exact integers from ONE conditional-aggregation "
    "scan (distinct users per period folded in the same pass); each "
    "contribution is a fixed-order IEEE expression shared verbatim "
    "with the oracle.  The three contributions sum to V1-V0 by "
    "construction (up to the final rounding of each term); degenerate "
    "periods are excluded identically on both sides.",
    tags=("events", "kpi", "aggregation", "stats"),
)
def events_kpi_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pe = events.select(
        "user_id",
        F.expr("unix_micros(ts)").alias("t"),
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias(
            "cents"
        ),
    )
    bounds = pe.agg(F.min("t").alias("lo"), F.max("t").alias("hi"))
    tagged = pe.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        "cents",
        F.expr(
            "case when t - lo < (hi - lo) div 2 then 0 else 1 end"
        ).alias("period"),
    )
    m = tagged.agg(
        F.countDistinct(
            F.when(F.col("period") == 0, F.col("user_id"))
        )
        .cast("bigint")
        .alias("u0"),
        F.countDistinct(
            F.when(F.col("period") == 1, F.col("user_id"))
        )
        .cast("bigint")
        .alias("u1"),
        F.expr("cast(count_if(period = 0) as bigint)").alias("e0"),
        F.expr("cast(count_if(period = 1) as bigint)").alias("e1"),
        F.expr(
            "cast(coalesce(sum(case when period = 0 then cents end), 0)"
            " as bigint)"
        ).alias("v0"),
        F.expr(
            "cast(coalesce(sum(case when period = 1 then cents end), 0)"
            " as bigint)"
        ).alias("v1"),
    )
    r = m.where("u0 > 0 and u1 > 0 and e0 > 0 and e1 > 0").select(
        "*",
        F.expr(_KPI["epu0"]).alias("epu0"),
        F.expr(_KPI["epu1"]).alias("epu1"),
        F.expr(_KPI["vpe0"]).alias("vpe0"),
        F.expr(_KPI["vpe1"]).alias("vpe1"),
    )
    return r.select(
        "u0",
        "u1",
        "e0",
        "e1",
        F.col("v0").alias("v0_cents"),
        F.col("v1").alias("v1_cents"),
        F.expr(_KPI["contrib_users"]).alias("contrib_users"),
        F.expr(_KPI["contrib_freq"]).alias("contrib_freq"),
        F.expr(_KPI["contrib_value"]).alias("contrib_value"),
    )


# --- Time-to-activation (distinct-action milestone) ----------------------------

_ACT_K = 3  # distinct event types that define "activated"


@register(
    "events_time_to_activation",
    oracle=f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t, event_type FROM events
),
firsts AS (
  -- first occurrence of each (user, event_type)
  SELECT user_id, event_type, MIN(t) AS t_first_type
  FROM e GROUP BY user_id, event_type
),
ranked AS (
  SELECT user_id, t_first_type,
         row_number() OVER (PARTITION BY user_id ORDER BY t_first_type,
                            event_type) AS k
  FROM firsts
),
u AS (
  SELECT user_id, MIN(t) AS t_start FROM e GROUP BY user_id
),
act AS (
  SELECT r.user_id, r.t_first_type AS t_act, u.t_start
  FROM ranked r JOIN u ON u.user_id = r.user_id
  WHERE r.k = {_ACT_K}
)
SELECT CAST((t_act - t_start) // 86400000000 AS BIGINT) AS days_to_activation,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(t_act - t_start) AS BIGINT) AS sum_lag_us
FROM act
GROUP BY 1
ORDER BY 1
""",
    doc="TIME-TO-ACTIVATION funnel -- the onboarding metric growth teams "
    f"tune against: a user activates when they have performed {_ACT_K} "
    "DISTINCT event types, and the readout is the distribution of "
    "days from their first event to that milestone (plus the exact "
    "integer-microsecond lag sum per bucket for downstream means).  "
    "Plan shape: first-occurrence per (user, type) is one grouped min; "
    "the k-th distinct action falls out of a row_number over that "
    "TYPE-LEVEL frame (|users| x |types| rows -- never the raw event "
    "stream) with a deterministic (time, type) tiebreak; one join "
    "back to the per-user start.  Everything shuffles on user_id "
    "once; all arithmetic is integer micros.",
    tags=("events", "activation", "window", "funnel"),
)
def events_time_to_activation(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "user_id",
        F.expr("unix_micros(ts)").alias("t"),
        "event_type",
    )
    firsts = e.groupBy("user_id", "event_type").agg(
        F.min("t").alias("t_first_type")
    )
    ranked = firsts.select(
        "user_id",
        "t_first_type",
        F.row_number()
        .over(
            Window.partitionBy("user_id").orderBy(
                "t_first_type", "event_type"
            )
        )
        .alias("k"),
    )
    u = e.groupBy("user_id").agg(F.min("t").alias("t_start"))
    act = (
        ranked.where(F.col("k") == _ACT_K)
        .join(u, "user_id")
        .select(
            (F.col("t_first_type") - F.col("t_start")).alias("lag_us")
        )
    )
    return (
        act.groupBy(
            F.expr("lag_us div 86400000000")
            .cast("bigint")
            .alias("days_to_activation")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("lag_us").cast("bigint").alias("sum_lag_us"),
        )
        .orderBy("days_to_activation")
    )


# --- Market concentration (Herfindahl-Hirschman index) --------------------------


@register(
    "suppliers_market_hhi",
    oracle="""
WITH rev AS (
  SELECT s.s_nationkey, l.l_suppkey,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY s.s_nationkey, l.l_suppkey
)
SELECT s_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST(SUM(CAST(cents AS HUGEINT) * cents) AS DOUBLE)
         / (CAST(SUM(cents) AS DOUBLE) * CAST(SUM(cents) AS DOUBLE)) AS hhi
FROM rev
GROUP BY s_nationkey
HAVING SUM(cents) > 0
ORDER BY s_nationkey
""",
    doc="Market-concentration HHI per supplier nation -- the antitrust / "
    "supply-risk metric: the Herfindahl-Hirschman index sum(share_i^2) "
    "computed WITHOUT ever materializing shares, as "
    "sum(cents_i^2) / (sum(cents_i))^2 -- integer numerators and ONE "
    "final double division per nation, so the cross-engine hash is "
    "exact (both engines square-sum in a 128-bit domain -- HUGEINT / "
    "DECIMAL(38,0) -- then convert the same integer to double).  An HHI near 1 means one supplier owns the nation's "
    "flow (procurement risk); near 1/n means perfect fragmentation.  "
    "Plan: one grouped sum per (nation, supplier), one nation rollup "
    "-- two map-side-combinable aggregates, no join-back.",
    tags=("relational", "aggregation", "concentration", "stats"),
    bench=True,
)
def suppliers_market_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.expr(
                "cast(sum(cast(cast(l_extendedprice as decimal(18,2))"
                " * 100 as bigint)) as bigint)"
            ).alias("cents")
        )
    )
    return (
        rev.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.expr(
                "cast(sum(cast(cents as decimal(38,0)) * cents) as double)"
                " / (cast(sum(cents) as double) * cast(sum(cents) as double))"
            ).alias("hhi"),
        )
        .where("total_cents > 0")
        .orderBy("s_nationkey")
    )


# --- Spend inequality (exact Gini coefficient) ----------------------------------


@register(
    "customers_gini_spend",
    oracle="""
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS rk
  FROM spend
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS total,
         CAST(SUM(rk * cents) AS BIGINT) AS wsum
  FROM ranked
)
SELECT n AS n_customers, total AS total_cents,
       CAST(2 * wsum - (n + 1) * total AS DOUBLE)
         / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE)) AS gini
FROM m WHERE total > 0
""",
    doc="Exact GINI COEFFICIENT of customer spend -- the inequality "
    "diagnostic behind 'what share of revenue do the top customers "
    "carry' (pairs with suppliers_market_hhi and parts_abc_pareto as "
    "the concentration family): the rank formula "
    "(2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over cents ranked "
    "ascending with a deterministic custkey tiebreak (ties don't "
    "change the value -- equal x_i swap freely in the weighted sum "
    "only by equal terms... they receive consecutive ranks whose "
    "weights sum identically under any tie order).  Integer "
    "numerators, ONE IEEE division.  Plan: per-customer grouped sum, "
    "then the global rank runs as the TWO-PHASE bucketed rank "
    "(functions/windows.py:rank_two_phase, constant partition key) -- "
    "a single ROW_NUMBER window would sort the whole customer "
    "DIMENSION on one reducer, 10^8-10^9 rows at 100 TB (measured "
    "87.8s window vs 20.8s two-phase at 50M, results/scale_probe.txt). "
    "Bucket width 2^20 cents over the SF-INDEPENDENT per-customer "
    "spend spread (orders per customer are constant across SF; ~700 "
    "buckets over the 3.3M..737M-cent range, and the value NDV ~= the "
    "customer count so plain value bucketing scales -- tie_bucket, "
    "whose phase-2 cost grows with the value NDV, is for LOW-NDV "
    "values and would not).  One moment row after.",
    tags=("relational", "aggregation", "concentration", "stats"),
)
def customers_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.windows import rank_two_phase

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.expr(
            "cast(sum(cast(cast(o_totalprice as decimal(18,2)) * 100"
            " as bigint)) as bigint)"
        ).alias("cents")
    )
    ranked = rank_two_phase(
        spend.withColumn("_g", F.lit(0)),
        "_g",
        "cents",
        order_extra=("o_custkey",),
        bucket_width=1 << 20,
        rn_col="rk",
    ).select("cents", F.col("rk").cast("bigint").alias("rk"))
    m = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("total"),
        F.sum(F.col("rk") * F.col("cents")).cast("bigint").alias("wsum"),
    )
    return m.where("total > 0").select(
        F.col("n").alias("n_customers"),
        F.col("total").alias("total_cents"),
        F.expr(
            "cast(2 * wsum - (n + 1) * total as double)"
            " / (cast(n as double) * cast(total as double))"
        ).alias("gini"),
    )


# --- Difference-in-differences experiment readout ----------------------------
# The pre/post x treatment/control 2x2 causal estimator (Card & Krueger
# 1994 form): each user's outcome CHANGE (post minus pre cents, the shared
# _PRE_POST_CTE_D split) is compared across the md5-hashed arms, removing
# any time-invariant per-user level -- the panel-data complement to the
# CUPED and Welch readouts above.  All moments are exact integer-cents
# sums; the double stage is rendered once below and reused verbatim by
# both engines.  Integer budget: per-user |delta| <= ~1e6 cents at the
# test SFs, so sum(delta^2) ~ 1e12 per user -- the int64 MOMENT CELLS
# hold ~9e6 users per arm at that magnitude; the variance numerator
# n*sdd - sd*sd grows ~n^2 * E[delta^2] and would overflow orders of
# magnitude earlier, so it is computed entirely in IEEE754 double
# (identical expression tree on both engines -- bit-equal results,
# no overflow at any n).  At larger corpora the six moment cells move
# to DECIMAL(38,0)/HUGEINT with the plan shape unchanged (one mergeable
# row).


def _did_snippets() -> dict[str, str]:
    out: dict[str, str] = {}
    for arm, n in (("a", "n_a"), ("b", "n_b")):
        out[f"mean_delta_{arm}"] = (
            f"cast(sd{arm} as double) / cast({n} * 100 as double)"
        )
        out[f"var_delta_{arm}"] = (
            f"(cast({n} as double) * cast(sdd{arm} as double)"
            f" - cast(sd{arm} as double) * cast(sd{arm} as double))"
            f" / (cast({n} as double) * cast({n} - 1 as double)"
            " * cast(10000 as double))"
        )
    out["did_dollars"] = "mean_delta_a - mean_delta_b"
    out["se_did"] = (
        "sqrt(var_delta_a / cast(n_a as double)"
        " + var_delta_b / cast(n_b as double))"
    )
    out["t_stat"] = (
        "case when se_did > 0 then did_dollars / se_did end"
    )
    return out


_DID = _did_snippets()


@register(
    "events_did_estimator",
    oracle=f"""
WITH {_PRE_POST_CTE_D},
armed AS (
  SELECT y - x AS delta,
         {hash64_sql_duckdb("CAST(user_id AS VARCHAR)", "ab")} % 2 AS arm
  FROM per_user
),
m AS (
  SELECT CAST(COUNT(*) FILTER (arm = 0) AS BIGINT) AS n_a,
         CAST(COUNT(*) FILTER (arm = 1) AS BIGINT) AS n_b,
         CAST(COALESCE(SUM(delta) FILTER (arm = 0), 0) AS BIGINT) AS sda,
         CAST(COALESCE(SUM(delta) FILTER (arm = 1), 0) AS BIGINT) AS sdb,
         CAST(COALESCE(SUM(delta * delta) FILTER (arm = 0), 0) AS BIGINT)
           AS sdda,
         CAST(COALESCE(SUM(delta * delta) FILTER (arm = 1), 0) AS BIGINT)
           AS sddb
  FROM armed
),
g AS (SELECT * FROM m WHERE n_a > 1 AND n_b > 1),
s1 AS (
  SELECT *,
         {_DID["mean_delta_a"]} AS mean_delta_a,
         {_DID["mean_delta_b"]} AS mean_delta_b,
         {_DID["var_delta_a"]} AS var_delta_a,
         {_DID["var_delta_b"]} AS var_delta_b
  FROM g
),
s2 AS (
  SELECT *, {_DID["did_dollars"]} AS did_dollars, {_DID["se_did"]} AS se_did
  FROM s1
)
SELECT n_a, n_b, mean_delta_a, mean_delta_b, did_dollars, se_did,
       {_DID["t_stat"]} AS t_stat
FROM s2
""",
    doc="Difference-in-differences treatment-effect estimate: per-user "
    "outcome change across the shared integer-micros pre/post split "
    "(_PRE_POST_CTE_D, the same covariate block CUPED and the uplift "
    "deciles use) compared between md5-hashed arms, with the Welch-form "
    "standard error on the per-user deltas.  Differencing removes every "
    "time-invariant user effect -- the standard panel guard against "
    "selection on levels that a raw post-period comparison (the Welch "
    "query) is exposed to.  Plan shape: one user_id shuffle for the "
    "per-user (pre, post) pair, then ONE mergeable six-moment row per "
    "arm pair -- state is one row at any corpus size; assignment is "
    "re-derived from the hash, no join against an assignment table.  "
    "Exactness: integer-cents moments; every double op is rendered "
    "from the shared _DID snippet on both sides; degenerate arms "
    "(n <= 1) and zero-variance guards excluded identically.",
    tags=("events", "experimentation", "aggregation", "stats"),
)
def events_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    per_user = _per_user_pre_post(events)
    armed = per_user.select(
        F.expr("y - x").alias("delta"),
        F.expr(
            f"{hash64_sql_spark('cast(user_id as string)', 'ab')} % 2"
        ).alias("arm"),
    )
    m = armed.agg(
        F.expr("cast(count(case when arm = 0 then 1 end) as bigint)").alias(
            "n_a"
        ),
        F.expr("cast(count(case when arm = 1 then 1 end) as bigint)").alias(
            "n_b"
        ),
        F.expr(
            "cast(coalesce(sum(case when arm = 0 then delta end), 0)"
            " as bigint)"
        ).alias("sda"),
        F.expr(
            "cast(coalesce(sum(case when arm = 1 then delta end), 0)"
            " as bigint)"
        ).alias("sdb"),
        F.expr(
            "cast(coalesce(sum(case when arm = 0 then delta * delta end), 0)"
            " as bigint)"
        ).alias("sdda"),
        F.expr(
            "cast(coalesce(sum(case when arm = 1 then delta * delta end), 0)"
            " as bigint)"
        ).alias("sddb"),
    )
    s1 = (
        m.where("n_a > 1 and n_b > 1")
        .selectExpr(
            "*",
            f"{_DID['mean_delta_a']} as mean_delta_a",
            f"{_DID['mean_delta_b']} as mean_delta_b",
            f"{_DID['var_delta_a']} as var_delta_a",
            f"{_DID['var_delta_b']} as var_delta_b",
        )
    )
    s2 = s1.selectExpr(
        "*",
        f"{_DID['did_dollars']} as did_dollars",
        f"{_DID['se_did']} as se_did",
    )
    return s2.selectExpr(
        "n_a",
        "n_b",
        "mean_delta_a",
        "mean_delta_b",
        "did_dollars",
        "se_did",
        f"{_DID['t_stat']} as t_stat",
    )


# --- differential privacy: geometric mechanism on exact integer grid ----------
# Noisy per-type event counts under the discrete Laplace (two-sided
# geometric) mechanism at epsilon = 1, sensitivity 1 -- the standard DP
# release for counting queries.  Cross-engine exactness WITHOUT ln():
# the inverse-CDF is a 255-entry integer threshold table computed ONCE
# in Python (floor(CDF(k) * 2^60) for k in [-127, 127]) and embedded as
# identical int64 literals in both dialects; the per-cell uniform u is
# the portable 60-bit md5 hash of the cell key, and the sampled noise
# is (count of thresholds <= u) - 127 (thresholds are CDF(k) for
# k in [-127, 127], so count = c means the inverse-CDF sample is
# -127 + c; the distribution is centered: P(0) = (1-a)/(1+a) = 0.462
# at eps = 1, pinned by test) -- pure integer comparisons, no
# transcendental functions anywhere.  The tail truncation at |k| > 126
# carries probability ~e^-127: unobservable, documented.
#
# The query emits BOTH true and noisy counts because it is a MECHANISM
# CORRECTNESS PIN (the oracle must reproduce the exact noise), not a
# privacy release -- a real release ships only the noisy column.  The
# 255-literal array evaluates once per OUTPUT CELL (5 rows), so the
# array-literal-per-row perf trap does not apply.
import math as _math

_DP_EPS = 1.0
_DP_ALPHA = _math.exp(-_DP_EPS)


def _dp_thresholds() -> list[int]:
    # CDF of the two-sided geometric: P(K=k) = (1-a)/(1+a) * a^|k|.
    p0 = (1.0 - _DP_ALPHA) / (1.0 + _DP_ALPHA)
    cdf, acc, out = 0.0, 0.0, []
    for k in range(-127, 128):
        acc += p0 * (_DP_ALPHA ** abs(k))
        out.append(min(1 << 60, int(_math.floor(acc * (1 << 60)))))
    return out


_DP_T = ",".join(str(t) for t in _dp_thresholds())
_DP_U_SPARK = hash64_sql_spark("concat('dp1:', event_type)")
_DP_U_DUCK = hash64_sql_duckdb("('dp1:' || event_type)")


@register(
    "dq_dp_noisy_counts",
    oracle=f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(len(list_filter([{_DP_T}], t -> t <= {_DP_U_DUCK}))
            - 127 AS BIGINT) AS noise,
       CAST(COUNT(*) + len(list_filter([{_DP_T}],
                                       t -> t <= {_DP_U_DUCK}))
            - 127 AS BIGINT) AS noisy_count,
       CAST({_DP_EPS!r} AS DOUBLE) AS epsilon
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    doc="Differentially-private per-type event counts via the geometric "
    "(discrete Laplace) mechanism at epsilon=1: noise sampled by pure "
    "integer threshold comparisons against a Python-precomputed "
    "inverse-CDF table -- bit-identical cross-engine, no ln().  "
    "Emits true+noisy side by side as a mechanism pin (a real "
    "release ships only the noisy column).",
    tags=("dq", "privacy", "dp", "aggregation"),
    bench=True,
)
def dq_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
        .withColumn(
            "noise",
            F.expr(
                f"size(filter(array({_DP_T}),"
                f" t -> t <= {_DP_U_SPARK})) - 127"
            ).cast("bigint"),
        )
        .select(
            "event_type",
            "n_true",
            "noise",
            (F.col("n_true") + F.col("noise"))
            .cast("bigint")
            .alias("noisy_count"),
            F.lit(_DP_EPS).cast("double").alias("epsilon"),
        )
        .orderBy("event_type")
    )


# --- point-in-polygon: exact integer ray casting, zero-join map-side ----------
# Membership of md5-derived event points in four fixed polygons (an
# L-shape, a triangle, a diamond, a rectangle) on the same non-negative
# milli-degree grid as join_spatial_grid.  The classic formulation
# joins points x edges; this plan JOINS NOTHING: each point evaluates
# its ray-crossing count against a <= 6-element literal edge array in
# one codegen'd filter/size expression -- constant work per point, the
# whole scan stays map-side, and the only exchange is the final 4-row
# conditional rollup.  At 100 TB that is the shape you want: polygon
# sets small enough to inline (or broadcast) make point-in-polygon a
# pure map, never a shuffle.
#
# Exactness: the crossing ray sits at lat + 0.5 and the left-test at
# lon + 0.5 -- half-integer offsets make ties with AXIS-PARALLEL edges
# impossible; a diagonal edge can still cross exactly at lon + 0.5, and
# there the strict < resolves the tie identically in both engines (the
# property test pins this), so parity stays deterministic -- and the
# x-intersection comparison is cleared of
# division -- edges are pre-normalized to dy > 0 in Python, so
# x_int < lon + 0.5 becomes (2*lat+1-2*y1)*dx < (2*lon+1-2*x1)*dy,
# pure int64 products (< 2^40) identical in both engines.  Horizontal
# edges never cross the offset ray and are dropped at build time.

_PIP_POLYGONS = {
    1: [(20000, 20000), (80000, 20000), (80000, 60000),
        (50000, 60000), (50000, 100000), (20000, 100000)],  # L-shape
    2: [(100000, 150000), (160000, 150000), (130000, 220000)],  # triangle
    3: [(120000, 40000), (150000, 70000), (120000, 100000),
        (90000, 70000)],  # diamond
    4: [(10000, 300000), (40000, 300000), (40000, 355000),
        (10000, 355000)],  # rectangle
}


def _pip_edges(poly: list[tuple[int, int]]) -> list[tuple[int, int, int, int]]:
    """Closed-ring edges normalized to dy > 0; horizontal edges dropped."""
    out = []
    for (y1, x1), (y2, x2) in zip(poly, poly[1:] + poly[:1]):
        if y1 == y2:
            continue
        if y1 > y2:
            (y1, x1), (y2, x2) = (y2, x2), (y1, x1)
        out.append((y1, x1, y2, x2))
    return out


def _pip_inside_spark(pid: int) -> str:
    # Unrolled per-edge CASE terms, not a higher-order filter() over a
    # struct array: lambda-bearing expressions run INTERPRETED (the
    # round-3 lesson), while this scalar sum stays inside whole-stage
    # codegen -- the hot path is one branch-free expression per point.
    terms = [
        f"(case when {y1}L <= plat AND plat < {y2}L"
        f" AND (2*plat + 1 - {2 * y1}L) * {x2 - x1}L"
        f" < (2*plon + 1 - {2 * x1}L) * {y2 - y1}L then 1 else 0 end)"
        for y1, x1, y2, x2 in _pip_edges(_PIP_POLYGONS[pid])
    ]
    return f"({' + '.join(terms)}) % 2 = 1"


def _pip_inside_duck(pid: int) -> str:
    arr = ",".join(
        f"{{'y1':{y1}::BIGINT,'x1':{x1}::BIGINT,'y2':{y2}::BIGINT,"
        f"'dx':{x2 - x1}::BIGINT,'dy':{y2 - y1}::BIGINT}}"
        for y1, x1, y2, x2 in _pip_edges(_PIP_POLYGONS[pid])
    )
    return (
        f"len(list_filter([{arr}], e -> e.y1 <= plat AND plat < e.y2"
        f" AND (2*plat + 1 - 2*e.y1) * e.dx"
        f" < (2*plon + 1 - 2*e.x1) * e.dy)) % 2 = 1"
    )


_PIP_POINTS_DUCK = """
SELECT value,
       (('0x' || substr(md5('lat:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT) % 180000 AS plat,
       (('0x' || substr(md5('lon:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT) % 360000 AS plon
FROM events
"""


@register(
    "join_point_in_polygon",
    oracle=f"""
WITH pts AS ({_PIP_POINTS_DUCK}),
m AS (
  SELECT {" , ".join(
      f'''CAST(COUNT(*) FILTER ({_pip_inside_duck(p)}) AS BIGINT)
            AS n_{p},
          CAST(SUM(CAST(value AS DECIMAL(18,2)))
               FILTER ({_pip_inside_duck(p)}) AS DOUBLE) AS v_{p}'''
      for p in sorted(_PIP_POLYGONS))}
  FROM pts
)
{" UNION ALL ".join(
    f"SELECT CAST({p} AS BIGINT) AS poly_id, n_{p} AS n_points,"
    f" v_{p} AS sum_value FROM m"
    for p in sorted(_PIP_POLYGONS))}
""",
    doc="Exact integer ray-casting point-in-polygon over four inlined "
    "polygons: zero joins -- each point evaluates a literal edge "
    "array map-side (half-integer ray offsets forbid axis-parallel "
    "ties; diagonal ties resolve by the shared strict <; "
    "division-free left test in int64), one 4-row conditional "
    "rollup.  The scalable shape for small polygon sets at any "
    "point cardinality.",
    tags=("relational", "join", "spatial", "polygon"),
    bench=True,
)
def join_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    lat_h = hash64_sql_spark("cast(event_id as string)", salt="lat:")
    lon_h = hash64_sql_spark("cast(event_id as string)", salt="lon:")
    pts = load_table(spark, sf_dir, "events").selectExpr(
        "value",
        f"({lat_h}) % 180000 AS plat",
        f"({lon_h}) % 360000 AS plon",
    )
    agg_cols = []
    for p in sorted(_PIP_POLYGONS):
        cond = _pip_inside_spark(p)
        agg_cols.append(
            F.expr(
                f"cast(count(if({cond}, 1, null)) as bigint)"
            ).alias(f"n_{p}")
        )
        agg_cols.append(
            F.expr(
                f"cast(sum(if({cond}, cast(value as decimal(18,2)),"
                f" null)) as double)"
            ).alias(f"v_{p}")
        )
    m = pts.agg(*agg_cols)
    stacked = m.selectExpr(
        "stack({n}, {args}) as (poly_id, n_points, sum_value)".format(
            n=len(_PIP_POLYGONS),
            args=", ".join(
                f"cast({p} as bigint), n_{p}, v_{p}"
                for p in sorted(_PIP_POLYGONS)
            ),
        )
    )
    return stacked


# --- Markov removal-effect attribution ----------------------------------------
# Data-driven multi-touch attribution (Anderl et al. 2014, the model
# behind GA4's data-driven attribution): user journeys up to the FIRST
# purchase become an absorbing Markov chain over channel states
# (START, click, error, signup, view, CONV, NULL); a channel's credit
# is its REMOVAL EFFECT -- how much the chain's conversion probability
# drops when every visit to that channel is redirected to NULL.
#
# Exactness: absorption probabilities are K-STEP value iteration on a
# 1e9 integer grid (p'(s) = sum_d cnt[s][d]*p(d) div tot[s]) -- a
# well-defined deterministic quantity both engines compute identically
# (K=24; the chain's absorbing mass makes further steps move < 1 grid
# unit on this corpus).  Spark folds all five arms (FULL + 4 removals)
# inside ONE aggregate() expression over a one-row matrix frame (the
# projection-collapse rule: shared subtrees re-inline per column, so
# one column carries all arms); the oracle unrolls 24 MATERIALIZED
# CTE rounds carrying an `arm` dimension.
#
# 100 TB shape: one shuffle on user_id builds the journeys, one tiny
# (<= 7x7) transition-count aggregate; the value iteration itself
# touches seven states -- constant work regardless of corpus size.
#
# Integer budget (the honest bound): the fold accumulates
# sum_d cnt[s][d] * p(d) <= tot[s] * SCALE in int64, so a state's
# outgoing transition count must stay below ~9.2e18 / 1e9 = 9.2e9
# edges.  Past ~9e9 journeys through a single channel state, drop
# SCALE to 1e6 -- the same grid-size knob the survival/forecast folds
# document; both dialects share the constant so the change is one
# line.

_MKV_SCALE = 1_000_000_000
_MKV_K = 24
_MKV_CHANNELS = [(1, "click"), (2, "error"), (3, "signup"), (4, "view")]
_MKV_STATE_CASE_SPARK = (
    "case event_type when 'click' then 1 when 'error' then 2"
    " when 'signup' then 3 when 'view' then 4 end"
)
_MKV_STATE_CASE_DUCK = _MKV_STATE_CASE_SPARK  # identical syntax


# Shared first-purchase journey-prefix construction: the Markov and
# Shapley attribution queries use the IDENTICAL prefix rule (events
# strictly (us, event_id)-before the user's first purchase), so it has
# exactly one definition per dialect -- a tie-break fix lands once.
_JRN_EV_CTE = """ev AS (
  SELECT user_id, epoch_us(ts) AS us, event_id, event_type FROM events
)"""
_JRN_FP_CTE = """fp AS (
  SELECT user_id, us, event_id FROM (
    SELECT user_id, us, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY us, event_id) AS rn
    FROM ev WHERE event_type = 'purchase') WHERE rn = 1
)"""


def _jrn_pre_cte(select_exprs: str) -> str:
    return f"""pre AS (
  SELECT e.user_id, {select_exprs}
  FROM ev e LEFT JOIN fp ON fp.user_id = e.user_id
  WHERE e.event_type <> 'purchase'
    AND (fp.user_id IS NULL OR (e.us, e.event_id) < (fp.us, fp.event_id))
)"""


def _journey_prefix(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(pre, fp): pre = events strictly before each user's first purchase
    with a `converted` flag; fp = first-purchase key per converted user."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        "event_type",
    )
    fp = (
        ev.where("event_type = 'purchase'")
        .groupBy("user_id")
        .agg(F.min(F.struct("us", "event_id")).alias("fpk"))
    )
    pre = (
        ev.where("event_type <> 'purchase'")
        .join(fp, "user_id", "left")
        .where("fpk IS NULL OR struct(us, event_id) < fpk")
        .selectExpr(
            "user_id", "us", "event_id", "event_type",
            "fpk is not null as converted",
        )
    )
    return pre, fp


def _mkv_oracle() -> str:
    ctes = [
        _JRN_EV_CTE,
        _JRN_FP_CTE,
        _jrn_pre_cte(
            f"e.us, e.event_id, {_MKV_STATE_CASE_DUCK} AS state"
        ),
        """steps AS (
  SELECT user_id, state,
         COALESCE(LAG(state) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id), 0) AS prev,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY us DESC, event_id DESC) AS rdesc
  FROM pre
)""",
        """edges AS (
  SELECT prev AS si, state AS di FROM steps
  UNION ALL
  SELECT s.state AS si,
         CASE WHEN fp.user_id IS NULL THEN 6 ELSE 5 END AS di
  FROM steps s LEFT JOIN fp ON fp.user_id = s.user_id
  WHERE s.rdesc = 1
  UNION ALL
  SELECT 0 AS si, 5 AS di
  FROM fp WHERE fp.user_id NOT IN (SELECT user_id FROM pre)
)""",
        """counts AS MATERIALIZED (
  SELECT si, di, CAST(COUNT(*) AS BIGINT) AS cnt FROM edges GROUP BY 1, 2
)""",
        """tots AS MATERIALIZED (
  SELECT si, CAST(SUM(cnt) AS BIGINT) AS tot FROM counts GROUP BY 1
)""",
        """arms AS (SELECT unnest([-1, 1, 2, 3, 4]) AS arm)""",
        """states AS (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS s)""",
        f"""p0 AS (
  SELECT arm, s,
         CAST(CASE WHEN s = 5 THEN {_MKV_SCALE} ELSE 0 END AS BIGINT) AS p
  FROM arms CROSS JOIN states
)""",
    ]
    prev = "p0"
    for r in range(1, _MKV_K + 1):
        ctes.append(
            f"""p{r} AS MATERIALIZED (
  SELECT a.arm, st.s,
         CAST(CASE WHEN st.s = 5 THEN {_MKV_SCALE}
                   WHEN st.s = 6 THEN 0
                   WHEN st.s = a.arm THEN 0
                   ELSE COALESCE(g.num, 0)
                        // GREATEST(COALESCE(t.tot, 1), 1) END
              AS BIGINT) AS p
  FROM arms a CROSS JOIN states st
  LEFT JOIN (
    SELECT p.arm, c.si AS s, CAST(SUM(c.cnt * p.p) AS BIGINT) AS num
    FROM {prev} p JOIN counts c ON c.di = p.s
    GROUP BY 1, 2
  ) g ON g.arm = a.arm AND g.s = st.s
  LEFT JOIN tots t ON t.si = st.s
)"""
        )
        prev = f"p{r}"
    chan_vals = ", ".join(f"({i}, '{n}')" for i, n in _MKV_CHANNELS)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
pf AS (SELECT p FROM {prev} WHERE arm = -1 AND s = 0)
SELECT ch.nm AS channel,
       pa.p AS p_removed_q,
       pf.p AS p_full_q,
       (CAST(pf.p AS DOUBLE) - CAST(pa.p AS DOUBLE))
         / CAST(NULLIF(pf.p, 0) AS DOUBLE) AS removal_effect
FROM {prev} pa
CROSS JOIN pf
JOIN (VALUES {chan_vals}) ch(ci, nm) ON ch.ci = pa.arm
WHERE pa.s = 0
ORDER BY channel
"""
    )


@register(
    "events_attribution_markov",
    oracle=_mkv_oracle(),
    doc="Markov removal-effect multi-touch attribution: journeys to "
    "first purchase as an absorbing chain, channel credit = drop in "
    "K-step conversion probability when the channel is removed -- "
    "integer-grid value iteration, one user_id shuffle + a 7x7 "
    "transition table, constant iteration cost at any corpus size.",
    tags=("events", "attribution", "markov", "iterative"),
    bench=True,
)
def events_attribution_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    pre0, fp = _journey_prefix(spark, sf_dir)
    pre = pre0.selectExpr(
        "user_id",
        "us",
        "event_id",
        f"{_MKV_STATE_CASE_SPARK} as state",
        "converted",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    wdesc = Window.partitionBy("user_id").orderBy(
        F.desc("us"), F.desc("event_id")
    )
    steps = pre.select(
        "user_id",
        "state",
        "converted",
        F.coalesce(F.lag("state").over(w), F.lit(0)).alias("prev"),
        F.row_number().over(wdesc).alias("rdesc"),
    )
    edges = (
        steps.selectExpr("prev as si", "state as di")
        .unionAll(
            steps.where("rdesc = 1").selectExpr(
                "state as si", "case when converted then 5 else 6 end as di"
            )
        )
        .unionAll(
            # Converted users whose very first event is the purchase:
            # their journey is START -> CONV directly.
            fp.join(pre.select("user_id").distinct(), "user_id", "left_anti")
            .selectExpr("0 as si", "5 as di")
        )
    )
    counts = edges.groupBy("si", "di").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    # One-row matrix frame; ALL five arms fold inside one expression.
    one = counts.agg(
        F.map_from_arrays(
            F.collect_list(F.expr("si * 16 + di")),
            F.collect_list("cnt"),
        ).alias("cmap")
    )
    mat = (
        "transform(sequence(0, 6), i -> transform(sequence(0, 6),"
        " j -> coalesce(element_at(cmap, i * 16 + j), 0L)))"
    )
    fold = f"""
transform(array(-1, 1, 2, 3, 4), arm ->
  element_at(
    aggregate(
      sequence(1, {_MKV_K}),
      transform(sequence(0, 6),
                s -> cast(if(s = 5, {_MKV_SCALE}, 0) as bigint)),
      (acc, _r) -> transform(sequence(0, 6), s ->
        case when s = 5 then cast({_MKV_SCALE} as bigint)
             when s = 6 then 0L
             when s = arm then 0L
             else aggregate(sequence(0, 6), 0L,
                    (a, d) -> a + element_at(element_at({mat}, s + 1),
                                             d + 1)
                              * element_at(acc, d + 1))
                  div greatest(aggregate(
                        element_at({mat}, s + 1), 0L, (a, x) -> a + x), 1L)
        end)),
    1))
""".strip()
    chan_map = ", ".join(f"{i}, '{n}'" for i, n in _MKV_CHANNELS)
    folded = one.selectExpr(f"{fold} as pvec")
    return folded.selectExpr(
        f"explode(map({chan_map})) as (ci, channel)",
        "element_at(pvec, ci + 1) as p_removed_q",
        "element_at(pvec, 1) as p_full_q",
    ).selectExpr(
        "channel",
        "p_removed_q",
        "p_full_q",
        "(cast(p_full_q as double) - cast(p_removed_q as double))"
        " / cast(nullif(p_full_q, 0L) as double) as removal_effect",
    ).orderBy("channel")


# --- Shapley-value attribution (exact, 4 channels, 16 coalitions) -------------
# The coalition-game companion to the Markov removal effect: each
# journey (events strictly before the first purchase, same prefix rule
# as events_attribution_markov) contributes its touched-channel SET;
# v(S) = conversion rate among journeys touching exactly S (the
# simplified Shapley attribution model of Dalessandro et al. 2012 --
# unobserved coalitions value 0, v(empty) = 0, empty-prefix instant
# converters are unattributable and excluded).  With 4 channels the 16
# coalition values are computed exactly and the Shapley sum is unrolled
# with literal weights |S|!(4-|S|-1)!/4! = {6,2,2,6}/24 -- everything
# integer (v on a 1e9 grid, one floor division per coalition) until the
# final credit division, identical in both engines.
#
# 100 TB shape: one user_id shuffle builds (mask, converted) per user,
# one 16-row aggregate -- the Shapley computation itself is constant.

_SHAP_SCALE = 1_000_000_000
_SHAP_WNUM = {0: 6, 1: 2, 2: 2, 3: 6}  # |S|! (4-|S|-1)! ; denominator 24
_SHAP_CHANNELS = ["click", "error", "signup", "view"]  # bit 0..3
_SHAP_BIT_CASE = (
    "case event_type when 'click' then 0 when 'error' then 1"
    " when 'signup' then 2 when 'view' then 3 end"
)


def _shap_phi_terms(c: int) -> list[tuple[int, int, int]]:
    """(weight_numerator, mask_with_c, mask_without_c) per subset S ∌ c."""
    out = []
    others = [b for b in range(4) if b != c]
    for pick in range(8):
        s = 0
        for i, b in enumerate(others):
            if pick >> i & 1:
                s |= 1 << b
        out.append((_SHAP_WNUM[bin(s).count("1")], s | (1 << c), s))
    return out


def _shap_oracle() -> str:
    vcols = ", ".join(
        f"COALESCE((SELECT CAST(conv * {_SHAP_SCALE} // n AS BIGINT)"
        f" FROM bymask WHERE mask = {m}), 0) AS v{m}"
        for m in range(1, 16)
    )
    phis = ", ".join(
        "CAST("
        + " + ".join(
            f"{w} * ({f'v{a}' if a else '0'} - {f'v{b}' if b else '0'})"
            for w, a, b in _shap_phi_terms(c)
        )
        + f" AS BIGINT) AS phi{c}"
        for c in range(4)
    )
    rows = " UNION ALL ".join(
        f"SELECT '{name}' AS channel, phi{c} AS phi_q FROM phi"
        for c, name in enumerate(_SHAP_CHANNELS)
    )
    return f"""
WITH {_JRN_EV_CTE},
{_JRN_FP_CTE},
{_jrn_pre_cte(f"(1 << ({_SHAP_BIT_CASE})) AS bit,"
              " fp.user_id IS NOT NULL AS converted")},
ju AS (
  SELECT user_id, CAST(bit_or(bit) AS INT) AS mask,
         MAX(converted) AS converted
  FROM pre GROUP BY user_id
),
bymask AS (
  SELECT mask, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) FILTER (converted) AS BIGINT) AS conv
  FROM ju GROUP BY mask
),
v AS (SELECT {vcols}),
phi AS (SELECT {phis} FROM v),
allrows AS ({rows}),
tot AS (SELECT SUM(phi_q) AS t FROM allrows)
SELECT channel, phi_q,
       CAST(phi_q AS DOUBLE) / (24e0 * {_SHAP_SCALE}) AS credit,
       CAST(phi_q AS DOUBLE) / CAST(NULLIF(t, 0) AS DOUBLE) AS share
FROM allrows CROSS JOIN tot
ORDER BY channel
"""


@register(
    "events_attribution_shapley",
    oracle=_shap_oracle(),
    doc="Exact Shapley-value attribution over four channels: coalition "
    "values = conversion rate per exactly-touched channel set on a "
    "1e9 integer grid, the 16-coalition Shapley sum unrolled with "
    "literal factorial weights -- one user_id shuffle, a 16-row "
    "aggregate, constant game computation.",
    tags=("events", "attribution", "shapley"),
)
def events_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    pre0, _fp = _journey_prefix(spark, sf_dir)
    ju = (
        pre0.selectExpr(
            "user_id",
            f"shiftleft(1, {_SHAP_BIT_CASE}) as bit",
            "converted",
        )
        .groupBy("user_id")
        .agg(
            F.expr("cast(bit_or(bit) as int)").alias("mask"),
            F.max("converted").alias("converted"),
        )
    )
    bymask = ju.groupBy("mask").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("converted"), 1).otherwise(0))
        .cast("bigint")
        .alias("conv"),
    )
    one = bymask.agg(
        F.map_from_arrays(
            F.collect_list("mask"),
            F.collect_list(F.expr(f"conv * {_SHAP_SCALE} div n")),
        ).alias("vmap")
    )
    phis = [
        "cast("
        + " + ".join(
            f"{w}L * ("
            + (f"coalesce(element_at(vmap, {a}), 0L)" if a else "0L")
            + " - "
            + (f"coalesce(element_at(vmap, {b}), 0L)" if b else "0L")
            + ")"
            for w, a, b in _shap_phi_terms(c)
        )
        + f" as bigint) as phi{c}"
        for c in range(4)
    ]
    chan_map = ", ".join(
        f"{c}, '{name}'" for c, name in enumerate(_SHAP_CHANNELS)
    )
    phi = one.selectExpr(*phis).selectExpr(
        "array(phi0, phi1, phi2, phi3) as pv"
    )
    return (
        phi.selectExpr(
            f"explode(map({chan_map})) as (ci, channel)",
            "pv",
        )
        .selectExpr(
            "channel",
            "element_at(pv, ci + 1) as phi_q",
            f"cast(element_at(pv, ci + 1) as double)"
            f" / (24e0 * {_SHAP_SCALE}) as credit",
            "cast(element_at(pv, ci + 1) as double)"
            " / cast(nullif(aggregate(pv, 0L, (a, x) -> a + x), 0L)"
            " as double) as share",
        )
        .orderBy("channel")
    )


# --- nearest as-of join (direction='nearest', with tolerance) -----------------
# The pandas merge_asof(direction='nearest', tolerance=...) surface the
# backward-only as-of join above does not cover: for each purchase, the
# CLOSEST click of the same user in either time direction, ties to the
# backward side, null when nothing falls within the 6h tolerance.  Same
# single-shuffle discipline: ONE window partitioning (user_id) carries
# both the running backward max and the reverse-frame forward min --
# no range self-join, scales linearly like the backward form.  All gap
# arithmetic in integer micros; the (us, event_id) order pins which
# same-microsecond neighbors land in which frame identically in both
# engines.

_ASOF_NEAREST_TOL_US = 6 * 3_600_000_000  # 6h


@register(
    "asof_join_nearest_click",
    oracle=f"""
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events
),
tagged AS (
  SELECT *,
         MAX(CASE WHEN event_type = 'click' THEN us END)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bts,
         MIN(CASE WHEN event_type = 'click' THEN us END)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fts
  FROM e
),
chosen AS (
  SELECT event_id, user_id, us,
         CASE WHEN bts IS NOT NULL AND us - bts <= {_ASOF_NEAREST_TOL_US}
                   AND (fts IS NULL OR us - bts <= fts - us)
              THEN bts
              WHEN fts IS NOT NULL AND fts - us <= {_ASOF_NEAREST_TOL_US}
              THEN fts
              ELSE NULL END AS nts
  FROM tagged WHERE event_type = 'purchase'
)
SELECT event_id, user_id,
       CAST(us AS BIGINT) AS purchase_us,
       CAST(nts AS BIGINT) AS nearest_click_us,
       CAST(nts - us AS BIGINT) AS delta_us
FROM chosen
""",
    doc="Nearest as-of join with tolerance (pandas merge_asof "
    "direction='nearest'): per purchase the closest same-user click "
    "in either direction within 6h, ties backward -- one window "
    "partitioning carries both the backward running max and the "
    "forward running min, no range self-join.",
    tags=("relational", "join", "asof", "custom-operator"),
)
def asof_join_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    click_us = F.when(F.col("event_type") == "click", F.col("us"))
    tagged = e.withColumn("bts", F.max(click_us).over(wb)).withColumn(
        "fts", F.min(click_us).over(wf)
    )
    return (
        tagged.where("event_type = 'purchase'")
        .selectExpr(
            "event_id",
            "user_id",
            "us",
            f"""case when bts is not null
                      and us - bts <= {_ASOF_NEAREST_TOL_US}
                      and (fts is null or us - bts <= fts - us)
                 then bts
                 when fts is not null
                      and fts - us <= {_ASOF_NEAREST_TOL_US}
                 then fts
                 else null end as nts""",
        )
        .select(
            "event_id",
            "user_id",
            F.col("us").cast("bigint").alias("purchase_us"),
            F.col("nts").cast("bigint").alias("nearest_click_us"),
            (F.col("nts") - F.col("us")).cast("bigint").alias("delta_us"),
        )
    )


# --- stratified AQP: differential per-stratum sampling rates -------------------
# The stratified companion to aqp_sampled_revenue: per-event-type
# Horvitz-Thompson totals where each stratum carries its OWN sampling
# rate -- 'purchase' is kept whole (rare + business-critical: its
# estimator variance must be zero) while high-volume strata sample
# 1-in-16.  This is Neyman-style allocation reduced to fixed integer
# inverse-probabilities, so the HT scale-up (sample sum x rate) stays
# in the exact decimal domain; the one double division per row of
# output has identical operands cross-engine.  One map-side-combined
# conditional-aggregation scan; at 100 TB the same hash predicates
# select persisted per-stratum sample slices.

_AQP_STRATA_RATES = {
    "purchase": 1,  # census stratum
    "click": 16,
    "error": 16,
    "signup": 4,
    "view": 16,
}


def _aqp_strat_rate_case(dialect: str) -> str:
    arms = " ".join(
        f"WHEN '{t}' THEN {r}" for t, r in sorted(_AQP_STRATA_RATES.items())
    )
    return f"CASE event_type {arms} ELSE 16 END"


@register(
    "aqp_stratified_value",
    oracle=f"""
WITH e AS (
  SELECT event_type,
         CAST(value AS DECIMAL(38,4)) AS v,
         ({_aqp_strat_rate_case('duck')}) AS rate,
         (('0x' || substr(md5('aqps:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT)
           % ({_aqp_strat_rate_case('duck')}) = 0 AS sampled
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) FILTER (sampled) AS BIGINT) AS n_sampled,
       CAST(MIN(rate) AS BIGINT) AS inv_rate,
       CAST(SUM(v) AS DOUBLE) AS exact_total,
       CAST(COALESCE(SUM(v) FILTER (sampled), 0) * MIN(rate) AS DOUBLE)
         AS est_total,
       CAST(ABS(COALESCE(SUM(v) FILTER (sampled), 0) * MIN(rate) - SUM(v))
            AS DOUBLE) / CAST(SUM(v) AS DOUBLE) * 100 AS rel_err_pct
FROM e
GROUP BY event_type
ORDER BY event_type
""",
    doc="Stratified Horvitz-Thompson AQP: per-event-type value totals "
    "with differential integer sampling rates (census on the rare "
    "'purchase' stratum, 1-in-16 on high-volume strata) -- exact "
    "decimal scale-up, true per-stratum error reported from the same "
    "single scan.",
    tags=("aqp", "sampling", "aggregation", "stratified"),
)
def aqp_stratified_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = hash64_sql_spark("cast(event_id as string)", salt="aqps:")
    rate = _aqp_strat_rate_case("spark")
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(value as decimal(38,4))").alias("v"),
        F.expr(f"({rate})").alias("rate"),
        F.expr(f"({h}) % ({rate}) = 0").alias("sampled"),
    )
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.expr("count_if(sampled)").cast("bigint").alias("n_sampled"),
        F.min("rate").cast("bigint").alias("inv_rate"),
        F.sum("v").alias("exact_dec"),
        (
            F.coalesce(F.expr("sum(case when sampled then v end)"), F.lit(0))
            * F.min("rate")
        ).alias("est_dec"),
    )
    return agg.select(
        "event_type",
        "n_rows",
        "n_sampled",
        "inv_rate",
        F.col("exact_dec").cast("double").alias("exact_total"),
        F.col("est_dec").cast("double").alias("est_total"),
        (
            F.abs(F.col("est_dec") - F.col("exact_dec")).cast("double")
            / F.col("exact_dec").cast("double")
            * 100
        ).alias("rel_err_pct"),
    ).orderBy("event_type")


# --- duplicate-payment detection (same payer, same amount, close in time) -----
# The transaction-integrity dedup shape: flag events where the SAME
# user submits the SAME amount (integer cents of `value`) within 7
# days of a previous one -- double-submit / retry-storm detection.
# (The orders table was the first target, but its synthetic amounts
# never collide -- a detector that cannot fire on the gate corpus is
# no evidence; the events stream collides naturally.)  The naive form
# is a self-join on (user, amount) with a time band; the scalable form
# is the same single-shuffle lag-window trick the as-of family uses:
# partition by the (payer, integer-cents) pair, order by time, compare
# each row to its immediate predecessor -- one shuffle, no band join,
# and a chain of k duplicates flags k-1 rows (each against its
# predecessor), which is the ledger reviewers want.  Amounts compare
# in integer cents (round() both sides -- the double->int cast rounds
# in DuckDB but truncates in Spark, the documented trap).
_DUP_PAY_WINDOW_US = 7 * 86_400_000_000


@register(
    "dq_duplicate_payments",
    oracle=f"""
WITH e AS (
  SELECT event_id, user_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         epoch_us(ts) AS us
  FROM events
),
lagged AS (
  SELECT event_id, user_id, cents, us,
         lag(event_id) OVER w AS prev_event_id,
         lag(us) OVER w AS prev_us
  FROM e
  WINDOW w AS (PARTITION BY user_id, cents ORDER BY us, event_id)
)
SELECT event_id, prev_event_id, user_id,
       CAST(cents AS BIGINT) AS cents,
       CAST(us - prev_us AS BIGINT) AS gap_us
FROM lagged
WHERE prev_us IS NOT NULL AND us - prev_us <= {_DUP_PAY_WINDOW_US}
ORDER BY event_id
""",
    doc="Duplicate-payment flags: same user + same integer-cents "
    "amount within 7 days, each duplicate flagged against its "
    "immediate predecessor via one (payer, cents) window shuffle -- "
    "no banded self-join; the double-submit detector every payments "
    "ledger runs.",
    tags=("dq", "integrity", "window", "dedup"),
)
def dq_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("cast(round(value * 100) as bigint)").alias("cents"),
        F.unix_micros("ts").alias("us"),
    )
    w = Window.partitionBy("user_id", "cents").orderBy("us", "event_id")
    lagged = e.withColumn(
        "prev_event_id", F.lag("event_id").over(w)
    ).withColumn("prev_us", F.lag("us").over(w))
    return (
        lagged.where(
            F.col("prev_us").isNotNull()
            & (F.col("us") - F.col("prev_us") <= _DUP_PAY_WINDOW_US)
        )
        .select(
            "event_id",
            "prev_event_id",
            "user_id",
            F.col("cents").cast("bigint").alias("cents"),
            (F.col("us") - F.col("prev_us")).cast("bigint").alias("gap_us"),
        )
        .orderBy("event_id")
    )


# --- off-policy evaluation (IPS / SNIPS) ----------------------------------

# Logged-policy propensities live on the exact 1/8 grid (p = k/8 with
# k in 1..6 hash-assigned per user; treatment T drawn as hash%8 < k, so
# P(T=1) is exactly k/8).  Inverse weights 8/k and 8/(8-k) become exact
# integers after scaling by 420 (= lcm(1..7)): w420 = 3360/denominator.
# Every sum is int64 (order-free); each estimate is ONE double division
# of identical operands.  int64 budget: n_users * y_max_cents * 3360
# must stay under 2^63 (~2.7e15 user-cents; switch the sums to
# DECIMAL(38,0)/HUGEINT beyond that -- the documented knob).
IPS_VIEW_CUT = 3  # target policy: treat users with >= 3 view events


@register(
    "events_offpolicy_ips",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y_cents,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS views
  FROM events GROUP BY user_id
),
assigned AS (
  SELECT user_id, y_cents, views,
         1 + ({hash64_sql_duckdb("'prop:' || CAST(user_id AS VARCHAR)")}) % 6
           AS k,
         CASE WHEN ({hash64_sql_duckdb("'t:' || CAST(user_id AS VARCHAR)")})
                   % 8 < 1 + ({hash64_sql_duckdb("'prop:' || CAST(user_id AS VARCHAR)")}) % 6
              THEN 1 ELSE 0 END AS t
  FROM per_user
),
weighted AS (
  SELECT user_id, y_cents, t,
         CASE WHEN views >= {IPS_VIEW_CUT} THEN 1 ELSE 0 END AS pi_new,
         CASE WHEN t = 1 THEN 3360 // k ELSE 3360 // (8 - k) END AS w420
  FROM assigned
),
matched AS (
  SELECT CASE WHEN pi_new = t THEN 1 ELSE 0 END AS m, y_cents, w420
  FROM weighted
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(m) AS BIGINT) AS n_matched,
       CAST(SUM(m * y_cents * w420) AS BIGINT) AS ips_num_q,
       CAST(SUM(m * w420) AS BIGINT) AS w_sum_q,
       CAST(SUM(m * y_cents * w420) AS DOUBLE)
         / (CAST(420 AS DOUBLE) * CAST(COUNT(*) AS DOUBLE))
         AS ips_value_cents,
       CAST(SUM(m * y_cents * w420) AS DOUBLE)
         / CAST(SUM(m * w420) AS DOUBLE) AS snips_value_cents,
       (CAST(SUM(m * w420) AS DOUBLE) * CAST(SUM(m * w420) AS DOUBLE))
         / CAST(SUM(m * w420 * w420) AS DOUBLE) AS effective_sample_size
FROM matched
""",
    doc="Off-policy evaluation of a counterfactual targeting policy from "
    "logged randomized data (Horvitz-Thompson IPS and self-normalized "
    "SNIPS): per-user outcomes under a hash-randomized logged policy "
    "with known propensities on the exact 1/8 grid are re-weighted by "
    "1/P(T|x) wherever the NEW policy (treat users with >= "
    f"{IPS_VIEW_CUT} views) agrees with the logged action -- the "
    "standard counterfactual estimator for 'what would this targeting "
    "rule have earned' without an experiment.  The effective sample "
    "size (sum w)^2 / sum w^2 quantifies how much logged data the new "
    "policy actually uses.  All weights are exact integers on a "
    "420-scaled grid (propensity denominators divide 420), every sum "
    "is order-free int64, and each emitted estimate is one IEEE "
    "division -- bit-exact cross-engine.  Scale shape: one groupBy "
    "user shuffle, then a single global aggregate; the estimator adds "
    "zero joins.",
    tags=("events", "experimentation", "counterfactual"),
)
def events_offpolicy_ips(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.expr("cast(round(value * 100) as bigint)"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("y_cents"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("views"),
    )
    h_prop = hash64_sql_spark("concat('prop:', cast(user_id as string))")
    h_t = hash64_sql_spark("concat('t:', cast(user_id as string))")
    weighted = per_user.selectExpr(
        "user_id",
        "y_cents",
        f"case when views >= {IPS_VIEW_CUT} then 1 else 0 end as pi_new",
        f"case when ({h_t}) % 8 < 1 + ({h_prop}) % 6 then 1 else 0 end as t",
        f"1 + ({h_prop}) % 6 as k",
    ).selectExpr(
        "y_cents",
        "case when pi_new = t then 1 else 0 end as m",
        "case when t = 1 then 3360 div k else 3360 div (8 - k) end as w420",
    )
    return weighted.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("m").cast("bigint").alias("n_matched"),
        F.sum(F.expr("m * y_cents * w420")).cast("bigint").alias("ips_num_q"),
        F.sum(F.expr("m * w420")).cast("bigint").alias("w_sum_q"),
        F.expr(
            "cast(sum(m * y_cents * w420) as double)"
            " / (cast(420 as double) * cast(count(*) as double))"
        ).alias("ips_value_cents"),
        F.expr(
            "cast(sum(m * y_cents * w420) as double)"
            " / cast(sum(m * w420) as double)"
        ).alias("snips_value_cents"),
        F.expr(
            "(cast(sum(m * w420) as double) * cast(sum(m * w420) as double))"
            " / cast(sum(m * w420 * w420) as double)"
        ).alias("effective_sample_size"),
    )
