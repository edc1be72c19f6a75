"""Graph-analytics queries: iterative rank propagation over a graph built
from the relational testdata.

The graph is the supplier<->customer trading network: an undirected edge
links supplier s and customer c whenever s supplied a line of one of c's
orders.  Node ids are disambiguated onto one integer axis (customer k ->
2k, supplier k -> 2k + 1) so the frame stays single-typed.

The PageRank iteration itself is integer-exact (operators/graph.py) so the
DuckDB oracle -- the same three supersteps unrolled as CTEs -- matches
bit-for-bit, sums included.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import DAMP_DEN, DAMP_NUM, RANK_SCALE, pagerank
from ..runtime import track_checkpoint, track_persist
from ..tables import load_table
from .registry import register

PR_ITERS = 3
PR_TOP = 25


def pagerank_cte_chain(iters: int) -> tuple[str, str]:
    """The unrolled integer-grid PageRank CTE chain, generic over the graph:
    the caller supplies CTEs named ``edges`` (src, dst; symmetric) before
    this chain.  Returns (chain_sql, final_relation_name)."""
    scale = RANK_SCALE
    residual = scale - scale * DAMP_NUM // DAMP_DEN
    parts = [
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges)",
        # (every node of a symmetric graph appears as a src)
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)",
        f"r0 AS (SELECT node, CAST({scale} // nn.n AS BIGINT) AS rank_q"
        " FROM nodes CROSS JOIN nn)",
    ]
    prev = "r0"
    for i in range(1, iters + 1):
        parts.append(
            f"""f{i} AS (
  SELECT e.dst AS node,
         CAST(SUM(({DAMP_NUM} * r.rank_q) // ({DAMP_DEN} * d.outdeg))
              AS BIGINT) AS inflow
  FROM {prev} r JOIN deg d ON d.src = r.node
  JOIN edges e ON e.src = r.node
  GROUP BY e.dst
)"""
        )
        parts.append(
            f"""r{i} AS (
  SELECT nd.node,
         CAST({residual} // nn.n + COALESCE(f.inflow, 0) AS BIGINT)
           AS rank_q
  FROM nodes nd CROSS JOIN nn
  LEFT JOIN f{i} f ON f.node = nd.node
)"""
        )
        prev = f"r{i}"
    return ",\n".join(parts), prev


def _pagerank_oracle() -> str:
    chain, fin = pagerank_cte_chain(PR_ITERS)
    return (
        """WITH eraw AS MATERIALIZED (
  SELECT DISTINCT l.l_suppkey * 2 + 1 AS a, o.o_custkey * 2 AS b
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM eraw
 UNION ALL SELECT b AS src, a AS dst FROM eraw),
"""
        + chain
        + f"""
SELECT node // 2 AS entity_id,
       CASE WHEN node % 2 = 1 THEN 'supplier' ELSE 'customer' END AS kind,
       rank_q
FROM {fin}
ORDER BY rank_q DESC, node
LIMIT {PR_TOP}
"""
    )


@register(
    "graph_pagerank_trading",
    oracle=_pagerank_oracle(),
    doc=f"PageRank ({PR_ITERS} supersteps, damping {DAMP_NUM}/{DAMP_DEN}) "
    "over the supplier<->customer trading network derived from "
    "lineitem x orders.  Pregel-on-DataFrames: each superstep is one "
    "shuffle (contributions map-side-combined on the destination); the "
    "rank state is |V| rows against |E| edges, so at 100 TB the per-step "
    "join broadcasts ranks when |V| fits and shuffle-joins otherwise (AQE "
    "decides per superstep).  Ranks live on an integer grid with floor "
    "divisions, making every superstep -- and therefore the final ranking "
    "-- bit-identical across engines (operators/graph.py:pagerank).",
    tags=("graph", "pagerank", "iterative"),
    bench=True,
)
def graph_pagerank_trading(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    eraw = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("l_suppkey") * 2 + 1).alias("a"),
            (F.col("o_custkey") * 2).alias("b"),
        )
        .distinct()
    )
    edges = eraw.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(eraw.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    ranks = pagerank(edges, n_iters=PR_ITERS)
    return (
        ranks.orderBy(F.col("rank_q").desc(), F.col("node"))
        .limit(PR_TOP)
        .select(
            F.expr("node div 2").alias("entity_id"),
            F.expr(
                "case when node % 2 = 1 then 'supplier' else 'customer' end"
            ).alias("kind"),
            "rank_q",
        )
    )


KW_MIN_LEN = 4  # content-word filter for the keyword graph
KW_TOP = 15


def _word_edges_cte() -> str:
    from ..functions.text import tokens_duckdb

    toks = tokens_duckdb("text")
    return f"""adj AS MATERIALIZED (
  SELECT DISTINCT u.pair['a'] AS a, u.pair['b'] AS b FROM (
    SELECT unnest(list_transform(range(1, len({toks})),
             i -> struct_pack(a := {toks}[i::INT], b := {toks}[i::INT + 1])))
           AS pair
    FROM documents
  ) u
  WHERE len(u.pair['a']) >= {KW_MIN_LEN} AND len(u.pair['b']) >= {KW_MIN_LEN}
    AND u.pair['a'] <> u.pair['b']
),
und AS MATERIALIZED (
  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM adj
)"""



def _keyword_oracle() -> str:
    chain, fin = pagerank_cte_chain(PR_ITERS)
    return (
        f"""WITH {_word_edges_cte()},
edges AS MATERIALIZED (SELECT u AS src, v AS dst FROM und
 UNION ALL SELECT v AS src, u AS dst FROM und),
"""
        + chain
        + f"""
SELECT node AS token, rank_q
FROM {fin}
ORDER BY rank_q DESC, node
LIMIT {KW_TOP}
"""
    )


@register(
    "text_keyword_pagerank",
    oracle=_keyword_oracle(),
    doc="TextRank-style keyword extraction: PageRank over the corpus word "
    "co-occurrence graph (adjacent content words of length >= "
    f"{KW_MIN_LEN}, canonicalized undirected edges), reusing the SAME "
    "integer-exact pagerank operator as the trading-network query -- "
    "operators compose across domains, string node ids included.  The "
    "graph build is one explode + two distincts; the supersteps are the "
    "operator's cached-edges Pregel loop.  High-rank tokens are the "
    "corpus's central vocabulary (the published TextRank result), "
    "useful for corpus summarization and topic tagging at 100 TB.",
    tags=("text", "graph", "pagerank", "keywords"),
)
def text_keyword_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens_spark

    toks = tokens_spark("text")
    # Guard: sequence(1, m) runs DESCENDING when m < 1 (same hazard
    # functions/text.py:shingles_spark documents), so a 0/1-token document
    # would build [1, 0] and element_at(toks, 2) would throw -- filter
    # short docs out first (the oracle's range(1, len) is empty for them).
    docs = load_table(spark, sf_dir, "documents").where(
        F.expr(f"size({toks}) >= 2")
    )
    adj = (
        docs.select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, size({toks}) - 1),"
                    f" i -> struct(element_at({toks}, i) as a,"
                    f" element_at({toks}, i + 1) as b))"
                )
            ).alias("pair")
        )
        .select(F.col("pair.a").alias("a"), F.col("pair.b").alias("b"))
        .where(
            (F.length("a") >= KW_MIN_LEN)
            & (F.length("b") >= KW_MIN_LEN)
            & (F.col("a") != F.col("b"))
        )
        .distinct()
    )
    und = adj.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()
    edges = und.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionByName(und.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    ranks = pagerank(edges, n_iters=PR_ITERS)
    return (
        ranks.orderBy(F.col("rank_q").desc(), F.col("node"))
        .limit(KW_TOP)
        .select(F.col("node").alias("token"), "rank_q")
    )


@register(
    "graph_triangle_count",
    oracle=f"""
WITH {_word_edges_cte()},
wedges AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM und e1 JOIN und e2 ON e2.u = e1.v
),
tris AS (
  SELECT w.a, w.b, w.c
  FROM wedges w JOIN und e3 ON e3.u = w.a AND e3.v = w.c
)
SELECT COUNT(*) AS n_triangles,
       bit_xor(('0x' || substr(md5(a || '|' || b || '|' || c), 1, 15))::BIGINT)
         AS triangle_checksum
FROM tris
""",
    doc="Triangle counting over the word co-occurrence graph (the standard "
    "distributed-graph benchmark and the numerator of the clustering "
    "coefficient): edges oriented by token order (u < v) so each "
    "triangle a<b<c is generated exactly once as wedge a-b-c plus the "
    "closing edge a-c -- two equi-joins, no direction-deduplication "
    "pass.  At 100 TB the classic refinement orients edges by DEGREE "
    "instead of id, which provably bounds wedge counts on skewed "
    "(power-law) graphs; the join shape is identical.  The checksum "
    "pins the exact triangle set, not just its size.",
    tags=("graph", "triangles", "join"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens_spark

    toks = tokens_spark("text")
    docs = load_table(spark, sf_dir, "documents").where(
        F.expr(f"size({toks}) >= 2")
    )
    adj = (
        docs.select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, size({toks}) - 1),"
                    f" i -> struct(element_at({toks}, i) as a,"
                    f" element_at({toks}, i + 1) as b))"
                )
            ).alias("pair")
        )
        .select(F.col("pair.a").alias("a"), F.col("pair.b").alias("b"))
        .where(
            (F.length("a") >= KW_MIN_LEN)
            & (F.length("b") >= KW_MIN_LEN)
            & (F.col("a") != F.col("b"))
        )
        .distinct()
    )
    und = adj.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()
    e1 = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = und.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = und.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    wedges = e1.join(e2, F.col("b") == F.col("b2"))
    tris = wedges.join(
        e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3"))
    )
    return tris.agg(
        F.count(F.lit(1)).alias("n_triangles"),
        F.expr(
            "bit_xor(cast(conv(substr(md5(concat(a, '|', b, '|', c)), 1, 15),"
            " 16, 10) as bigint))"
        ).alias("triangle_checksum"),
    )


KCORE_K = 3
KCORE_ROUNDS = 4
KCORE_TOP = 25


def _kcore_oracle() -> str:
    parts = [f"e0 AS MATERIALIZED (SELECT u, v FROM und)"]
    prev = "e0"
    for t in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f"""d{t} AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev}
  ) GROUP BY node
),
k{t} AS (SELECT node FROM d{t} WHERE deg >= {KCORE_K}),
e{t} AS MATERIALIZED (
  SELECT e.u, e.v FROM {prev} e
  JOIN k{t} a ON a.node = e.u
  JOIN k{t} b ON b.node = e.v
)"""
        )
        prev = f"e{t}"
    chain = ",\n".join(parts)
    return f"""
WITH {_word_edges_cte()},
{chain},
final_deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev}
  ) GROUP BY node
)
SELECT node AS token, deg
FROM final_deg
ORDER BY deg DESC, token
LIMIT {KCORE_TOP}
"""


@register(
    "graph_kcore_word",
    oracle=_kcore_oracle(),
    doc=f"k-core decomposition ({KCORE_K}-core, {KCORE_ROUNDS} fixed peel "
    "rounds) of the word co-occurrence graph: each round drops nodes "
    f"with degree < {KCORE_K} and their incident edges; survivors of "
    "repeated peeling are the graph's dense vocabulary core (a "
    "stronger cohesion signal than raw degree, standard for "
    "community seeding and stopword-like hub discovery).  The peel is "
    "a degree aggregate + two semi-joins per round over a SHRINKING "
    "edge set -- each round is cheaper than the last; fixed rounds "
    "keep the oracle an unrolled CTE chain (full k-core iterates to "
    "fixpoint; on this corpus the census is stable well before round "
    f"{KCORE_ROUNDS}, and the round count is the documented knob).",
    tags=("graph", "kcore", "text"),
)
def graph_kcore_word(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens_spark

    # The peeled plan's EXPLAIN STRING is enormous (lineage compounds per
    # peel round) and spark.sql.maxPlanStringLength is effectively
    # unbounded by default, so AQE's per-stage plan-change logging
    # (AdaptiveSparkPlanExec.onUpdatePlan -> explainString) can OOM a
    # small-heap vanilla driver JVM while building a DEBUG STRING.  Cap it
    # at runtime -- truncates diagnostics only, never results -- for the
    # reason runtime.query_scope re-sets SESSION_PINS: the external
    # driver's session config is not ours to set.  It stays out of
    # SESSION_PINS because only this query needs it.  Deliberately NOT
    # restored on exit (so not runtime.scoped_conf): this builder returns a
    # LAZY plan, and the OOM it guards against fires at execution time
    # (AQE onUpdatePlan -> explainString during the consumer's collect),
    # long after a try/finally here would have undone the cap.  The cap is
    # session-wide by design; it shortens explain/diagnostic text only.
    # Tighten-only: if the session owner already capped plan strings at or
    # below 1M, respect their setting instead of clobbering shared conf.
    try:
        current = int(spark.conf.get("spark.sql.maxPlanStringLength"))
    except Exception:
        current = 1 << 31
    if current > 1_000_000:
        spark.conf.set("spark.sql.maxPlanStringLength", str(1_000_000))

    toks = tokens_spark("text")
    docs = load_table(spark, sf_dir, "documents").where(
        F.expr(f"size({toks}) >= 2")
    )
    adj = (
        docs.select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, size({toks}) - 1),"
                    f" i -> struct(element_at({toks}, i) as a,"
                    f" element_at({toks}, i + 1) as b))"
                )
            ).alias("pair")
        )
        .select(F.col("pair.a").alias("a"), F.col("pair.b").alias("b"))
        .where(
            (F.length("a") >= KW_MIN_LEN)
            & (F.length("b") >= KW_MIN_LEN)
            & (F.col("a") != F.col("b"))
        )
        .distinct()
    )
    # Persist each round's SHRINKING edge set: without it the lineage
    # doubles per round (degree agg + two semi-joins each re-derive the
    # full prior chain) and the plan recomputes exponentially -- measured
    # 50s -> ~10s with per-round persists.
    edges = track_persist(
        adj.select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        ).distinct()
    )
    for _ in range(KCORE_ROUNDS):
        deg = (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.where(F.col("deg") >= KCORE_K).select("node")
        edges = track_persist(
            edges.join(
                F.broadcast(keep.withColumnRenamed("node", "ku")),
                edges.u == F.col("ku"),
                "left_semi",
            )
            .join(
                F.broadcast(keep.withColumnRenamed("node", "kv")),
                edges.v == F.col("kv"),
                "left_semi",
            )
        )
    final_deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    return (
        final_deg.orderBy(F.col("deg").desc(), F.col("node"))
        .limit(KCORE_TOP)
        .select(F.col("node").alias("token"), "deg")
    )


LPA_ITERS = 3
LPA_TOP = 25


def label_prop_cte_chain(iters: int) -> tuple[str, str]:
    """Unrolled deterministic-LPA CTE chain, generic over the graph: the
    caller supplies a symmetric ``edges`` (src, dst) CTE first.  Mirrors
    operators/graph.py:label_propagation superstep for superstep."""
    parts = [
        "lnodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges)",
        "l0 AS (SELECT node, CAST(node AS BIGINT) AS label FROM lnodes)",
    ]
    prev = "l0"
    for i in range(1, iters + 1):
        parts.append(
            f"""c{i} AS (
  SELECT e.dst AS node, l.label, COUNT(*) AS c
  FROM {prev} l JOIN edges e ON e.src = l.node
  GROUP BY e.dst, l.label
),
p{i} AS (
  SELECT node, label,
         ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
  FROM c{i}
),
l{i} AS (SELECT node, CAST(label AS BIGINT) AS label FROM p{i} WHERE rn = 1)"""
        )
        prev = f"l{i}"
    return ",\n".join(parts), prev


def _communities_oracle() -> str:
    chain, fin = label_prop_cte_chain(LPA_ITERS)
    return (
        """WITH eraw AS MATERIALIZED (
  SELECT DISTINCT l.l_suppkey * 2 + 1 AS a, o.o_custkey * 2 AS b
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM eraw
 UNION ALL SELECT b AS src, a AS dst FROM eraw),
"""
        + chain
        + f"""
SELECT label AS community,
       COUNT(*) AS n_nodes,
       CAST(SUM(node % 1000000007) AS BIGINT) AS member_checksum
FROM {fin}
GROUP BY label
ORDER BY n_nodes DESC, community
LIMIT {LPA_TOP}
"""
    )


@register(
    "graph_communities_trading",
    oracle=_communities_oracle(),
    doc="Label-propagation community detection over the supplier<->"
    "customer trading network (deterministic synchronous LPA, "
    f"{LPA_ITERS} supersteps, smallest-label tie rule): the classic "
    "near-linear community algorithm, here with the random tie-break "
    "replaced by a total order so the unrolled DuckDB oracle matches "
    "exactly, membership checksums included.  Completes the graph "
    "family (components, PageRank, k-core, triangles) with its "
    "community layer; each superstep is two map-side-combined "
    "aggregates over the cached edge list (operators/graph.py:"
    "label_propagation), so the 100 TB shape is |E|-linear per "
    "superstep with |V|-row state and no driver-side graph.",
    tags=("graph", "communities", "iterative"),
    bench=True,
)
def graph_communities_trading(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("l_suppkey") * 2 + 1).alias("a"),
            (F.col("o_custkey") * 2).alias("b"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    labels = label_propagation(edges, n_iters=LPA_ITERS)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.col("node") % 1000000007).cast("bigint").alias("member_checksum"),
        )
        .orderBy(F.col("n_nodes").desc(), F.col("community"))
        .limit(LPA_TOP)
    )


BFS_SOURCE = "spark"
BFS_HOPS = 4


def _bfs_oracle() -> str:
    rounds = []
    for k in range(1, BFS_HOPS + 1):
        rounds.append(f"""
d{k} AS MATERIALIZED (
  SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
    SELECT node, dist FROM d{k-1}
    UNION ALL
    SELECT e.dst AS node, d.dist + 1 AS dist
    FROM edges e JOIN d{k-1} d ON e.src = d.node
  ) GROUP BY node
)""")
    return (
        f"WITH {_word_edges_cte()},\n"
        "edges AS MATERIALIZED (SELECT u AS src, v AS dst FROM und\n"
        " UNION ALL SELECT v AS src, u AS dst FROM und),\n"
        f"d0 AS (SELECT '{BFS_SOURCE}' AS node, CAST(0 AS BIGINT) AS dist),"
        + ",".join(rounds)
        + f"\nSELECT node, dist FROM d{BFS_HOPS}"
    )


@register(
    "graph_bfs_distance",
    oracle=_bfs_oracle(),
    doc="Multi-hop BFS / single-source shortest path over the word "
    f"co-occurrence graph: every node within {BFS_HOPS} hops of "
    f"'{BFS_SOURCE}' with its exact hop distance.  Unrolled min-distance "
    "propagation (dist_k = min(dist_{k-1}, 1 + min over in-neighbors)) "
    "-- the Pregel BFS step as a join + groupBy-min per round, the same "
    "superstep shape as the pagerank/LPA operators; distances are exact "
    "integers so the frontier needs no float care.  The edge list is "
    "persisted once and reused by all rounds; at 100 TB each round "
    "shuffles only the frontier-adjacent edges (the join prunes to "
    "d_{k-1}'s nodes).  The oracle unrolls the same rounds as "
    "MATERIALIZED CTEs.",
    tags=("graph", "bfs", "iterative"),
)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens_spark

    toks = tokens_spark("text")
    docs = load_table(spark, sf_dir, "documents").where(
        F.expr(f"size({toks}) >= 2")
    )
    adj = (
        docs.select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, size({toks}) - 1),"
                    f" i -> struct(element_at({toks}, i) as a,"
                    f" element_at({toks}, i + 1) as b))"
                )
            ).alias("pair")
        )
        .select(F.col("pair.a").alias("a"), F.col("pair.b").alias("b"))
        .where(
            (F.length("a") >= KW_MIN_LEN)
            & (F.length("b") >= KW_MIN_LEN)
            & (F.col("a") != F.col("b"))
        )
        .distinct()
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
    )
    # Partition by the per-round join key before the persist: co-locates
    # each round's frontier join with the cached edge layout.
    edges = track_persist(
        adj.selectExpr("u AS src", "v AS dst")
        .unionAll(adj.selectExpr("v AS src", "u AS dst"))
        .repartition("src")
    )
    dist = spark.createDataFrame(
        [(BFS_SOURCE, 0)], "node string, dist bigint"
    )
    for _ in range(BFS_HOPS):
        grown = edges.join(dist, edges.src == dist.node).select(
            F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        dist = (
            dist.unionAll(grown)
            .groupBy("node")
            .agg(F.min("dist").cast("bigint").alias("dist"))
        )
    return dist


LINKPRED_TOP = 20


@register(
    "graph_link_prediction",
    oracle=f"""
WITH eraw AS MATERIALIZED (
  SELECT DISTINCT l.l_suppkey AS supp, o.o_custkey AS cust
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
deg AS (SELECT supp, COUNT(*) AS d FROM eraw GROUP BY 1),
wedge AS (
  SELECT e1.supp AS a, e2.supp AS b, COUNT(*) AS common
  FROM eraw e1 JOIN eraw e2
    ON e1.cust = e2.cust AND e1.supp < e2.supp
  GROUP BY 1, 2
),
scored AS (
  SELECT w.a, w.b,
         CAST(w.common AS BIGINT) AS common_customers,
         CAST(da.d + db.d - w.common AS BIGINT) AS union_customers
  FROM wedge w
  JOIN deg da ON da.supp = w.a
  JOIN deg db ON db.supp = w.b
)
SELECT a AS supp_a, b AS supp_b, common_customers, union_customers
FROM scored
ORDER BY CAST(common_customers AS DOUBLE) / union_customers DESC,
         common_customers DESC, a, b
LIMIT {LINKPRED_TOP}
""",
    doc="Link prediction / co-engagement scoring on the BIPARTITE "
    "supplier-customer trading graph: rank supplier pairs by the "
    "neighborhood Jaccard of their customer sets (common customers / "
    "union of customer sets) -- the collaborative-filtering primitive "
    "behind supplier substitution and co-purchase recommendation.  "
    "Wedges (supplier pairs sharing a customer) come from ONE "
    "self-join on the customer key; bipartite structure means wedge "
    "pairs are never existing edges, so no anti-join is needed.  The "
    "ranking ratio is one double division of identical int64 operands; "
    "emitted columns are the exact integers.  Wedge fan-out is "
    "per-customer-degree bounded -- salt or cap pathological hub "
    "customers at 100 TB, same as triangle counting.",
    tags=("graph", "link-prediction", "join"),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    eraw = track_persist(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("supp"), F.col("o_custkey").alias("cust")
        )
        .distinct()
    )
    deg = eraw.groupBy("supp").agg(F.count(F.lit(1)).alias("d"))
    e1 = eraw.selectExpr("cust", "supp AS a")
    e2 = eraw.selectExpr("cust", "supp AS b")
    wedge = (
        e1.join(e2, "cust")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    da = deg.selectExpr("supp AS a", "d AS da")
    db = deg.selectExpr("supp AS b", "d AS db")
    scored = (
        wedge.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.col("a").alias("supp_a"),
            F.col("b").alias("supp_b"),
            F.col("common").cast("bigint").alias("common_customers"),
            (F.col("da") + F.col("db") - F.col("common"))
            .cast("bigint")
            .alias("union_customers"),
        )
    )
    return scored.orderBy(
        (
            F.col("common_customers").cast("double")
            / F.col("union_customers")
        ).desc(),
        F.col("common_customers").desc(),
        "supp_a",
        "supp_b",
    ).limit(LINKPRED_TOP)


# --- Random-walk corpus generation (DeepWalk/node2vec input stage) ------------

RW_WALKS = 2  # walks per start node
RW_STEPS = 4  # steps per walk
RW_P = 1_000_000_007


def _rw_hash_d(start: str, walk: str, step: int) -> str:
    from ..functions.hashing import hash64_sql_duckdb

    expr = (
        f"CAST({start} AS VARCHAR) || ':' || CAST({walk} AS VARCHAR)"
        f" || ':{step}'"
    )
    return hash64_sql_duckdb(expr, "rw")


def _rw_hash_s(start: str, walk: str, step: int) -> str:
    from ..functions.hashing import hash64_sql_spark

    expr = (
        f"concat(cast({start} as string), ':', cast({walk} as string),"
        f" ':{step}')"
    )
    return hash64_sql_spark(expr, "rw")


def _random_walks_oracle() -> str:
    steps = []
    prev = "w0"
    for t in range(1, RW_STEPS + 1):
        h = _rw_hash_d("w.start_node", "w.walk_id", t)
        steps.append(
            f"""w{t} AS MATERIALIZED (
  SELECT w.start_node, w.walk_id,
         a.nbrs[CAST({h} % a.deg AS INT) + 1] AS cur,
         (w.chk * 31 + a.nbrs[CAST({h} % a.deg AS INT) + 1]) % {RW_P}
           AS chk
  FROM {prev} w JOIN adj a ON a.src = w.cur
)"""
        )
        prev = f"w{t}"
    chain = ",\n".join(steps)
    return f"""WITH eraw AS MATERIALIZED (
  SELECT DISTINCT l.l_suppkey * 2 + 1 AS a, o.o_custkey * 2 AS b
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM eraw
 UNION ALL SELECT b AS src, a AS dst FROM eraw),
adj AS MATERIALIZED (
  SELECT src, list_sort(list(dst)) AS nbrs,
         CAST(COUNT(*) AS BIGINT) AS deg
  FROM edges GROUP BY src
),
w0 AS (
  SELECT src AS start_node, wk.walk_id, src AS cur,
         CAST(src % {RW_P} AS BIGINT) AS chk
  FROM (SELECT DISTINCT src FROM edges)
  CROSS JOIN (SELECT unnest([0, 1]) AS walk_id) wk
),
{chain}
SELECT start_node, CAST(walk_id AS INT) AS walk_id,
       CAST(cur AS BIGINT) AS final_node,
       CAST(chk AS BIGINT) AS path_chk
FROM {prev}
"""


@register(
    "graph_random_walks",
    oracle=_random_walks_oracle(),
    doc=f"RANDOM-WALK corpus generation over the trading network -- the "
    f"input stage of DeepWalk/node2vec graph embeddings: {RW_WALKS} "
    f"walks of {RW_STEPS} steps start from every node, and each step "
    "picks the next neighbor by a portable hash of (start, walk, step) "
    "modulo the node's degree over its SORTED adjacency list -- the "
    "deterministic stand-in for uniform sampling that both engines "
    "replay bit-identically; the per-walk rolling checksum pins the "
    "entire path, not just its endpoint.  Plan shape: the adjacency "
    "list builds once and is locally checkpointed (a leaf, so its "
    "aggregate exchange cannot pin vanilla 200-task stages), then each "
    "step is ONE co-partitioned join of the walk frontier against it "
    "-- walk state is |V|*walks rows regardless of step count, the "
    "standard distributed-walk shape (at 100 TB the frontier join "
    "shuffles on cur like any Pregel superstep).",
    tags=("graph", "random-walk", "iterative", "embedding"),
)
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    eraw = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("l_suppkey") * 2 + 1).alias("a"),
            (F.col("o_custkey") * 2).alias("b"),
        )
        .distinct()
    )
    edges = eraw.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(
        eraw.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    adj = track_checkpoint(
        edges.groupBy("src").agg(
            F.sort_array(F.collect_list("dst")).alias("nbrs"),
            F.count(F.lit(1)).cast("bigint").alias("deg"),
        ),
        eager=True,
    )
    walks = (
        edges.select("src")
        .distinct()
        .crossJoin(
            F.broadcast(
                adj.sparkSession.range(RW_WALKS, numPartitions=1).select(
                    F.col("id").cast("int").alias("walk_id")
                )
            )
        )
        .select(
            F.col("src").alias("start_node"),
            "walk_id",
            F.col("src").alias("cur"),
            F.expr(f"cast(src % {RW_P} as bigint)").alias("chk"),
        )
    )
    for t in range(1, RW_STEPS + 1):
        h = _rw_hash_s("start_node", "walk_id", t)
        step = (
            walks.join(adj, walks.cur == adj.src)
            .select(
                "start_node",
                "walk_id",
                F.expr(
                    f"element_at(nbrs, cast({h} % deg as int) + 1)"
                ).alias("nxt"),
                "chk",
            )
            .select(
                "start_node",
                "walk_id",
                F.col("nxt").alias("cur"),
                F.expr(f"(chk * 31 + nxt) % {RW_P}").alias("chk"),
            )
        )
        walks = step
    return walks.select(
        "start_node",
        F.col("walk_id").cast("int").alias("walk_id"),
        F.col("cur").cast("bigint").alias("final_node"),
        F.col("chk").cast("bigint").alias("path_chk"),
    )


# --- sampled betweenness centrality (Brandes) ------------------------------

# Sampled BFS roots: four customer nodes of the trading graph (node
# encoding matches graph_pagerank_trading: customer = custkey*2,
# supplier = suppkey*2 + 1).  The word co-occurrence graph is a
# near-complete ~24-node clique on this corpus (diameter 1 -- zero
# interior vertices, betweenness degenerately 0), so betweenness runs on
# the bipartite trading network where 2-3-hop shortest paths are real.
BC_SOURCE_CUSTS = (1, 7, 13, 19)
BC_DEPTH = 3  # truncation depth: k-hop-bounded betweenness
BC_GRID = 1_000_000  # integer grid for the dependency accumulation
BC_TOP = 20


def _betweenness_oracle() -> str:
    srcs = ", ".join(str(c * 2) for c in BC_SOURCE_CUSTS)
    parts = [
        f"""WITH eraw AS MATERIALIZED (
  SELECT DISTINCT l.l_suppkey * 2 + 1 AS a, o.o_custkey * 2 AS b
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM eraw
 UNION ALL SELECT b AS src, a AS dst FROM eraw),
d0 AS MATERIALIZED (
  SELECT s AS src, s AS node, CAST(1 AS BIGINT) AS sigma
  FROM (SELECT CAST(unnest([{srcs}]) AS BIGINT) AS s)
)"""
    ]
    for k in range(1, BC_DEPTH + 1):
        prev = " UNION ALL ".join(
            f"SELECT src, node FROM d{j}" for j in range(k)
        )
        parts.append(f"""d{k} AS MATERIALIZED (
  SELECT p.src, e.dst AS node, CAST(SUM(p.sigma) AS BIGINT) AS sigma
  FROM d{k - 1} p JOIN edges e ON e.src = p.node
  WHERE NOT EXISTS (
    SELECT 1 FROM ({prev}) s
    WHERE s.src = p.src AND s.node = e.dst)
  GROUP BY 1, 2
)""")
    parts.append(f"""delta{BC_DEPTH} AS MATERIALIZED (
  SELECT src, node, sigma, CAST(0 AS BIGINT) AS dq FROM d{BC_DEPTH}
)""")
    for k in range(BC_DEPTH - 1, 0, -1):
        parts.append(f"""delta{k} AS MATERIALIZED (
  SELECT v.src, v.node, v.sigma, COALESCE(x.dq, CAST(0 AS BIGINT)) AS dq
  FROM d{k} v LEFT JOIN (
    SELECT v2.src, v2.node,
           CAST(SUM((v2.sigma * ({BC_GRID} + w.dq)) // w.sigma) AS BIGINT)
             AS dq
    FROM d{k} v2 JOIN edges e ON e.src = v2.node
    JOIN delta{k + 1} w ON w.src = v2.src AND w.node = e.dst
    GROUP BY 1, 2) x ON x.src = v.src AND x.node = v.node
)""")
    union = " UNION ALL ".join(
        f"SELECT node, dq FROM delta{j}" for j in range(1, BC_DEPTH + 1)
    )
    return (
        ",\n".join(parts)
        + f"""
SELECT node // 2 AS entity_id,
       CASE WHEN node % 2 = 1 THEN 'supplier' ELSE 'customer' END AS kind,
       CAST(SUM(dq) AS BIGINT) AS bc_q
FROM ({union})
GROUP BY 1, 2
ORDER BY bc_q DESC, entity_id, kind
LIMIT {BC_TOP}
"""
    )


@register(
    "graph_betweenness_sampled",
    oracle=_betweenness_oracle(),
    doc="Sampled betweenness centrality (Brandes 2001, source-sampled and "
    f"depth-{BC_DEPTH}-bounded) over the supplier<->customer trading "
    f"network: forward level-synchronous BFS from {len(BC_SOURCE_CUSTS)} "
    "fixed customer roots accumulates exact integer shortest-path counts "
    "sigma per (source, node); the backward pass accumulates the Brandes "
    "dependency delta(v) = sum over DAG successors w of sigma(v)/sigma(w) "
    f"* (1 + delta(w)) on a {BC_GRID} integer grid (truncating integer "
    "division, rendered Spark `div` / DuckDB `//` -- all terms "
    "non-negative so truncation is floor and the values are bit-equal "
    "cross-engine).  Betweenness = per-node dependency sum over sources, "
    "top-20 -- the suppliers brokering the most customer-to-customer "
    "2-hop traffic rank first.  int64 budget: sigma(v) * (GRID + "
    "delta(w)) stays under 2^63 -- measured 1.2e7 max at sf0.1 against "
    "the 9.2e18 ceiling (knobs: BC_GRID, BC_DEPTH).  Scale shape: the "
    "same persisted-edges superstep pattern as BFS/pagerank -- each "
    "forward level shuffles only frontier-adjacent edges, the backward "
    "pass joins adjacent levels only; sources multiply work linearly "
    "(the sampling knob).",
    tags=("graph", "centrality", "iterative"),
)
def graph_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    eraw = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("l_suppkey") * 2 + 1).alias("a"),
            (F.col("o_custkey") * 2).alias("b"),
        )
        .distinct()
    )
    edges = track_persist(
        eraw.selectExpr("a AS src", "b AS dst")
        .unionAll(eraw.selectExpr("b AS src", "a AS dst"))
        # keyed on the per-level frontier join key, as in graph_bfs_distance
        .repartition("src")
    )
    d = [
        spark.createDataFrame(
            [(c * 2, c * 2, 1) for c in BC_SOURCE_CUSTS],
            "src long, node long, sigma long",
        )
    ]
    seen = d[0].select("src", "node")
    for _k in range(1, BC_DEPTH + 1):
        cand = (
            d[-1].alias("p")
            .join(edges.alias("e"), F.col("p.node") == F.col("e.src"))
            .select("p.src", F.col("e.dst").alias("node"), "p.sigma")
        )
        # localCheckpoint, NOT persist: the checkpoint also cuts the
        # per-level lineage, which `seen` would otherwise carry forward.
        dk = track_checkpoint(
            cand.join(seen, ["src", "node"], "left_anti")
            .groupBy("src", "node")
            .agg(F.sum("sigma").cast("long").alias("sigma"))
        )
        d.append(dk)
        seen = seen.unionAll(dk.select("src", "node"))
    delta = d[BC_DEPTH].withColumn("dq", F.lit(0).cast("long"))
    parts = [delta]
    for k in range(BC_DEPTH - 1, 0, -1):
        contrib = (
            d[k].alias("v")
            .join(edges.alias("e"), F.col("v.node") == F.col("e.src"))
            .join(
                delta.alias("w"),
                (F.col("w.src") == F.col("v.src"))
                & (F.col("w.node") == F.col("e.dst")),
            )
            .groupBy(F.col("v.src").alias("src"), F.col("v.node").alias("node"))
            .agg(
                F.sum(
                    F.expr(f"(v.sigma * ({BC_GRID}L + w.dq)) div w.sigma")
                )
                .cast("long")
                .alias("dq")
            )
        )
        delta = track_checkpoint(
            d[k]
            .join(contrib, ["src", "node"], "left")
            .select(
                "src",
                "node",
                "sigma",
                F.coalesce("dq", F.lit(0).cast("long")).alias("dq"),
            )
        )
        parts.append(delta)
    allv = parts[0].select("node", "dq")
    for p in parts[1:]:
        allv = allv.unionAll(p.select("node", "dq"))
    return (
        allv.groupBy("node")
        .agg(F.sum("dq").cast("long").alias("bc_q"))
        .select(
            F.expr("node div 2").alias("entity_id"),
            F.expr(
                "CASE WHEN node % 2 = 1 THEN 'supplier'"
                " ELSE 'customer' END"
            ).alias("kind"),
            "bc_q",
            "node",
        )
        .orderBy(F.desc("bc_q"), "entity_id", "kind")
        .limit(BC_TOP)
        .select("entity_id", "kind", "bc_q")
    )
