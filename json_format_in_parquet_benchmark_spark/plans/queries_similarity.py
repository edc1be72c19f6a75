"""Similarity-search queries over the ``embeddings`` table, with exact
oracles (the LSH hyperplanes are deterministic md5-derived constants and the
dot products are bit-identical across engines, so even the approximate path
is exactly cross-checkable)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import cosine_duckdb, dot_duckdb
from ..operators.similarity import (
    bucket_expr_duckdb,
    centroids,
    sign_lsh_buckets,
    topk_bruteforce,
    topk_ivf,
    topk_lsh,
)
from ..runtime import track_persist, write_once
from ..tables import load_table
from .registry import register

N_QUERIES = 8
TOP_K = 10
N_PLANES = 8
DIM = 64

_COS_D = cosine_duckdb("a.embedding", "b.embedding")


@register(
    "similarity_topk_bruteforce",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
     c AS (SELECT vec_id AS neighbor_id, embedding FROM embeddings),
scored AS (
  SELECT a.query_id, b.neighbor_id, {cosine_duckdb("a.embedding", "b.embedding")} AS cos_sim
  FROM q a CROSS JOIN c b
  WHERE a.query_id <> b.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= {TOP_K}
""",
    doc="Exact top-k cosine neighbors (brute force): broadcast query set, one "
    "corpus scan, per-query heap via window rank.",
    tags=("similarity", "topk"),
    bench=True,
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    return topk_bruteforce(emb, queries, "embedding", "vec_id", k=TOP_K)


def _bucket_expr_duckdb(vec: str) -> str:
    return bucket_expr_duckdb(vec, N_PLANES, DIM)


@register(
    "similarity_lsh_buckets",
    oracle=f"""
SELECT vec_id, {_bucket_expr_duckdb("embedding")} AS bucket
FROM embeddings
""",
    doc="Sign-LSH bucketing: 8 deterministic md5-derived hyperplanes -> "
    "256-way bucket id per vector (the ANN scale path: neighbor search only "
    "probes colliding buckets).",
    tags=("similarity", "lsh"),
)
def similarity_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sign_lsh_buckets(emb, "embedding", "vec_id", n_planes=N_PLANES, dim=DIM)


N_CELLS = 16
N_PROBE = 4


def _centroids_duckdb_literal() -> str:
    cells = centroids(N_CELLS, DIM)
    return "[" + ", ".join("[" + ", ".join(repr(x) for x in w) + "]" for w in cells) + "]"


# Shared by similarity_topk_ivf / similarity_ivf_partitioned /
# similarity_ivf_append: the physical variants serve the corpus from
# different layouts (in-memory, cell-partitioned disk, incrementally
# appended) but are all defined to produce the one logical IVF result
# for their query slice.
def _ivf_oracle(q_lo: int, q_hi: int) -> str:
    return f"""
WITH cellranked AS (
  SELECT vec_id, cell, d,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn
  FROM (
    SELECT e.vec_id, t.i AS cell,
           {dot_duckdb("e.embedding", f"({_centroids_duckdb_literal()})[t.i + 1]")} AS d
    FROM embeddings e CROSS JOIN range({N_CELLS}) t(i)
  )
),
corpus_cells AS (SELECT vec_id AS neighbor_id, cell FROM cellranked WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, cell FROM cellranked
           WHERE vec_id >= {q_lo} AND vec_id < {q_hi} AND rn <= {N_PROBE}),
scored AS (
  SELECT p.query_id, cc.neighbor_id, {cosine_duckdb("a.embedding", "b.embedding")} AS cos_sim
  FROM probes p
  JOIN corpus_cells cc USING (cell)
  JOIN embeddings a ON a.vec_id = p.query_id
  JOIN embeddings b ON b.vec_id = cc.neighbor_id
  WHERE p.query_id <> cc.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= {TOP_K}
"""


_IVF_ORACLE = _ivf_oracle(0, N_QUERIES)


@register(
    "similarity_topk_ivf",
    oracle=_IVF_ORACLE,
    doc="Approximate top-k via IVF (inverted file): deterministic coarse "
    "centroids, each vector assigned to its argmax-dot cell, queries probe "
    "their 4 nearest of 16 cells — the persisted-cell-partition ANN layout "
    "for 100 TB (search cost O(N*n_probe/n_cells) per query).",
    tags=("similarity", "ivf", "topk", "custom-operator"),
    bench=True,
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    out = topk_ivf(
        emb, queries, "embedding", "vec_id",
        k=TOP_K, n_cells=N_CELLS, n_probe=N_PROBE, dim=DIM,
    )
    return out.select(
        "query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank")
    )


def ivf_partitioned_path(spark: SparkSession, sf_dir: str) -> str:
    """Write the embeddings corpus cell-partitioned (hive layout, one
    directory per IVF cell) -- the persisted ANN index layout for 100 TB:
    queries touch only their probed cells' directories.  Memoized per
    sf_dir."""
    from ..operators.similarity import ivf_assign

    def write(out: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        assign = ivf_assign(emb, "embedding", "vec_id", N_CELLS, DIM)
        (
            # REBALANCE before the dynamic partitionBy write: without the
            # pre-shuffle every task emits one file per cell it holds --
            # O(tasks x cells) files (the 11.7x wall measured on the event
            # sink, results/scale_probe.txt); clustered by cell the job
            # writes ~one file per cell directory, and oversized cells are
            # split by AQE to bounded task sizes.  Same fix as
            # queries_sinks.py:write_partitioned_events.
            emb.select("vec_id", "embedding")
            .join(assign, "vec_id")
            .hint("rebalance", "cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(out)
        )

    return write_once(sf_dir, "ivf_cells", write)


@register(
    "similarity_ivf_partitioned",
    oracle=_IVF_ORACLE,
    doc="IVF index AS A PERSISTED LAYOUT: embeddings written hive-partitioned "
    "by IVF cell (the at-scale ANN deployment -- build the index once, each "
    "query reads only its probed cells' directories; pruning pinned in "
    "tests/test_plans.py), read back and searched with the same probes and "
    "scoring as similarity_topk_ivf -- the identical oracle proves the "
    "sink/load cycle is lossless and the partition mapping correct.",
    tags=("similarity", "ivf", "sink", "pruning"),
)
def similarity_ivf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    back = spark.read.parquet(ivf_partitioned_path(spark, sf_dir))
    assigned = back.select(F.col("vec_id").alias("neighbor_id"), "cell")
    out = topk_ivf(
        emb, queries, "embedding", "vec_id",
        k=TOP_K, n_cells=N_CELLS, n_probe=N_PROBE, dim=DIM,
        assigned=assigned,
    )
    return out.select(
        "query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank")
    )


KNN_CELLS = 64
KNN_K = 5


def _knn_hier_ctes() -> str:
    from ..operators.similarity import hier_assign_duckdb_ctes

    return hier_assign_duckdb_ctes(
        "embeddings", "embedding", "vec_id", n_cells=KNN_CELLS, dim=DIM
    )


def _knn_exact_oracle() -> str:
    from ..operators.similarity import knn_graph_exact_duckdb_sql

    return (
        f"WITH {_knn_hier_ctes()},"
        + knn_graph_exact_duckdb_sql(KNN_K)
    )


@register(
    "similarity_knn_graph",
    oracle=_knn_exact_oracle(),
    doc="Full k-NN graph: EVERY vector's top-5 cosine neighbors within its "
    f"IVF cell ({KNN_CELLS} cells, n_probe=1) -- the all-to-all ANN shape "
    "behind SemDeDup-style curation and graph near-dup clustering.  Unlike "
    "similarity_topk_ivf (broadcast query side), both sides shuffle once "
    "on cell and all per-cell work is cell-co-partitioned; per-cell work "
    "is occupancy^2 so growing n_cells with N holds it linear.  BOTH "
    "stages run the integer-exact fast path and BOTH are oracle-mirrored "
    "bit for bit: assignment is the two-level quantizer "
    "(operators/similarity.py:ivf_assign_hier_exact, O(N*2*sqrt(n_cells)*"
    "dim) int64 flops vs flat assignment's quadratic-under-growth-rule "
    "O(N*n_cells*dim) -- measured 210.8s -> 2.9s at 500k vectors), and "
    "scoring is a per-cell int64 Gram matrix in an Arrow kernel ranked by "
    "quantized-vector cosine (knn_graph_ivf_exact; 173s -> ~17s at 500k "
    "vs the interpreted per-pair fold).  The driver-checked plan here IS "
    "the plan that survives 10^9 vectors, not a small-scale stand-in "
    "(results/scale_probe.txt, round 8).",
    tags=("similarity", "ivf", "knn-graph", "custom-operator"),
    bench=True,
)
def similarity_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_assign_hier_exact, knn_graph_ivf_exact

    emb = load_table(spark, sf_dir, "embeddings")
    cells = ivf_assign_hier_exact(
        emb, "embedding", "vec_id", n_cells=KNN_CELLS, dim=DIM
    )
    out = knn_graph_ivf_exact(
        emb, "embedding", "vec_id", k=KNN_K, n_cells=KNN_CELLS, dim=DIM,
        assigned=cells,
    )
    return out.select(
        "query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank")
    )


@register(
    "similarity_topk_lsh",
    oracle=f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {_bucket_expr_duckdb("embedding")} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding, bucket AS qbucket
      FROM bucketed WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT a.query_id, b.vec_id AS neighbor_id, {_COS_D.replace("b.embedding", "b.embedding")} AS cos_sim
  FROM q a JOIN bucketed b
    ON a.query_id <> b.vec_id AND bit_count(xor(a.qbucket, b.bucket)) <= 1
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= {TOP_K}
""",
    doc="Approximate top-k via sign-LSH: candidates limited to bucket "
    "collisions within Hamming distance 1 (multi-probe), then exact cosine "
    "rank -- the O(N/2^planes) search path that survives 100 TB.",
    tags=("similarity", "lsh", "topk"),
    bench=True,
)
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    out = topk_lsh(
        emb, queries, "embedding", "vec_id", k=TOP_K, n_planes=N_PLANES, dim=DIM
    )
    return out.select(
        "query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank")
    )


@register(
    "similarity_lsh_recall",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
     c AS (SELECT vec_id AS neighbor_id, embedding FROM embeddings),
exact_ranked AS (
  SELECT a.query_id, b.neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY a.query_id
                            ORDER BY {cosine_duckdb("a.embedding", "b.embedding")} DESC,
                                     b.neighbor_id) AS rank
  FROM q a CROSS JOIN c b
  WHERE a.query_id <> b.neighbor_id
),
truth AS (SELECT query_id, neighbor_id FROM exact_ranked WHERE rank <= {TOP_K}),
bucketed AS (
  SELECT vec_id, embedding, {_bucket_expr_duckdb("embedding")} AS bucket
  FROM embeddings
),
qb AS (SELECT vec_id AS query_id, embedding, bucket AS qbucket
       FROM bucketed WHERE vec_id < {N_QUERIES}),
approx_scored AS (
  SELECT a.query_id, b.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY a.query_id
                            ORDER BY {cosine_duckdb("a.embedding", "b.embedding")} DESC,
                                     b.vec_id) AS rank
  FROM qb a JOIN bucketed b
    ON a.query_id <> b.vec_id AND bit_count(xor(a.qbucket, b.bucket)) <= 1
),
approx AS (SELECT query_id, neighbor_id FROM approx_scored WHERE rank <= {TOP_K})
SELECT t.query_id,
       COUNT(*) AS k_true,
       CAST(COUNT(a.neighbor_id) AS BIGINT) AS k_hit,
       CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*) AS recall
FROM truth t
LEFT JOIN approx a
  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
GROUP BY 1
""",
    doc="ANN evaluation harness: per-query recall@k of the sign-LSH path "
    "against exact brute force -- the measurement loop that tunes "
    "n_planes/probes before a 100 TB rollout (recall is data-dependent; "
    "computing it IS the capability).",
    tags=("similarity", "lsh", "evaluation"),
)
def similarity_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    truth = topk_bruteforce(emb, queries, "embedding", "vec_id", k=TOP_K).select(
        "query_id", "neighbor_id"
    )
    approx = topk_lsh(
        emb, queries, "embedding", "vec_id", k=TOP_K, n_planes=N_PLANES, dim=DIM
    ).select("query_id", F.col("neighbor_id").alias("a_neighbor"))
    return _recall_by_query(truth, approx)


def _recall_by_query(truth: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall@k of an approximate neighbor set against the exact
    one (left join on (query, neighbor); hit-count / truth-count)."""
    joined = truth.join(
        approx,
        (truth.query_id == approx.query_id)
        & (truth.neighbor_id == approx.a_neighbor),
        "left",
    ).select(truth.query_id, "neighbor_id", "a_neighbor")
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("k_true"),
        F.count("a_neighbor").alias("k_hit"),
        (F.count("a_neighbor").cast("double") / F.count(F.lit(1))).alias("recall"),
    )


@register(
    "similarity_ivf_recall",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
     c AS (SELECT vec_id AS neighbor_id, embedding FROM embeddings),
exact_ranked AS (
  SELECT a.query_id, b.neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY a.query_id
                            ORDER BY {cosine_duckdb("a.embedding", "b.embedding")} DESC,
                                     b.neighbor_id) AS rank
  FROM q a CROSS JOIN c b
  WHERE a.query_id <> b.neighbor_id
),
truth AS (SELECT query_id, neighbor_id FROM exact_ranked WHERE rank <= {TOP_K}),
cellranked AS (
  SELECT vec_id, cell, d,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn
  FROM (
    SELECT e.vec_id, t.i AS cell,
           {dot_duckdb("e.embedding", f"({{cents}})[t.i + 1]")} AS d
    FROM embeddings e CROSS JOIN range({N_CELLS}) t(i)
  )
),
corpus_cells AS (SELECT vec_id AS neighbor_id, cell FROM cellranked WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, cell FROM cellranked
           WHERE vec_id < {N_QUERIES} AND rn <= {N_PROBE}),
approx_scored AS (
  SELECT p.query_id, cc.neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY p.query_id
                            ORDER BY {cosine_duckdb("a.embedding", "b.embedding")} DESC,
                                     cc.neighbor_id) AS rank
  FROM probes p
  JOIN corpus_cells cc USING (cell)
  JOIN embeddings a ON a.vec_id = p.query_id
  JOIN embeddings b ON b.vec_id = cc.neighbor_id
  WHERE p.query_id <> cc.neighbor_id
),
approx AS (SELECT query_id, neighbor_id FROM approx_scored WHERE rank <= {TOP_K})
SELECT t.query_id,
       COUNT(*) AS k_true,
       CAST(COUNT(a.neighbor_id) AS BIGINT) AS k_hit,
       CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*) AS recall
FROM truth t
LEFT JOIN approx a
  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
GROUP BY 1
""".replace("{cents}", _centroids_duckdb_literal()),
    doc="ANN evaluation for the IVF path: per-query recall@k of the "
    "probed-cell search against exact brute force -- with the LSH recall "
    "harness this closes the tuning loop for BOTH ANN layouts "
    "(n_cells/n_probe here, n_planes there) before a 100 TB rollout.",
    tags=("similarity", "ivf", "evaluation"),
)
def similarity_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    truth = topk_bruteforce(emb, queries, "embedding", "vec_id", k=TOP_K).select(
        "query_id", "neighbor_id"
    )
    approx = topk_ivf(
        emb, queries, "embedding", "vec_id",
        k=TOP_K, n_cells=N_CELLS, n_probe=N_PROBE, dim=DIM,
    ).select("query_id", F.col("neighbor_id").alias("a_neighbor"))
    return _recall_by_query(truth, approx)


def _pq_sqd(a: str, b: str) -> str:
    from ..operators.similarity import PQ_DSUB

    return " + ".join(
        f"({a}[{j}] - {b}[{j}]) * ({a}[{j}] - {b}[{j}])"
        for j in range(1, PQ_DSUB + 1)
    )


def _pq_cte_chain() -> str:
    """CTE chain (starting after WITH) producing ``codes`` (vec_id, sub,
    code) and ``c1`` (sub, code, cent) -- the trained PQ codebooks and
    per-vector codes, bit-exact vs the Spark kernels: int64 distances on
    the 1e6 grid, FLOOR(sum/count) centroid updates, argmin ties to the
    lowest code."""
    from ..operators.similarity import PQ_DSUB, PQ_GRID, PQ_K, PQ_M

    sqd = _pq_sqd

    cent_list = ", ".join(
        f"CAST(FLOOR(CAST(SUM(sq[{j}]) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))"
        " AS BIGINT)"
        for j in range(1, PQ_DSUB + 1)
    )
    return f"""e AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(FLOOR(x * {PQ_GRID}) AS BIGINT)) AS eq
  FROM embeddings
),
subs AS MATERIALIZED (
  SELECT vec_id, s.sub,
         list_slice(eq, s.sub * {PQ_DSUB} + 1, s.sub * {PQ_DSUB} + {PQ_DSUB})
           AS sq
  FROM e, (SELECT unnest(range(0, {PQ_M})) AS sub) s
),
seeds AS (
  SELECT eq, code FROM (
    SELECT eq, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT) - 1 AS code
    FROM e
  ) WHERE code < {PQ_K}
),
c0 AS (
  SELECT s.sub, seeds.code,
         list_slice(seeds.eq, s.sub * {PQ_DSUB} + 1,
                    s.sub * {PQ_DSUB} + {PQ_DSUB}) AS cent
  FROM seeds, (SELECT unnest(range(0, {PQ_M})) AS sub) s
),
a1 AS (
  SELECT vec_id, sub, code, sq FROM (
    SELECT s.vec_id, s.sub, c.code, s.sq,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                              ORDER BY {sqd('s.sq', 'c.cent')}, c.code) AS rn
    FROM subs s JOIN c0 c ON c.sub = s.sub
  ) WHERE rn = 1
),
upd AS (
  SELECT sub, code, [{cent_list}] AS cent
  FROM a1 GROUP BY sub, code
),
c1 AS (
  SELECT c0.sub, c0.code, COALESCE(u.cent, c0.cent) AS cent
  FROM c0 LEFT JOIN upd u ON u.sub = c0.sub AND u.code = c0.code
),
codes AS MATERIALIZED (
  SELECT vec_id, sub, code FROM (
    SELECT s.vec_id, s.sub, c.code,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                              ORDER BY {sqd('s.sq', 'c.cent')}, c.code) AS rn
    FROM subs s JOIN c1 c ON c.sub = s.sub
  ) WHERE rn = 1
),
dt AS (
  SELECT q.vec_id AS query_id, c.sub, c.code, {sqd('q.sq', 'c.cent')} AS d
  FROM (SELECT vec_id, sub, sq FROM subs WHERE vec_id < __NQ__) q
  JOIN c1 c ON c.sub = q.sub
)"""


def _pq_oracle(n_queries: int = 3, k: int = 10) -> str:
    return f"""
WITH {_pq_cte_chain().replace('__NQ__', str(n_queries))},
scored AS (
  SELECT dt.query_id, codes.vec_id AS neighbor_id,
         CAST(SUM(dt.d) AS BIGINT) AS adc_dist
  FROM codes JOIN dt ON dt.sub = codes.sub AND dt.code = codes.code
  WHERE dt.query_id <> codes.vec_id
  GROUP BY dt.query_id, codes.vec_id
)
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT query_id, neighbor_id, adc_dist,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY adc_dist, neighbor_id) AS INT)
           AS rank
  FROM scored
) WHERE rank <= {k}
"""


@register(
    "similarity_pq_topk",
    oracle=_pq_oracle(),
    doc="Product-quantization ANN (the FAISS IVF-PQ compression path): "
    "64-dim vectors become 8 one-byte codes via per-subspace k-means "
    "codebooks, and queries score candidates by ADC -- 8 integer table "
    "lookups per candidate from a driver-built distance table, no float "
    "math in the scan.  Training is one exact-integer Lloyd round (one "
    "map-side-combined shuffle + a 1024-row collect); scoring is a "
    "zero-shuffle map over the codes.  At 100 TB this is the difference "
    "between scanning 256 B/vector and 8 B/vector, and it composes with "
    "the IVF cell pruning of similarity_topk_ivf "
    "(operators/similarity.py:pq_topk).",
    tags=("similarity", "ann", "pq", "embedding"),
    bench=True,
)
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_topk

    return pq_topk(
        load_table(spark, sf_dir, "embeddings"),
        "embedding",
        "vec_id",
        n_queries=3,
        k=TOP_K,
    )


@register(
    "similarity_hard_negatives",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.query_id, q.qlabel, c.vec_id AS neighbor_id, c.label AS nlabel,
         {cosine_duckdb("q.qv", "c.embedding")} AS cos_sim,
         CAST(CASE WHEN c.label = q.qlabel THEN 1 ELSE 0 END AS INT)
           AS same_label
  FROM q CROSS JOIN embeddings c
  WHERE q.query_id <> c.vec_id
),
ranked AS (
  SELECT query_id, qlabel, neighbor_id, nlabel, cos_sim, same_label,
         ROW_NUMBER() OVER (PARTITION BY query_id, same_label
                            ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
)
SELECT query_id, qlabel,
       CASE WHEN same_label = 1 THEN 'positive' ELSE 'hard_negative' END
         AS kind,
       neighbor_id, nlabel, cos_sim
FROM ranked WHERE rn = 1
ORDER BY query_id, kind
""",
    doc="Contrastive-pair mining for embedding-model training: per anchor, "
    "the nearest SAME-label vector (positive) and the nearest "
    "DIFFERENT-label vector (the hard negative -- the pair that "
    "dominates the InfoNCE gradient).  One corpus scan against the "
    "broadcast anchor set, one window partitioned by (anchor, "
    "same-label); at 100 TB the candidate set comes from the IVF/PQ "
    "index (similarity_topk_ivf / similarity_pq_topk) and only the "
    "shortlist is exactly re-ranked -- this query is that re-rank "
    "stage in its exact form.",
    tags=("similarity", "embedding", "mining", "pipeline"),
)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.vectors import dot_spark, norm_spark

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
        F.expr(norm_spark("embedding")).alias("qnrm"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        F.col("label").alias("nlabel"),
        F.expr(norm_spark("embedding")).alias("cnrm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "qlabel",
            "neighbor_id",
            "nlabel",
            F.expr(f"{dot_spark('qv', 'cv')} / (qnrm * cnrm)").alias(
                "cos_sim"
            ),
            F.expr("cast(case when nlabel = qlabel then 1 else 0 end as int)")
            .alias("same_label"),
        )
    )
    w = Window.partitionBy("query_id", "same_label").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "query_id",
            "qlabel",
            F.expr(
                "case when same_label = 1 then 'positive'"
                " else 'hard_negative' end"
            ).alias("kind"),
            "neighbor_id",
            "nlabel",
            "cos_sim",
        )
        .orderBy("query_id", "kind")
    )


def _ivfpq_oracle(n_queries: int = 3, k: int = 10) -> str:
    cents = _centroids_duckdb_literal()
    return f"""
WITH {_pq_cte_chain().replace('__NQ__', str(n_queries))},
cellranked AS (
  SELECT vec_id, cell, d,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn
  FROM (
    SELECT e2.vec_id, t.i AS cell,
           {dot_duckdb("e2.embedding", f"({{}})[t.i + 1]").format(cents)} AS d
    FROM embeddings e2 CROSS JOIN range({N_CELLS}) t(i)
  )
),
corpus_cells AS (SELECT vec_id, cell FROM cellranked WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, cell FROM cellranked
           WHERE vec_id < {n_queries} AND rn <= {N_PROBE}),
cand AS (
  SELECT p.query_id, cc.vec_id
  FROM probes p JOIN corpus_cells cc USING (cell)
  WHERE p.query_id <> cc.vec_id
),
scored AS (
  SELECT ca.query_id, codes.vec_id AS neighbor_id,
         CAST(SUM(dt.d) AS BIGINT) AS adc_dist
  FROM cand ca
  JOIN codes ON codes.vec_id = ca.vec_id
  JOIN dt ON dt.query_id = ca.query_id
         AND dt.sub = codes.sub AND dt.code = codes.code
  GROUP BY ca.query_id, codes.vec_id
)
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT query_id, neighbor_id, adc_dist,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY adc_dist, neighbor_id) AS INT)
           AS rank
  FROM scored
) WHERE rank <= {k}
"""


@register(
    "similarity_ivfpq_topk",
    oracle=_ivfpq_oracle(),
    doc="IVF-PQ composed ANN (the FAISS trillion-scale layout): coarse "
    f"IVF cells prune the corpus to each query's {N_PROBE} nearest of "
    f"{N_CELLS} cells, then PQ codes + per-query ADC tables score only "
    "the survivors with 8 integer lookups each -- search cost "
    "O(N * n_probe/n_cells) candidates x O(m) adds, payload 8 B/vector. "
    "Both stages reuse their standalone operators' exact machinery "
    "(argmax-dot cells; int64-grid codebooks), so the composition is "
    "bit-exactly oracle-checked end to end "
    "(operators/similarity.py:ivfpq_topk).",
    tags=("similarity", "ann", "ivf", "pq", "embedding"),
    bench=True,
)
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivfpq_topk

    return ivfpq_topk(
        load_table(spark, sf_dir, "embeddings"),
        "embedding",
        "vec_id",
        n_queries=3,
        k=TOP_K,
        n_cells=N_CELLS,
        n_probe=N_PROBE,
        dim=DIM,
    )


MATRYOSHKA_DIM = 16


@register(
    "similarity_matryoshka_recall",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
           WHERE vec_id < {N_QUERIES}),
     c AS (SELECT vec_id AS neighbor_id, embedding FROM embeddings),
exact_ranked AS (
  SELECT a.query_id, b.neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY a.query_id
                            ORDER BY {cosine_duckdb("a.embedding", "b.embedding")} DESC,
                                     b.neighbor_id) AS rank
  FROM q a CROSS JOIN c b
  WHERE a.query_id <> b.neighbor_id
),
truth AS (SELECT query_id, neighbor_id FROM exact_ranked WHERE rank <= {TOP_K}),
trunc_ranked AS (
  SELECT a.query_id, b.neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY a.query_id
                            ORDER BY {cosine_duckdb(f"a.embedding[1:{MATRYOSHKA_DIM}]", f"b.embedding[1:{MATRYOSHKA_DIM}]")} DESC,
                                     b.neighbor_id) AS rank
  FROM q a CROSS JOIN c b
  WHERE a.query_id <> b.neighbor_id
),
approx AS (SELECT query_id, neighbor_id FROM trunc_ranked WHERE rank <= {TOP_K})
SELECT t.query_id,
       COUNT(*) AS k_true,
       CAST(COUNT(a.neighbor_id) AS BIGINT) AS k_hit,
       CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*) AS recall
FROM truth t
LEFT JOIN approx a
  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
GROUP BY 1
""",
    doc="Matryoshka / dimension-truncation evaluation: recall@k of "
    f"brute-force search over the FIRST {MATRYOSHKA_DIM} of {DIM} "
    "embedding dimensions against full-dimension exact search -- the "
    "measurement that decides whether a prefix-truncated (MRL-style) "
    "index is good enough before trading 4x index size and bandwidth "
    "for it at 100 TB.  Both arms are the same broadcast-query "
    "brute-force operator; the truncated arm just projects "
    "slice(embedding) first, so the comparison isolates the dimension "
    "cut from any ANN approximation.",
    tags=("similarity", "embedding", "evaluation"),
)
def similarity_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    truth = topk_bruteforce(emb, queries, "embedding", "vec_id", k=TOP_K).select(
        "query_id", "neighbor_id"
    )
    cut = F.slice(F.col("embedding"), 1, MATRYOSHKA_DIM).alias("emb_cut")
    approx = topk_bruteforce(
        emb.select("vec_id", cut),
        queries.select("vec_id", cut),
        "emb_cut",
        "vec_id",
        k=TOP_K,
    ).select("query_id", F.col("neighbor_id").alias("a_neighbor"))
    return _recall_by_query(truth, approx)


IVF_APPEND_MOD = 10  # hash slice: ~10% of vectors arrive as the new batch


def ivf_append_path(spark: SparkSession, sf_dir: str) -> str:
    """Build the cell-partitioned IVF index from the BASE 90% of vectors,
    then APPEND the arriving 10% batch into the same hive layout
    (``mode("append")`` + ``partitionBy("cell")``) -- the incremental
    index-maintenance operation: only the batch's cells' directories gain
    files, nothing existing is rewritten, no rebuild.  Memoized per
    sf_dir; split membership is hash-deterministic so the layout is
    reproducible."""
    from ..functions.hashing import hash64_sql_spark
    from ..operators.similarity import ivf_assign

    def write(out: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        is_batch = (
            F.expr(f"{hash64_sql_spark('cast(vec_id as string)', salt='ivfapp:')}")
            % IVF_APPEND_MOD
            == IVF_APPEND_MOD - 1
        )
        for arriving, mode in ((False, "overwrite"), (True, "append")):
            part = emb.where(is_batch if arriving else ~is_batch)
            assign = ivf_assign(part, "embedding", "vec_id", N_CELLS, DIM)
            (
                # Rebalance on the partition key before BOTH the base build
                # and the incremental append -- the append otherwise adds
                # O(tasks x touched-cells) small files on every batch, the
                # compounding form of the file-count wall (see
                # ivf_partitioned_path above).
                part.select("vec_id", "embedding")
                .join(assign, "vec_id")
                .hint("rebalance", "cell")
                .write.mode(mode)
                .partitionBy("cell")
                .parquet(out)
            )

    return write_once(sf_dir, "ivf_append", write)


@register(
    "similarity_ivf_append",
    oracle=_ivf_oracle(N_QUERIES, 2 * N_QUERIES),
    doc="Incremental ANN index MAINTENANCE: the cell-partitioned IVF "
    "layout is built from a hash-deterministic 90% base, then the "
    "arriving 10% batch is assigned to cells and APPENDED into the "
    "same hive layout (append mode writes new files only into the "
    "batch's cell directories -- no rebuild, nothing rewritten; "
    "tests/test_properties.py pins that every pre-append file "
    "survives).  A probe search over the updated index must equal the "
    "one-shot IVF definition over the FULL corpus -- the oracle states "
    "exactly that, proving incremental maintenance is lossless.  This "
    "is the production shape for a continuously growing vector corpus "
    "at 100 TB: index updates are per-cell file appends, searches keep "
    "reading only probed cells' directories.  Queries are the second "
    f"{N_QUERIES}-vector slice so results are disjoint from the other "
    "IVF queries.",
    tags=("similarity", "ivf", "sink", "incremental"),
)
def similarity_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < 2 * N_QUERIES)
    )
    back = spark.read.parquet(ivf_append_path(spark, sf_dir))
    assigned = back.select(F.col("vec_id").alias("neighbor_id"), "cell")
    out = topk_ivf(
        emb, queries, "embedding", "vec_id",
        k=TOP_K, n_cells=N_CELLS, n_probe=N_PROBE, dim=DIM,
        assigned=assigned,
    )
    return out.select(
        "query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank")
    )


RADIUS_NUM = 1  # cosine radius threshold tau = 1/5, spelled rationally
RADIUS_DEN = 5


def _radius_oracle() -> str:
    return f"""
WITH cellranked AS (
  SELECT vec_id, cell, d,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn
  FROM (
    SELECT e.vec_id, t.i AS cell,
           {dot_duckdb("e.embedding", f"({_centroids_duckdb_literal()})[t.i + 1]")} AS d
    FROM embeddings e CROSS JOIN range({N_CELLS}) t(i)
  )
),
corpus_cells AS (SELECT vec_id AS neighbor_id, cell FROM cellranked WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, cell FROM cellranked
           WHERE vec_id < {N_QUERIES} AND rn <= {N_PROBE}),
scored AS (
  SELECT p.query_id, cc.neighbor_id,
         {cosine_duckdb("a.embedding", "b.embedding")} AS cos_sim
  FROM probes p
  JOIN corpus_cells cc USING (cell)
  JOIN embeddings a ON a.vec_id = p.query_id
  JOIN embeddings b ON b.vec_id = cc.neighbor_id
  WHERE p.query_id <> cc.neighbor_id
)
SELECT query_id, neighbor_id, cos_sim
FROM scored
WHERE cos_sim * {RADIUS_DEN} >= {RADIUS_NUM}
"""


@register(
    "similarity_range_radius",
    oracle=_radius_oracle(),
    doc="RANGE (radius) similarity search over the IVF layout: every "
    f"corpus vector within cosine >= {RADIUS_NUM}/{RADIUS_DEN} of each "
    "query, scored only inside the query's probed cells -- the "
    "radius-query twin of similarity_topk_ivf (top-k bounds the OUTPUT, "
    "radius bounds the SIMILARITY; dedup and recommendation pipelines "
    "need both).  No per-query window at all: the filter replaces the "
    "rank, so the plan is join + filter -- cheaper than top-k at scale.  "
    "The threshold compare is kept rational (cos * den >= num) so no "
    "float literal crosses engines.",
    tags=("similarity", "ivf", "range", "custom-operator"),
)
def similarity_range_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_assign, ivf_probes, _with_norm, _PAIR_COS

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    corpus_cells = ivf_assign(emb, "embedding", "vec_id", N_CELLS, DIM).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    probes = ivf_probes(queries, "embedding", "vec_id", N_CELLS, N_PROBE, DIM)
    c = _with_norm(emb, "embedding", "vec_id", "c").join(corpus_cells, "neighbor_id")
    q = _with_norm(queries, "embedding", "vec_id", "q").join(probes, "query_id")
    pairs = c.join(F.broadcast(q), "cell").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    return pairs.select(
        "query_id", "neighbor_id", F.expr(_PAIR_COS).alias("cos_sim")
    ).where(F.col("cos_sim") * RADIUS_DEN >= RADIUS_NUM)


# --- scalar quantization (SQ8) ------------------------------------------

# Per-dimension 8-bit scalar quantization: code = floor((x - mn_d) * 255 /
# (mx_d - mn_d)) clamped to [0, 255], reconstruction = mn_d + (code + 0.5) *
# (mx_d - mn_d) / 256 (the FAISS SQ8 layout).  Every operand is either an
# exact integer cast to double or a min/max of the raw doubles, so both
# engines evaluate identical IEEE expressions and the reconstructed vectors
# are bit-identical -- the approximate ranking is exactly cross-checkable.
_SQ_QUANT_S = (
    f"transform(sequence(0, {DIM - 1}), i ->"
    " least(cast(floor(case when element_at(mx_l, i + 1) > element_at(mn_l, i + 1)"
    " then ((cast(element_at(embedding, i + 1) as double) - element_at(mn_l, i + 1))"
    " * cast(255 as double)) / (element_at(mx_l, i + 1) - element_at(mn_l, i + 1))"
    " else cast(0 as double) end) as bigint), cast(255 as bigint)))"
)
_SQ_RECON_S = (
    f"transform(sequence(0, {DIM - 1}), i ->"
    " element_at(mn_l, i + 1) + (cast(element_at(qv, i + 1) as double) + 5e-1)"
    " * (element_at(mx_l, i + 1) - element_at(mn_l, i + 1)) / cast(256 as double))"
)
# DuckDB twin: one fused lambda (code inlined into the reconstruction).
_SQ_RECON_D = (
    f"list_transform(range({DIM}), i ->"
    " mn_l[i + 1] + (CAST(LEAST(CAST(FLOOR(CASE WHEN mx_l[i + 1] > mn_l[i + 1]"
    " THEN ((CAST(e.embedding[i + 1] AS DOUBLE) - mn_l[i + 1]) * CAST(255 AS DOUBLE))"
    " / (mx_l[i + 1] - mn_l[i + 1])"
    " ELSE CAST(0 AS DOUBLE) END) AS BIGINT), 255) AS DOUBLE) + 5e-1)"
    " * (mx_l[i + 1] - mn_l[i + 1]) / CAST(256 AS DOUBLE))"
)
_SQ_COS_D = cosine_duckdb("a.xhat", "b.xhat")


@register(
    "similarity_sq8_recall",
    oracle=f"""
WITH dims AS (
  SELECT t.i AS pos,
         MIN(CAST(e.embedding[t.i + 1] AS DOUBLE)) AS mn,
         MAX(CAST(e.embedding[t.i + 1] AS DOUBLE)) AS mx
  FROM embeddings e CROSS JOIN range({DIM}) t(i)
  GROUP BY t.i
),
lists AS (
  SELECT list(mn ORDER BY pos) AS mn_l, list(mx ORDER BY pos) AS mx_l FROM dims
),
recon AS (
  SELECT e.vec_id, {_SQ_RECON_D} AS xhat
  FROM embeddings e CROSS JOIN lists
),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, embedding FROM embeddings),
exact_ranked AS (
  SELECT a.query_id, b.neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY a.query_id
                            ORDER BY {cosine_duckdb("a.embedding", "b.embedding")} DESC,
                                     b.neighbor_id) AS rank
  FROM q a CROSS JOIN c b
  WHERE a.query_id <> b.neighbor_id
),
truth AS (SELECT query_id, neighbor_id FROM exact_ranked WHERE rank <= {TOP_K}),
qx AS (SELECT vec_id AS query_id, xhat FROM recon WHERE vec_id < {N_QUERIES}),
approx_scored AS (
  SELECT a.query_id, b.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY a.query_id
                            ORDER BY {_SQ_COS_D} DESC, b.vec_id) AS rank
  FROM qx a JOIN recon b ON a.query_id <> b.vec_id
),
approx AS (SELECT query_id, neighbor_id FROM approx_scored WHERE rank <= {TOP_K})
SELECT t.query_id,
       COUNT(*) AS k_true,
       CAST(COUNT(a.neighbor_id) AS BIGINT) AS k_hit,
       CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*) AS recall
FROM truth t
LEFT JOIN approx a
  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
GROUP BY 1
""",
    doc="Scalar 8-bit quantization (SQ8, the FAISS ScalarQuantizer layout): "
    "per-dimension [min, max] trained in one posexplode+groupBy pass (64 "
    "groups), codes and midpoint reconstructions built map-side through a "
    "broadcast single-row (mn, mx) array pair, then recall@k of the "
    "SQ8-reconstructed ranking against exact brute force.  SQ8 is the "
    "4x-memory-compression arm of the ANN family (PQ compresses harder, "
    "SQ8 reconstructs cheaper -- one mul-add per dimension, no codebook "
    "lookup); at 100 TB the int8 codes are what a 1000-executor fleet "
    "caches in RAM while raw floats stay on disk.  Training is one tiny "
    "shuffle; encode/reconstruct are zero-shuffle projections; recall "
    "joins only the broadcast-small query set.",
    tags=("similarity", "quantization", "evaluation"),
)
def similarity_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dims = (
        emb.select(
            F.posexplode(F.expr("cast(embedding as array<double>)")).alias(
                "pos", "x"
            )
        )
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    lists = dims.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, mn))), s -> s.mn)"
        ).alias("mn_l"),
        F.expr(
            "transform(array_sort(collect_list(struct(pos, mx))), s -> s.mx)"
        ).alias("mx_l"),
    )
    recon = track_persist(
        emb.crossJoin(F.broadcast(lists))
        .select("vec_id", "embedding", F.expr(_SQ_QUANT_S).alias("qv"), "mn_l", "mx_l")
        .select("vec_id", F.expr(_SQ_RECON_S).alias("xhat"))
    )
    truth = topk_bruteforce(
        emb, emb.where(F.col("vec_id") < N_QUERIES), "embedding", "vec_id", k=TOP_K
    ).select("query_id", "neighbor_id")
    approx = topk_bruteforce(
        recon, recon.where(F.col("vec_id") < N_QUERIES), "xhat", "vec_id", k=TOP_K
    ).select("query_id", F.col("neighbor_id").alias("a_neighbor"))
    return _recall_by_query(truth, approx)
