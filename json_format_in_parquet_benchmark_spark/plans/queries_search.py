"""Ranked full-text retrieval over the ``documents`` corpus.

BM25-style weighted retrieval: per-document term frequencies, corpus-level
document frequencies, length normalization, and a top-k by relevance score.
The classic BM25 idf is ``ln((N - df + 0.5)/(df + 0.5) + 1)`` -- but ``ln``
differs between engines in the last ulp (measured: ~8% of inputs disagree
between the JVM's ``Math.log`` and DuckDB's libm), which would break the
driver's exact value-hash gate.  The score here therefore uses the RATIONAL
odds idf ``(N - df + 0.5)/(df + 0.5)`` (the quantity BM25 takes the log of):
division and multiplication of identical operands are IEEE-deterministic
cross-engine (verified bit-exact over the full operand grid), so the scores
hash-match exactly.  The odds idf is a monotone function of df like the log
form -- rarer terms weigh more -- it just decays faster; the retrieval
*machinery* (tf, df, dl/avgdl saturation, top-k) is standard BM25.

Scale design: for a fixed small query-term set the right Spark plan is NOT
an exploded inverted index (that shuffles every token); it is a single
projection computing per-doc tf via ``size(filter(tokens, ...))`` -- an
embarrassingly parallel scan -- plus one tiny global aggregate for
(N, avgdl, df_t) that broadcasts back as a 1-row dimension.  The only
ordering work is ``TakeOrderedAndProject`` (per-partition top-k, then a
k-row merge on the driver) -- no global sort, no shuffle of the corpus.
At 100 TB: two corpus scans (stats + score), both map-side; the
fixed-order sum over query terms keeps double addition deterministic.

The reference has no retrieval operator; this extends the engine per the
north-star training-data-pipeline surface (text analysis / search).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens_duckdb, tokens_spark
from ..runtime import scratch_dir, track_persist
from ..tables import load_table
from .registry import register

_TOKS_S = tokens_spark("text")
_TOKS_D = tokens_duckdb("text")

# Fixed query-term set: a mix of common and rarer vocabulary so idf spreads.
QUERY_TERMS = ("merge", "spark", "vector", "window")
TOP_K = 20

# k1/b literals, pre-cast: bare decimal literals parse as DECIMAL in both
# engines, and decimal-domain arithmetic would diverge from the double
# domain -- every literal is explicitly DOUBLE so both engines run the
# identical IEEE expression.
_K1 = "cast(1.2 as double)"
_K1P1 = "cast(2.2 as double)"  # k1 + 1
_B = "cast(0.75 as double)"
_ONE_MINUS_B = "cast(0.25 as double)"
_HALF = "cast(0.5 as double)"


def _contrib(i: int) -> str:
    """Engine-neutral score contribution of query term i.

    The SAME snippet renders into the Spark plan and the DuckDB oracle, so
    every double operation has identical operands and ordering; a zero tf
    yields an exact 0.0 contribution (numerator 0, positive denominator).
    """
    idf = f"((n - df{i} + {_HALF}) / (df{i} + {_HALF}))"
    sat = (
        f"((tf{i} * {_K1P1})"
        f" / (tf{i} + {_K1} * ({_ONE_MINUS_B} + {_B} * (dl / avgdl))))"
    )
    return f"({idf} * {sat})"


# Fixed left-to-right sum: deterministic double addition order cross-engine.
_SCORE = " + ".join(_contrib(i) for i in range(len(QUERY_TERMS)))


def _tf_sql(spark_side: bool) -> list[str]:
    if spark_side:
        return [
            f"cast(size(filter({_TOKS_S}, x -> x = '{t}')) as bigint) as tf{i}"
            for i, t in enumerate(QUERY_TERMS)
        ]
    return [
        f"CAST(len(list_filter({_TOKS_D}, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(QUERY_TERMS)
    ]


@register(
    "text_bm25_topk",
    oracle=f"""
WITH tf AS (
  SELECT doc_id,
         CAST(len({_TOKS_D}) AS BIGINT) AS dl,
         {", ".join(_tf_sql(spark_side=False))}
  FROM documents
  WHERE len({_TOKS_D}) > 0
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
         {", ".join(f"CAST(COUNT(*) FILTER (tf{i} > 0) AS BIGINT) AS df{i}" for i in range(len(QUERY_TERMS)))}
  FROM tf
), scored AS (
  SELECT doc_id, dl, {_SCORE} AS score
  FROM tf CROSS JOIN stats
)
SELECT doc_id, dl, score
FROM scored
WHERE score > 0
ORDER BY score DESC, doc_id
LIMIT {TOP_K}
""",
    doc="BM25-style top-k retrieval for a fixed query-term set: per-doc tf "
    "via array filters (single-pass, no token explode), one global "
    "(N, avgdl, df) aggregate broadcast back as a 1-row dimension, "
    "rational odds-idf x tf-saturation scoring with a fixed-order term "
    "sum (bit-exact cross-engine), TakeOrderedAndProject top-k.",
    tags=("text", "search"),
    bench=True,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = docs.selectExpr(
        "doc_id",
        f"cast(size({_TOKS_S}) as bigint) as dl",
        *_tf_sql(spark_side=True),
    ).where(F.col("dl") > 0)
    stats = tf.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
        *[
            F.expr(f"count_if(tf{i} > 0)").alias(f"df{i}")
            for i in range(len(QUERY_TERMS))
        ],
    )
    scored = (
        tf.join(F.broadcast(stats))
        .select("doc_id", "dl", F.expr(_SCORE).alias("score"))
        .where(F.col("score") > 0)
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(TOP_K)


RRF_K = 60  # the standard reciprocal-rank-fusion constant (Cormack et al.)
HYBRID_QUERY_VEC = 0  # vec_id whose embedding plays the semantic query


def _hybrid_oracle() -> str:
    from ..functions.vectors import cosine_duckdb

    cos = cosine_duckdb("e.embedding", "q.embedding")
    return f"""
WITH tf AS (
  SELECT doc_id,
         CAST(len({_TOKS_D}) AS BIGINT) AS dl,
         {", ".join(_tf_sql(spark_side=False))}
  FROM documents
  WHERE len({_TOKS_D}) > 0
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
         {", ".join(f"CAST(COUNT(*) FILTER (tf{i} > 0) AS BIGINT) AS df{i}" for i in range(len(QUERY_TERMS)))}
  FROM tf
), lex AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY ({_SCORE}) DESC, doc_id)
              AS BIGINT) AS rank_lex
  FROM tf CROSS JOIN stats
), vec AS (
  SELECT e.vec_id AS doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY {cos} DESC, e.vec_id)
              AS BIGINT) AS rank_vec
  FROM embeddings e
  CROSS JOIN (SELECT embedding FROM embeddings
              WHERE vec_id = {HYBRID_QUERY_VEC}) q
), fused AS (
  SELECT l.doc_id, l.rank_lex, v.rank_vec,
         CAST({2 * RRF_K} + l.rank_lex + v.rank_vec AS BIGINT) AS rrf_num,
         CAST(({RRF_K} + l.rank_lex) * ({RRF_K} + v.rank_vec) AS BIGINT)
           AS rrf_den
  FROM lex l JOIN vec v USING (doc_id)
)
SELECT doc_id, rank_lex, rank_vec, rrf_num, rrf_den,
       CAST(rrf_num AS DOUBLE) / CAST(rrf_den AS DOUBLE) AS rrf_score
FROM fused
ORDER BY rrf_score DESC, doc_id
LIMIT {TOP_K}
"""


@register(
    "search_hybrid_rrf",
    oracle=_hybrid_oracle(),
    doc="Hybrid retrieval with reciprocal-rank fusion -- the standard "
    "RAG-stack ranker combining the lexical and semantic arms this "
    "engine already serves: the BM25 arm ranks every document by the "
    "odds-idf score (full ranking, zero scores last, doc_id tiebreak), "
    "the vector arm ranks every document by exact cosine against a "
    f"fixed probe embedding (vec_id {HYBRID_QUERY_VEC}; documents and "
    "embeddings are 1:1 by id), and RRF fuses them as 1/(k+r_lex) + "
    f"1/(k+r_vec) with k={RRF_K}.  Exactness: both ranks order by "
    "bit-identical doubles with integer tiebreaks, and the fused score "
    "is computed as ONE exact integer fraction (num=2k+r1+r2, "
    "den=(k+r1)(k+r2)) with a single double division of identical "
    "operands -- no float summation of reciprocals.  100 TB shape: each "
    "arm is the already-verified retrieval plan (map-side scoring, "
    "top-k via TakeOrdered); fusing full corpus rankings is the EVAL "
    "construction -- a production serving path fuses each arm's top-k "
    "candidate lists (thousands of rows), where the global ranking "
    "windows are driver-scale.",
    tags=("search", "similarity", "rrf", "hybrid"),
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.vectors import cosine_spark

    docs = load_table(spark, sf_dir, "documents")
    tf = docs.selectExpr(
        "doc_id",
        f"cast(size({_TOKS_S}) as bigint) as dl",
        *_tf_sql(spark_side=True),
    ).where(F.col("dl") > 0)
    stats = tf.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
        *[
            F.expr(f"count_if(tf{i} > 0)").alias(f"df{i}")
            for i in range(len(QUERY_TERMS))
        ],
    )
    lex = (
        tf.join(F.broadcast(stats))
        .select("doc_id", F.expr(_SCORE).alias("score"))
        .withColumn(
            "rank_lex",
            F.row_number()
            # global-window: ONE query's lexical candidate ranking (serving-path; impact-ordered posting pruning bounds it in production)
            .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
            .cast("bigint"),
        )
        .select("doc_id", "rank_lex")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") == HYBRID_QUERY_VEC).select(
        F.col("embedding").alias("qvec")
    )
    vec = (
        emb.crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.expr(cosine_spark("embedding", "qvec")).alias("cos_sim"),
        )
        .withColumn(
            "rank_vec",
            F.row_number()
            # global-window: ONE query's cosine ranking (serving-path; the ANN index bounds the candidate set in production)
            .over(Window.orderBy(F.desc("cos_sim"), F.asc("doc_id")))
            .cast("bigint"),
        )
        .select("doc_id", "rank_vec")
    )
    k = RRF_K
    fused = lex.join(vec, "doc_id").select(
        "doc_id",
        "rank_lex",
        "rank_vec",
        (F.lit(2 * k) + F.col("rank_lex") + F.col("rank_vec"))
        .cast("bigint")
        .alias("rrf_num"),
        ((F.lit(k) + F.col("rank_lex")) * (F.lit(k) + F.col("rank_vec")))
        .cast("bigint")
        .alias("rrf_den"),
    )
    return (
        fused.withColumn(
            "rrf_score",
            F.col("rrf_num").cast("double") / F.col("rrf_den").cast("double"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(TOP_K)
    )


def _rerank_oracle() -> str:
    cand = f"""
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY ({_SCORE}) DESC, doc_id)
              AS BIGINT) AS rank_bm25
  FROM tf CROSS JOIN stats
  QUALIFY ({_SCORE}) > 0 AND rank_bm25 <= {TOP_K}
"""
    terms = ", ".join(f"'{t}'" for t in QUERY_TERMS)
    return f"""
WITH tf AS (
  SELECT doc_id,
         CAST(len({_TOKS_D}) AS BIGINT) AS dl,
         {", ".join(_tf_sql(spark_side=False))}
  FROM documents
  WHERE len({_TOKS_D}) > 0
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
         {", ".join(f"CAST(COUNT(*) FILTER (tf{i} > 0) AS BIGINT) AS df{i}" for i in range(len(QUERY_TERMS)))}
  FROM tf
), cand AS ({cand}),
occ AS (
  SELECT d.doc_id, CAST(u.i AS BIGINT) AS pos, toks[u.i] AS term
  FROM (SELECT doc_id, {_TOKS_D} AS toks FROM documents
        SEMI JOIN cand USING (doc_id)) d,
       unnest(range(1, len(toks) + 1)) u(i)
  WHERE toks[u.i] IN ({terms})
),
feats AS (
  SELECT o.doc_id,
         CAST(COUNT(DISTINCT o.term) AS BIGINT) AS n_terms_matched,
         CAST(MIN(p.gap) AS BIGINT) AS min_dist
  FROM occ o
  LEFT JOIN (
    SELECT a.doc_id, MIN(ABS(a.pos - b.pos)) AS gap
    FROM occ a JOIN occ b
      ON a.doc_id = b.doc_id AND a.term < b.term
    GROUP BY a.doc_id
  ) p USING (doc_id)
  GROUP BY o.doc_id
)
SELECT c.doc_id, c.rank_bm25, f.n_terms_matched, f.min_dist,
       CAST(ROW_NUMBER() OVER (
         ORDER BY f.n_terms_matched DESC,
                  COALESCE(f.min_dist, 1000000000),
                  c.rank_bm25) AS BIGINT) AS rerank_rank
FROM cand c JOIN feats f USING (doc_id)
ORDER BY rerank_rank
"""


@register(
    "search_rerank_proximity",
    oracle=_rerank_oracle(),
    doc="The RERANK stage of a retrieve-then-rerank stack: the BM25 "
    f"top-{TOP_K} candidates are re-scored by term-proximity features "
    "-- distinct query terms matched (more is better) and the minimum "
    "token-position gap between occurrences of DIFFERENT query terms "
    "(the MinDist proximity feature of Tao & Zhai 2007; smaller is "
    "better), with the first-stage rank as the tiebreak.  All features "
    "are exact integers; single-term docs sort after paired ones via "
    "a sentinel.  100 TB shape: position extraction runs ONLY on the "
    "candidate set (semi-join prune before the explode -- the corpus "
    "is never position-exploded), and the pairwise gap join is within "
    "doc over a handful of matched occurrences.  This is exactly how "
    "a cross-encoder rerank deploys: cheap first stage over "
    "everything, expensive features over k docs.",
    tags=("search", "rerank", "proximity"),
)
def search_rerank_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tf = docs.selectExpr(
        "doc_id",
        f"cast(size({_TOKS_S}) as bigint) as dl",
        *_tf_sql(spark_side=True),
    ).where(F.col("dl") > 0)
    stats = tf.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
        *[
            F.expr(f"count_if(tf{i} > 0)").alias(f"df{i}")
            for i in range(len(QUERY_TERMS))
        ],
    )
    cand = (
        tf.join(F.broadcast(stats))
        .select("doc_id", F.expr(_SCORE).alias("score"))
        .where(F.col("score") > 0)
        .withColumn(
            "rank_bm25",
            F.row_number()
            # global-window: BM25 ranking for ONE query, cut to TOP_K on the next line
            .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
            .cast("bigint"),
        )
        .where(F.col("rank_bm25") <= TOP_K)
        .select("doc_id", "rank_bm25")
    )
    # cand fans out to the occ semi-join AND the final join; occ fans out
    # to both self-join sides AND the feature aggregate -- persist both so
    # the BM25 chain / position explode run once, not per consumer.
    cand = track_persist(cand)
    terms_arr = ", ".join(f"'{t}'" for t in QUERY_TERMS)
    occ = track_persist(
        docs.join(F.broadcast(cand.select("doc_id")), "doc_id", "left_semi")
        .select("doc_id", F.posexplode(F.expr(_TOKS_S)).alias("p0", "term"))
        .where(F.expr(f"term in ({terms_arr})"))
        .select("doc_id", (F.col("p0") + 1).cast("bigint").alias("pos"), "term")
    )
    a = occ.alias("a")
    b = occ.alias("b")
    gaps = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_id"))
        .agg(F.min(F.abs(F.col("a.pos") - F.col("b.pos"))).alias("gap"))
    )
    feats = (
        occ.join(gaps, "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("term").cast("bigint").alias("n_terms_matched"),
            F.min("gap").cast("bigint").alias("min_dist"),
        )
    )
    return (
        cand.join(feats, "doc_id")
        .withColumn(
            "rerank_rank",
            F.row_number()
            .over(
                # global-window: rerank over the TOP_K-bounded candidate set
                Window.orderBy(
                    F.desc("n_terms_matched"),
                    F.coalesce(F.col("min_dist"), F.lit(1_000_000_000)),
                    F.asc("rank_bm25"),
                )
            )
            .cast("bigint"),
        )
        .select("doc_id", "rank_bm25", "n_terms_matched", "min_dist", "rerank_rank")
        .orderBy("rerank_rank")
    )


MMR_POOL = 20
MMR_K = 8


def _mmr_oracle() -> str:
    from ..functions.vectors import cosine_duckdb

    cos = cosine_duckdb("a.embedding", "b.embedding")
    tf_cols = ", ".join(_tf_sql(spark_side=False))
    df_cols = ", ".join(
        f"CAST(COUNT(*) FILTER (tf{i} > 0) AS BIGINT) AS df{i}"
        for i in range(len(QUERY_TERMS))
    )
    rounds = []
    for j in range(2, MMR_K + 1):
        prev = f"sel{j-1}"
        rounds.append(f"""
ms{j} AS (
  SELECT s.doc_a AS doc_id, MAX(s.sim) AS max_sim
  FROM sims s JOIN {prev} p ON s.doc_b = p.doc_id
  GROUP BY 1
),
pick{j} AS MATERIALIZED (
  SELECT {j} AS step, p.doc_id, (p.rel - m.max_sim) / 2e0 AS mmr
  FROM pool p JOIN ms{j} m ON m.doc_id = p.doc_id
  WHERE p.doc_id NOT IN (SELECT doc_id FROM {prev})
  ORDER BY mmr DESC, p.doc_id
  LIMIT 1
),
sel{j} AS MATERIALIZED (SELECT doc_id FROM {prev} UNION ALL SELECT doc_id FROM pick{j})""")
    picks = " UNION ALL ".join(
        f"SELECT step, doc_id, mmr FROM pick{j}" for j in range(1, MMR_K + 1)
    )
    return f"""
WITH tf AS (
  SELECT doc_id,
         CAST(len({_TOKS_D}) AS BIGINT) AS dl,
         {tf_cols}
  FROM documents
  WHERE len({_TOKS_D}) > 0
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
         {df_cols}
  FROM tf
), pool AS MATERIALIZED (
  SELECT doc_id,
         CAST({MMR_POOL + 1} - rank AS DOUBLE)
           / CAST({MMR_POOL} AS DOUBLE) AS rel
  FROM (
    SELECT t.doc_id,
           ROW_NUMBER() OVER (ORDER BY ({_SCORE}) DESC, t.doc_id) AS rank
    FROM tf t
    JOIN embeddings e ON e.vec_id = t.doc_id
    CROSS JOIN stats
  )
  WHERE rank <= {MMR_POOL}
), pe AS MATERIALIZED (
  -- restrict to the pool BEFORE the pair join: the inequality join below
  -- is a nested loop, and without this DuckDB runs it over the FULL
  -- embeddings table (measured 92.8s -> sub-second at sf0.01)
  SELECT p.doc_id, e.embedding
  FROM embeddings e JOIN pool p ON p.doc_id = e.vec_id
), sims AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {cos} AS sim
  FROM pe a JOIN pe b ON a.doc_id != b.doc_id
), pick1 AS MATERIALIZED (
  SELECT 1 AS step, doc_id, (rel - 0e0) / 2e0 AS mmr
  FROM pool ORDER BY rel DESC, doc_id LIMIT 1
), sel1 AS MATERIALIZED (SELECT doc_id FROM pick1),{",".join(rounds)}
SELECT * FROM ({picks})
"""


@register(
    "search_mmr_diversify",
    oracle=_mmr_oracle(),
    doc="Maximal Marginal Relevance diversification -- the retrieve-then-"
    f"diversify stage of the retrieval stack: a {MMR_POOL}-doc BM25 pool "
    "(ranked among docs that HAVE embeddings, so the pool is always "
    "full), exact pairwise cosines within the pool, then the greedy "
    f"MMR selection of {MMR_K} docs at lambda=1/2: each step takes "
    "argmax of (rel - max_sim_to_selected)/2 with doc_id tiebreak, "
    "where rel is the linear rank relevance (P+1-rank)/P -- rank-"
    "derived so it shares the cosine's [-1,1] scale and every double "
    "op has identical operands cross-engine.  The corpus-scale work "
    "(BM25 scan + stats, pool cosine pairs) is distributed; the greedy "
    "itself runs on the driver over the collected pool "
    f"({MMR_POOL} rel rows + {MMR_POOL * (MMR_POOL - 1)} sim rows -- "
    "k-bounded by construction, the FAISS-client re-rank shape).  The "
    "oracle unrolls the same greedy as a CTE chain.",
    tags=("text", "search", "similarity", "diversification"),
)
def search_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import cosine_spark

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    tf = docs.selectExpr(
        "doc_id",
        f"cast(size({_TOKS_S}) as bigint) as dl",
        *_tf_sql(spark_side=True),
    ).where(F.col("dl") > 0)
    stats = tf.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
        *[
            F.expr(f"count_if(tf{i} > 0)").alias(f"df{i}")
            for i in range(len(QUERY_TERMS))
        ],
    )
    from pyspark.sql import Window

    # Persisted: consumed twice (the rel collect and the pair-sim join) --
    # an unpersisted pool would re-run the BM25 scan per consumer.
    ranked = track_persist(
        tf.join(emb.select(F.col("vec_id").alias("doc_id")), "doc_id")
        .join(F.broadcast(stats))
        .select("doc_id", F.expr(_SCORE).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(MMR_POOL)
        .withColumn(
            "rank",
            # global-window: rank over the MMR_POOL-row retrieval pool (limit above)
            F.row_number().over(Window.orderBy(F.desc("score"), "doc_id")),
        )
        .select(
            "doc_id",
            (
                (F.lit(MMR_POOL + 1) - F.col("rank")).cast("double")
                / F.lit(MMR_POOL).cast("double")
            ).alias("rel"),
        )
    )
    pool = {r.doc_id: r.rel for r in ranked.collect()}  # MMR_POOL rows
    pe = emb.join(
        F.broadcast(
            ranked.select(F.col("doc_id").alias("vec_id")).distinct()
        ),
        "vec_id",
    ).select(F.col("vec_id").alias("doc_id"), "embedding")
    a = pe.selectExpr("doc_id AS doc_a", "embedding AS ea")
    b = pe.selectExpr("doc_id AS doc_b", "embedding AS eb")
    sim_rows = (
        a.join(F.broadcast(b), F.col("doc_a") != F.col("doc_b"))
        .select(
            "doc_a", "doc_b", F.expr(cosine_spark("ea", "eb")).alias("sim")
        )
        .collect()
    )  # MMR_POOL * (MMR_POOL - 1) rows
    sims = {(r.doc_a, r.doc_b): r.sim for r in sim_rows}
    selected: list[tuple[int, int, float]] = []
    chosen: list[int] = []
    # min() guard: a degenerate corpus can leave fewer than MMR_K docs in
    # the pool; the oracle's pick{j} LIMIT 1 over an empty candidate set
    # emits fewer rows, and the greedy must do the same, not crash.
    for step in range(1, min(MMR_K, len(pool)) + 1):
        best = None
        for d, rel in sorted(pool.items()):
            if d in chosen:
                continue
            max_sim = (
                max(sims[(d, s)] for s in chosen) if chosen else 0.0
            )
            mmr = (rel - max_sim) / 2.0
            if best is None or mmr > best[2]:
                best = (step, d, mmr)
        selected.append(best)
        chosen.append(best[1])
    return spark.createDataFrame(
        selected, "step bigint, doc_id bigint, mmr double"
    )


# --- Persisted inverted index (build once, serve many) ------------------------
# BM25 above is the SCAN-side retrieval shape (right for a fixed small query
# set); a serving deployment instead BUILDS the inverted index once and
# answers each query from the postings of its terms only.  The index is a
# parquet layout hash-partitioned into term shards, so a query touches
# |query terms| directories regardless of corpus size -- the same
# directory-pruning contract as the IVF cell layout.

_IDX_SHARDS = 8
_IDX_T1, _IDX_T2 = "merge", "spark"


def _term_shard_py(term: str) -> int:
    import hashlib

    return int(hashlib.md5(f"idx:{term}".encode()).hexdigest()[:15], 16) % (
        _IDX_SHARDS
    )


@register(
    "sink_inverted_index",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({tokens_duckdb('text')}) AS term FROM documents
),
d AS (
  SELECT term, doc_id FROM tok
  WHERE term IN ('{_IDX_T1}', '{_IDX_T2}')
  GROUP BY term, doc_id
),
t1 AS (SELECT doc_id FROM d WHERE term = '{_IDX_T1}'),
t2 AS (SELECT doc_id FROM d WHERE term = '{_IDX_T2}'),
inter AS (SELECT doc_id FROM t1 INTERSECT SELECT doc_id FROM t2)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM t1) AS df_t1,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM t2) AS df_t2,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM inter) AS n_docs_and,
       (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM inter)
         AS doc_id_checksum
""",
    doc="PERSISTED INVERTED INDEX: postings (term -> df + sorted doc-id "
    f"list) built in one explode+distinct+groupBy pass and written as "
    f"parquet hash-partitioned into {_IDX_SHARDS} term shards; a "
    f"two-term AND query ('{_IDX_T1}' AND '{_IDX_T2}') is then served "
    "from the WRITTEN layout -- the shard filter prunes directories, "
    "the term filter prunes row groups, and the answer is an "
    "array_intersect of two posting rows, never a corpus scan.  This "
    "is the build-once/serve-many counterpart to the scan-side BM25 "
    "plan: index build cost is one shuffle of (term, doc) pairs; each "
    "query costs |query terms| posting reads regardless of corpus "
    "size.  At 100 TB postings grow past single rows -- the same "
    "layout splits each term's list into fixed-size blocks (the "
    "doc-partitioned postings every search engine shards by) without "
    "changing the query shape.  Oracle recomputes the AND set "
    "directly from the documents table, so a lossy index write or "
    "wrong shard routing fails the value check.",
    tags=("sink", "search", "index", "pruning"),
)
def sink_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash64_sql_spark

    docs = load_table(spark, sf_dir, "documents")
    out = scratch_dir(sf_dir, "inverted_idx")
    postings = (
        docs.select(
            "doc_id", F.explode(F.expr(_TOKS_S)).alias("term")
        )
        .distinct()
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.sort_array(F.collect_list("doc_id")).alias("postings"),
        )
        .withColumn(
            "term_shard",
            F.expr(f"{hash64_sql_spark('term', 'idx:')} % {_IDX_SHARDS}")
            .cast("int"),
        )
    )
    (
        postings.repartition("term_shard")
        .write.mode("overwrite")
        .partitionBy("term_shard")
        .parquet(out)
    )
    shards = sorted({_term_shard_py(_IDX_T1), _term_shard_py(_IDX_T2)})
    back = spark.read.parquet(out).where(
        F.col("term_shard").isin(shards)
        & F.col("term").isin(_IDX_T1, _IDX_T2)
    )
    # One-row frames even when a term is absent from the corpus (aggregate
    # over zero rows still yields a row), so the shape matches the oracle.
    dfs = back.agg(
        F.coalesce(
            F.max(F.when(F.col("term") == _IDX_T1, F.col("df"))), F.lit(0)
        )
        .cast("bigint")
        .alias("df_t1"),
        F.coalesce(
            F.max(F.when(F.col("term") == _IDX_T2, F.col("df"))), F.lit(0)
        )
        .cast("bigint")
        .alias("df_t2"),
    )
    both = (
        back.select("term", F.explode("postings").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("nt"))
        .where(F.col("nt") == 2)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_and"),
            F.coalesce(F.sum("doc_id"), F.lit(0))
            .cast("bigint")
            .alias("doc_id_checksum"),
        )
    )
    return dfs.crossJoin(F.broadcast(both))
