"""End-to-end corpus-cleaning pipeline: the composition a training-data
run actually executes, as ONE declarative plan the driver value-checks.

Stages (documents -> clean corpus summary):
1. quality gate        -- deterministic quality score >= threshold
                          (same formula as text_quality_score).
2. exact dedup         -- keep only the min-doc_id representative of each
                          sorted-distinct-tokenset group (word-order
                          shuffles collapse).
3. near-dup clustering -- MinHash-LSH pairs -> connected components; only
                          cluster representatives survive.
4. summary             -- kept docs per (lang, source) with char totals.

Scale shape: stages 1-2 are scan + one groupBy; stage 3 touches only the
candidate-pair subgraph (tiny); the anti-joins broadcast the drop lists.
Nothing here is new machinery -- the point is that the composed pipeline
stays a single Catalyst plan with an exact cross-engine oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    stopword_count_duckdb,
    stopword_count_spark,
    tokens_duckdb,
    tokens_spark,
)
from ..operators.dedup import connected_components, minhash_lsh_pairs
from ..runtime import track_persist
from ..tables import load_table
from .queries_dedup import (
    MINHASH_BANDS,
    MINHASH_K,
    MINHASH_MAX_BUCKET,
    MINHASH_SHINGLE,
    MINHASH_THRESHOLD,
    _minhash_pairs_cte,
)
from .registry import register

QUALITY_THRESHOLD = 0.68

_TOKS_S = tokens_spark("text")
_TOKS_D = tokens_duckdb("text")

_QUALITY_S = (
    "0.5 * (cast(length(regexp_replace(text, '[^a-z]', '')) as double)"
    " / cast(length(text) as double))"
    f" + 0.3 * (1.0 - cast({stopword_count_spark(_TOKS_S)} as double)"
    f" / cast(size({_TOKS_S}) as double))"
    f" + 0.2 * least(1.0, cast(size({_TOKS_S}) as double) / 100.0)"
)

_QUALITY_D = (
    "0.5 * (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)"
    " / CAST(length(text) AS DOUBLE))"
    f" + 0.3 * (1.0 - CAST({stopword_count_duckdb(_TOKS_D)} AS DOUBLE)"
    f" / CAST(len({_TOKS_D}) AS DOUBLE))"
    f" + 0.2 * least(1.0, CAST(len({_TOKS_D}) AS DOUBLE) / 100.0)"
)


@register(
    "pipeline_clean_corpus",
    oracle="WITH RECURSIVE "
    + _minhash_pairs_cte()
    + f""",
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
reach AS (
  SELECT s AS node, s AS label FROM edges
  UNION
  SELECT e.d AS node, r.label FROM reach r JOIN edges e ON e.s = r.node
),
cluster_drop AS (
  SELECT node AS doc_id FROM reach GROUP BY node HAVING node <> MIN(label)
),
exact_keep AS (
  SELECT MIN(doc_id) AS doc_id
  FROM documents
  GROUP BY md5(array_to_string(list_sort(list_distinct({_TOKS_D})), ' '))
),
kept AS (
  SELECT d.doc_id, d.lang, d.source, d.n_chars
  FROM documents d
  JOIN exact_keep k ON k.doc_id = d.doc_id
  WHERE len({_TOKS_D}) > 0
    AND {_QUALITY_D} >= {QUALITY_THRESHOLD}
    AND d.doc_id NOT IN (SELECT doc_id FROM cluster_drop)
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM kept
GROUP BY 1, 2
""",
    doc="End-to-end corpus cleaning: quality gate >= 0.68 -> exact "
    "tokenset dedup (min-id representative) -> MinHash-LSH near-dup "
    "cluster drop (non-representatives removed) -> per-(lang, source) "
    "summary.  One composed Catalyst plan, exact recursive-CTE oracle.",
    tags=("pipeline", "dedup", "text", "quality", "composition"),
    bench=True,
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")

    quality_ok = docs.where(F.expr(f"size({_TOKS_S}) > 0")).where(
        F.expr(_QUALITY_S) >= QUALITY_THRESHOLD
    )

    exact_keep = (
        docs.groupBy(
            F.expr(
                f"md5(concat_ws(' ', array_sort(array_distinct({_TOKS_S}))))"
            ).alias("tokenset_hash")
        )
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )

    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id",
        n=MINHASH_SHINGLE, k=MINHASH_K, bands=MINHASH_BANDS,
        threshold=MINHASH_THRESHOLD,
        max_bucket=MINHASH_MAX_BUCKET,
    )
    cluster_drop = (
        connected_components(pairs)
        .where(F.col("doc_id") != F.col("cluster_rep"))
        .select("doc_id")
    )

    # exact_keep is corpus-sized (one row per distinct tokenset) -> regular
    # shuffle semi-join on doc_id; cluster_drop is only the near-dup subgraph
    # (tiny at any scale) -> broadcast anti-join.
    kept = (
        quality_ok.join(exact_keep, "doc_id", "left_semi")
        .join(F.broadcast(cluster_drop), "doc_id", "left_anti")
    )
    return kept.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


from .queries_text import (  # noqa: E402  (pipeline reuses the ops' knobs)
    DOMAIN_CAP as PRETRAIN_DOMAIN_CAP,
    LM_QUANT,
    LM_VOCAB_K,
    SHARD_TOKEN_BUDGET as PRETRAIN_SHARD_BUDGET,
)

LM_FLOOR = 0.0115  # char-bigram LM score floor (drops the bottom ~5%)


def _pretrain_oracle() -> str:
    from ..functions.hashing import hash64_sql_duckdb

    cap_h = hash64_sql_duckdb("CAST(doc_id AS VARCHAR)", salt="cap:")
    split_h = hash64_sql_duckdb("CAST(doc_id AS VARCHAR)", salt="split:")
    return f"""
WITH bg AS MATERIALIZED (
  SELECT doc_id,
         unnest(list_transform(range(1, len(text)::BIGINT),
                               i -> substr(text, i::INT, 2))) AS b
  FROM documents WHERE len(text) >= 2
),
cnt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY b),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cnt),
vocab AS (
  SELECT b,
         CAST(FLOOR({LM_QUANT} * (CAST(c AS DOUBLE) / CAST(t AS DOUBLE)))
              AS BIGINT) AS pq
  FROM cnt, tot ORDER BY c DESC, b LIMIT {LM_VOCAB_K}
),
lm AS (
  SELECT bg.doc_id,
         CAST(SUM(COALESCE(v.pq, 0)) AS BIGINT) AS score_q,
         COUNT(*) AS nb
  FROM bg LEFT JOIN vocab v USING (b) GROUP BY bg.doc_id
),
gated AS (
  SELECT d.doc_id, d.lang, d.source, d.text
  FROM documents d JOIN lm ON lm.doc_id = d.doc_id
  WHERE CAST(lm.score_q AS DOUBLE)
        / ({LM_QUANT} * CAST(lm.nb AS DOUBLE)) > {LM_FLOOR}
),
capped AS (
  SELECT doc_id, lang, source, text FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                 ORDER BY ({cap_h}), doc_id) AS rk
    FROM gated
  ) WHERE rk <= {PRETRAIN_DOMAIN_CAP}
),
deduped AS (
  SELECT doc_id, lang, text FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY md5(array_to_string(list_sort(list_distinct({_TOKS_D})), ' '))
      ORDER BY doc_id) AS dn
    FROM capped
  ) WHERE dn = 1
),
assigned AS (
  SELECT doc_id, lang,
         CAST(len({_TOKS_D}) AS BIGINT) AS n_tokens,
         CASE WHEN ({split_h}) % 100 < 98 THEN 'train'
              WHEN ({split_h}) % 100 = 98 THEN 'valid'
              ELSE 'test' END AS split
  FROM deduped
),
packed AS (
  SELECT split, lang, doc_id, n_tokens,
         CASE WHEN split = 'train'
              THEN CAST(FLOOR((SUM(n_tokens) OVER (
                     PARTITION BY split, lang ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) - n_tokens)
                   / {PRETRAIN_SHARD_BUDGET}.0) AS BIGINT)
              ELSE -1 END AS shard
  FROM assigned
)
SELECT split, lang, shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM packed
GROUP BY split, lang, shard
"""


@register(
    "pipeline_pretrain_corpus",
    oracle=_pretrain_oracle(),
    doc="Pretraining-corpus materialization pipeline, composed as one plan: "
    "corpus-trained char-bigram LM quality gate (drops improbable text) "
    "-> per-domain cap (hash-ranked, same salt as sample_domain_cap, so "
    "the standalone op and the pipeline agree doc-for-doc) -> exact "
    "tokenset dedup (lowest-id representative) -> deterministic 98/1/1 "
    "split (same salt as split_train_valid_test -- the eval set never "
    "leaks when the pipeline is re-run) -> token-budget shard packing of "
    "the train split.  Emits the shard manifest with id checksums "
    "pinning every per-doc decision.  Everything after the k-bounded LM "
    "vocabulary collect is one Catalyst plan: a scan, three window "
    "passes, and the final rollup.",
    tags=("pipeline", "text", "lm", "dedup", "sampling"),
    bench=True,
)
def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.hashing import hash64_sql_spark
    from .queries_text import bigram_lm_scores

    docs = load_table(spark, sf_dir, "documents")
    lm = bigram_lm_scores(spark, sf_dir).select("doc_id", "lm_score")
    gated = docs.join(lm, "doc_id").where(F.col("lm_score") > LM_FLOOR)
    cap_h = hash64_sql_spark("cast(doc_id as string)", salt="cap:")
    capped = (
        gated.withColumn("rk_h", F.expr(cap_h))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("source").orderBy("rk_h", "doc_id")
            ),
        )
        .where(F.col("rk") <= PRETRAIN_DOMAIN_CAP)
    )
    th = F.expr(
        f"md5(concat_ws(' ', array_sort(array_distinct({_TOKS_S}))))"
    )
    deduped = (
        capped.withColumn("th", th)
        .withColumn(
            "dn",
            F.row_number().over(Window.partitionBy("th").orderBy("doc_id")),
        )
        .where(F.col("dn") == 1)
    )
    split_h = hash64_sql_spark("cast(doc_id as string)", salt="split:")
    assigned = deduped.select(
        "doc_id",
        "lang",
        F.expr(f"cast(size({_TOKS_S}) as bigint)").alias("n_tokens"),
        F.expr(
            f"case when ({split_h}) % 100 < 98 then 'train'"
            f" when ({split_h}) % 100 = 98 then 'valid' else 'test' end"
        ).alias("split"),
    )
    cum = Window.partitionBy("split", "lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    packed = assigned.withColumn(
        "shard",
        F.when(
            F.col("split") == "train",
            F.floor(
                (F.sum("n_tokens").over(cum) - F.col("n_tokens"))
                / F.lit(PRETRAIN_SHARD_BUDGET)
            ).cast("bigint"),
        ).otherwise(F.lit(-1).cast("bigint")),
    )
    return packed.groupBy("split", "lang", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


def _contamination_sweep_oracle() -> str:
    from ..functions.hashing import hash64_sql_duckdb
    from ..functions.text import shingles_duckdb
    from .queries_dedup import SUBSTR_L
    from .queries_text import (
        DECON_BENCH_PCT,
        DECON_DF_CAP,
        DECON_MIN_SHARED,
        DECON_N,
    )

    toks = tokens_duckdb("text")
    grams4 = shingles_duckdb(toks, DECON_N)
    is_bench = (
        f"({hash64_sql_duckdb('CAST(doc_id AS VARCHAR)', salt='bench:')})"
        f" % 100 < {DECON_BENCH_PCT}"
    )
    L = SUBSTR_L
    gh = hash64_sql_duckdb(f"substr(text, CAST(pos AS INT), {L})")
    prev_max = (
        f"MAX(pos + {L} - 1) OVER (PARTITION BY doc_id ORDER BY pos "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    return f"""
WITH train0 AS MATERIALIZED (
  SELECT doc_id, text FROM documents WHERE NOT ({is_bench})
),
s1 AS MATERIALIZED (
  SELECT doc_id, text,
         ROW_NUMBER() OVER (
           PARTITION BY md5(array_to_string(
             list_sort(list_distinct({toks})), ' '))
           ORDER BY doc_id) AS dn
  FROM train0
),
dup_docs AS (SELECT doc_id, text FROM s1 WHERE dn > 1),
surv1 AS MATERIALIZED (SELECT doc_id, text FROM s1 WHERE dn = 1),
bench_grams AS (
  SELECT doc_id AS bench_doc, unnest({grams4}) AS g
  FROM documents WHERE ({is_bench})
),
capped AS (
  SELECT bench_doc, g FROM bench_grams
  WHERE g NOT IN (
    SELECT g FROM bench_grams GROUP BY g HAVING COUNT(*) > {DECON_DF_CAP}
  )
),
train_g AS (
  SELECT doc_id, unnest({grams4}) AS g FROM surv1
),
cont AS MATERIALIZED (
  SELECT DISTINCT doc_id FROM (
    SELECT t.doc_id, c.bench_doc FROM train_g t JOIN capped c ON c.g = t.g
    GROUP BY t.doc_id, c.bench_doc
    HAVING COUNT(*) >= {DECON_MIN_SHARED}
  )
),
surv2 AS MATERIALIZED (
  SELECT s.doc_id, s.text, length(s.text) AS n_chars
  FROM surv1 s ANTI JOIN cont c ON s.doc_id = c.doc_id
),
pos_ AS (
  SELECT doc_id, text,
         CAST(unnest(range(1, n_chars - {L} + 2)) AS BIGINT) AS pos
  FROM surv2 WHERE n_chars >= {L}
),
grams_s AS (SELECT doc_id, pos, {gh} AS gh FROM pos_),
dupg AS (
  SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM grams_s)
  GROUP BY gh HAVING COUNT(*) >= 2
),
hits AS (
  SELECT g.doc_id, g.pos FROM grams_s g SEMI JOIN dupg d ON g.gh = d.gh
),
marked AS (
  SELECT doc_id, pos,
         CASE WHEN {prev_max} IS NULL OR pos > {prev_max} + 1
              THEN 1 ELSE 0 END AS new_island
  FROM hits
),
islands AS (
  SELECT doc_id, pos,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
  FROM marked
),
spans AS (
  SELECT doc_id, island_id, MIN(pos) AS s, MAX(pos) + {L} - 1 AS e
  FROM islands GROUP BY 1, 2
),
perdoc AS MATERIALIZED (
  SELECT doc_id, CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars
  FROM spans GROUP BY doc_id
)
SELECT 'dropped_dup' AS outcome,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS id_checksum,
       CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) AS chars_removed
FROM dup_docs
UNION ALL
SELECT 'dropped_contaminated',
       CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(s.doc_id), 0) AS BIGINT),
       CAST(COALESCE(SUM(length(s.text)), 0) AS BIGINT)
FROM surv1 s SEMI JOIN cont c ON s.doc_id = c.doc_id
UNION ALL
SELECT 'cleaned',
       CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(doc_id), 0) AS BIGINT),
       CAST(COALESCE(SUM(dup_chars), 0) AS BIGINT)
FROM perdoc
UNION ALL
SELECT 'clean',
       CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(s.doc_id), 0) AS BIGINT),
       CAST(0 AS BIGINT)
FROM surv2 s ANTI JOIN perdoc p ON s.doc_id = p.doc_id
"""


@register(
    "pipeline_contamination_sweep",
    oracle=_contamination_sweep_oracle(),
    doc="Composed CONTAMINATION pipeline -- the fourth flagship "
    "composition (near-dup, quality/pretrain and multimodal curation "
    "being the others), the release-hygiene sweep run before any "
    "corpus ships: the hash-held-out benchmark slice is excluded, then "
    "(1) exact tokenset duplicates drop (lowest-id representative "
    "kept), (2) survivors sharing >= 2 rare 4-gram shingles with ANY "
    "benchmark doc drop (the text_decontaminate gate, broadcast "
    "DF-capped bench index), (3) survivors with cross-document "
    "duplicated substrings (>= 40-char spans among the survivors "
    "themselves) are span-CLEANED (dedup_substring_exact's census).  "
    "Emits the four-outcome disposition ledger -- docs, id checksums "
    "pinning every per-doc decision, and chars removed (whole docs "
    "for drops, merged spans for cleans).  Each stage is an "
    "already-verified operator; the composition is sequential-"
    "dependent (span census runs on post-drop survivors only) and "
    "still one Catalyst plan per stage family with broadcast drop "
    "lists -- the clean-corpus pattern applied to contamination.",
    tags=("pipeline", "dedup", "decontamination", "substring"),
)
def pipeline_contamination_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.hashing import hash64_sql_spark
    from ..functions.text import shingles_spark
    from ..operators.dedup import substring_dup_spans
    from .queries_dedup import SUBSTR_L
    from .queries_text import (
        DECON_BENCH_PCT,
        DECON_DF_CAP,
        DECON_MIN_SHARED,
        DECON_N,
    )

    toks = tokens_spark("text")
    docs = load_table(spark, sf_dir, "documents")
    is_bench = (
        f"({hash64_sql_spark('cast(doc_id as string)', salt='bench:')})"
        f" % 100 < {DECON_BENCH_PCT}"
    )
    train0 = docs.where(~F.expr(is_bench)).select("doc_id", "text")
    th = F.expr(f"md5(concat_ws(' ', array_sort(array_distinct({toks}))))")
    s1 = train0.withColumn("th", th).withColumn(
        "dn", F.row_number().over(Window.partitionBy("th").orderBy("doc_id"))
    )
    dup_docs = s1.where(F.col("dn") > 1).select("doc_id", "text")
    surv1 = track_persist(s1.where(F.col("dn") == 1).select("doc_id", "text"))
    grams4 = shingles_spark(toks, DECON_N)
    bench_grams = (
        docs.where(F.expr(is_bench))
        .select(F.col("doc_id").alias("bench_doc"), F.explode(F.expr(grams4)).alias("g"))
    )
    hot = (
        bench_grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > DECON_DF_CAP)
        .select("g")
    )
    capped = bench_grams.join(hot, "g", "left_anti")
    train_g = surv1.select("doc_id", F.explode(F.expr(grams4)).alias("g"))
    cont = track_persist(
        train_g.join(F.broadcast(capped), "g")
        .groupBy("doc_id", "bench_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= DECON_MIN_SHARED)
        .select("doc_id")
        .distinct()
    )
    dropped_cont = surv1.join(F.broadcast(cont), "doc_id", "left_semi")
    surv2 = track_persist(
        surv1.join(F.broadcast(cont), "doc_id", "left_anti")
    )
    perdoc = track_persist(
        substring_dup_spans(surv2, "text", "doc_id", anchor_len=SUBSTR_L)
        .select("doc_id", "dup_chars")
    )

    def ledger(df: DataFrame, outcome: str, chars_col) -> DataFrame:
        return df.agg(
            F.lit(outcome).alias("outcome"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("doc_id"), F.lit(0)).cast("bigint").alias(
                "id_checksum"
            ),
            F.coalesce(F.sum(chars_col), F.lit(0)).cast("bigint").alias(
                "chars_removed"
            ),
        ).select("outcome", "n_docs", "id_checksum", "chars_removed")

    clean = surv2.join(perdoc, "doc_id", "left_anti")
    return (
        ledger(dup_docs, "dropped_dup", F.length("text"))
        .unionByName(ledger(dropped_cont, "dropped_contaminated", F.length("text")))
        .unionByName(ledger(perdoc, "cleaned", F.col("dup_chars")))
        .unionByName(ledger(clean, "clean", F.lit(0)))
    )


RAG_CHUNK_W = 16
RAG_CHUNK_STRIDE = 12
RAG_CHUNK_MIN = 8
RAG_N_CELLS = 16
RAG_DIM = 64


def _rag_ingest_oracle() -> str:
    from ..functions.vectors import dot_duckdb
    from .queries_similarity import _centroids_duckdb_literal

    w, s = RAG_CHUNK_W, RAG_CHUNK_STRIDE
    cents = _centroids_duckdb_literal()
    return f"""
WITH t AS (
  SELECT doc_id, {_TOKS_D} AS toks, len({_TOKS_D}) AS n FROM documents
),
sized AS (
  SELECT doc_id, toks, n,
         CASE WHEN n <= {w} THEN 1
              ELSE 1 + (n - {w} + {s} - 1) // {s} END AS n_chunks
  FROM t WHERE n > 0
),
chunks AS (
  SELECT doc_id,
         CAST(i AS BIGINT) AS chunk_idx,
         CAST(LEAST({w}, n - i * {s}) AS BIGINT) AS n_tok,
         array_to_string(list_slice(toks, i * {s} + 1, i * {s} + {w}), ' ')
           AS chunk_text
  FROM (SELECT doc_id, toks, n, unnest(range(n_chunks)) AS i FROM sized)
),
q AS (SELECT * FROM chunks WHERE n_tok >= {RAG_CHUNK_MIN}),
short AS (SELECT * FROM chunks WHERE n_tok < {RAG_CHUNK_MIN}),
dd AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(chunk_text)
                               ORDER BY doc_id, chunk_idx) AS rn
  FROM q
),
kept AS (SELECT doc_id, chunk_idx FROM dd WHERE rn = 1),
dup AS (SELECT doc_id, chunk_idx FROM dd WHERE rn > 1),
withemb AS (
  SELECT k.doc_id, k.chunk_idx FROM kept k
  JOIN embeddings e ON e.vec_id = k.doc_id
),
noemb AS (
  SELECT k.doc_id, k.chunk_idx FROM kept k
  ANTI JOIN embeddings e ON e.vec_id = k.doc_id
),
cellr AS (
  SELECT e.vec_id, t.i AS cell,
         {dot_duckdb("e.embedding", f"({cents})[t.i + 1]")} AS d
  FROM embeddings e
  JOIN (SELECT DISTINCT doc_id FROM withemb) kd ON kd.doc_id = e.vec_id
  CROSS JOIN range({RAG_N_CELLS}) t(i)
),
cells AS (
  SELECT vec_id AS doc_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn
    FROM cellr
  ) WHERE rn = 1
),
indexed AS (SELECT w.doc_id, w.chunk_idx, c.cell
            FROM withemb w JOIN cells c USING (doc_id))
SELECT CAST(cell AS BIGINT) AS cell,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM(doc_id * 1000 + chunk_idx), 0) AS BIGINT)
         AS id_checksum
FROM indexed GROUP BY cell
UNION ALL
SELECT -1, CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT doc_id) AS BIGINT),
       CAST(COALESCE(SUM(doc_id * 1000 + chunk_idx), 0) AS BIGINT) FROM short
UNION ALL
SELECT -2, CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT doc_id) AS BIGINT),
       CAST(COALESCE(SUM(doc_id * 1000 + chunk_idx), 0) AS BIGINT) FROM dup
UNION ALL
SELECT -3, CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT doc_id) AS BIGINT),
       CAST(COALESCE(SUM(doc_id * 1000 + chunk_idx), 0) AS BIGINT) FROM noemb
"""


@register(
    "pipeline_rag_ingest",
    oracle=_rag_ingest_oracle(),
    doc="Composed RAG-INGEST pipeline -- the fifth flagship composition: "
    f"stride chunking ({RAG_CHUNK_W}-token windows every "
    f"{RAG_CHUNK_STRIDE}), a quality gate dropping sub-"
    f"{RAG_CHUNK_MIN}-token slivers, corpus-wide exact chunk dedup "
    "(md5 of chunk text, first (doc_id, chunk_idx) kept), parent-doc "
    "embedding attach (chunks of unembedded docs -> the no-embed "
    "bucket), and IVF cell assignment (the same deterministic "
    "centroids as the ANN family -- the index the search queries "
    "serve from).  Emits per-cell index stats plus the three dropped "
    "buckets (-1 short / -2 dup / -3 no-embed), id-checksummed so "
    "every per-chunk disposition is pinned.  Every stage reuses an "
    "already-verified operator shape; cell assignment runs per DOC "
    "(chunks inherit the parent embedding) so the argmax scan is "
    "|docs|-bounded, not |chunks|-bounded.",
    tags=("pipeline", "chunking", "dedup", "similarity", "ivf"),
)
def pipeline_rag_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.similarity import ivf_assign

    w, s = RAG_CHUNK_W, RAG_CHUNK_STRIDE
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    t = docs.select(
        "doc_id",
        F.expr(_TOKS_S).alias("toks"),
        F.expr(f"size({_TOKS_S})").alias("n"),
    ).where(F.col("n") > 0)
    sized = t.withColumn(
        "n_chunks",
        F.expr(
            f"case when n <= {w} then 1"
            f" else 1 + cast((n - {w} + {s} - 1) / {s} as int) end"
        ),
    )
    chunks = sized.select(
        "doc_id",
        F.explode(F.expr("sequence(0, n_chunks - 1)")).alias("i"),
        "toks",
        "n",
    ).select(
        "doc_id",
        F.col("i").cast("bigint").alias("chunk_idx"),
        F.expr(f"cast(least({w}, n - i * {s}) as bigint)").alias("n_tok"),
        F.expr(f"array_join(slice(toks, i * {s} + 1, {w}), ' ')").alias(
            "chunk_text"
        ),
    )
    # Hash-partitioned on doc_id before the persist, each document's
    # chunks together: one stage fewer than an unkeyed persist.
    chunks = track_persist(chunks.repartition("doc_id"))
    q = chunks.where(F.col("n_tok") >= RAG_CHUNK_MIN)
    short = chunks.where(F.col("n_tok") < RAG_CHUNK_MIN)
    wd = Window.partitionBy(F.md5("chunk_text")).orderBy("doc_id", "chunk_idx")
    dd = track_persist(q.withColumn("rn", F.row_number().over(wd)))
    kept = dd.where(F.col("rn") == 1).select("doc_id", "chunk_idx")
    dup = dd.where(F.col("rn") > 1).select("doc_id", "chunk_idx")
    emb_ids = emb.select(F.col("vec_id").alias("doc_id"))
    kept = track_persist(kept)
    withemb = kept.join(F.broadcast(emb_ids), "doc_id", "left_semi")
    noemb = kept.join(F.broadcast(emb_ids), "doc_id", "left_anti")
    kept_docs = withemb.select("doc_id").distinct()
    cells = ivf_assign(
        emb.join(
            F.broadcast(kept_docs.withColumnRenamed("doc_id", "vec_id")),
            "vec_id",
            "left_semi",
        ),
        "embedding",
        "vec_id",
        n_cells=RAG_N_CELLS,
        dim=RAG_DIM,
    ).withColumnRenamed("vec_id", "doc_id")
    indexed = withemb.join(cells, "doc_id")

    def bucket(df: DataFrame, cell_id: int) -> DataFrame:
        return df.agg(
            F.lit(cell_id).cast("bigint").alias("cell"),
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.coalesce(
                F.sum(F.col("doc_id") * 1000 + F.col("chunk_idx")), F.lit(0)
            )
            .cast("bigint")
            .alias("id_checksum"),
        ).select("cell", "n_chunks", "n_docs", "id_checksum")

    percell = indexed.groupBy(F.col("cell").cast("bigint").alias("cell")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.sum(F.col("doc_id") * 1000 + F.col("chunk_idx"))
        .cast("bigint")
        .alias("id_checksum"),
    )
    return (
        percell.unionByName(bucket(short, -1))
        .unionByName(bucket(dup, -2))
        .unionByName(bucket(noemb, -3))
    )
