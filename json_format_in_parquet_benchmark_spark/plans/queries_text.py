"""Text-analysis queries over the ``documents`` corpus.

Training-data-pipeline text operators (BASELINE.json north star): per-doc
statistics, quality scoring, language-ID heuristic, BPE-ish token counting,
and shingle fingerprinting.  All pure built-ins; every query has an exact
DuckDB oracle (the heuristics are deterministic arithmetic, and both engines
evaluate the same expression shapes, so even the doubles are bit-identical).

At 100 TB these are embarrassingly parallel single-pass map operations --
no shuffle at all except the optional per-group rollups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import hash64_sql_duckdb
from ..functions.windows import (
    pack_shard_duck,
    pack_shards_two_phase,
    rank_cut_duck,
    rank_cut_spark,
)
from ..functions.text import (
    BPE_TOKEN_RE,
    shingles_duckdb,
    shingles_spark,
    stopword_count_duckdb,
    stopword_count_spark,
    tokens_duckdb,
    tokens_spark,
)
from ..runtime import track_persist
from ..tables import load_table
from .registry import register

_TOKS_S = tokens_spark("text")
_TOKS_D = tokens_duckdb("text")

# (language, marker substrings) -- deterministic heuristic marker sets.
LANG_MARKERS = (
    ("en", (" the ", " and ")),
    ("es", (" el ", " la ")),
    ("fr", (" le ", " et ")),
    ("de", (" der ", " und ")),
    ("zh", (" zh ", " shi ")),
)


@register(
    "text_stats",
    oracle=f"""
SELECT doc_id,
       CAST(len({_TOKS_D}) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct({_TOKS_D})) AS BIGINT) AS n_distinct_tokens,
       CAST(list_sum(list_transform({_TOKS_D}, x -> len(x))) AS DOUBLE)
         / CAST(len({_TOKS_D}) AS DOUBLE) AS avg_token_len,
       CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
         / CAST(length(text) AS DOUBLE) AS alpha_ratio,
       CAST({stopword_count_duckdb(_TOKS_D)} AS DOUBLE)
         / CAST(len({_TOKS_D}) AS DOUBLE) AS stop_ratio
FROM documents
WHERE len({_TOKS_D}) > 0
""",
    doc="Per-document token statistics (token count, distinct tokens, average "
    "token length, alphabetic ratio, stopword ratio).",
    tags=("text",),
    bench=True,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(f"cast(size({_TOKS_S}) as bigint)").alias("n_tokens"),
        F.expr(f"cast(size(array_distinct({_TOKS_S})) as bigint)").alias(
            "n_distinct_tokens"
        ),
        F.expr(
            f"cast(aggregate(transform({_TOKS_S}, x -> length(x)), 0,"
            f" (acc, x) -> acc + x) as double)"
            f" / cast(size({_TOKS_S}) as double)"
        ).alias("avg_token_len"),
        F.expr(
            "cast(length(regexp_replace(text, '[^a-z]', '')) as double)"
            " / cast(length(text) as double)"
        ).alias("alpha_ratio"),
        F.expr(
            f"cast({stopword_count_spark(_TOKS_S)} as double)"
            f" / cast(size({_TOKS_S}) as double)"
        ).alias("stop_ratio"),
    ).where(F.expr(f"size({_TOKS_S}) > 0"))


@register(
    "text_quality_score",
    oracle=f"""
WITH s AS (
  SELECT doc_id,
         CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
           / CAST(length(text) AS DOUBLE) AS alpha_ratio,
         CAST({stopword_count_duckdb(_TOKS_D)} AS DOUBLE)
           / CAST(len({_TOKS_D}) AS DOUBLE) AS stop_ratio,
         CAST(len({_TOKS_D}) AS DOUBLE) AS n_tokens
  FROM documents WHERE len({_TOKS_D}) > 0
)
SELECT doc_id,
       0.5 * alpha_ratio + 0.3 * (1.0 - stop_ratio)
         + 0.2 * least(1.0, n_tokens / 100.0) AS quality
FROM s
""",
    doc="Deterministic document quality score: weighted mix of alphabetic "
    "ratio, stopword ratio and length saturation.",
    tags=("text", "quality"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id",
        F.expr(
            "cast(length(regexp_replace(text, '[^a-z]', '')) as double)"
            " / cast(length(text) as double)"
        ).alias("alpha_ratio"),
        F.expr(
            f"cast({stopword_count_spark(_TOKS_S)} as double)"
            f" / cast(size({_TOKS_S}) as double)"
        ).alias("stop_ratio"),
        F.expr(f"cast(size({_TOKS_S}) as double)").alias("n_tokens"),
    ).where(F.expr(f"size({_TOKS_S}) > 0"))
    return s.select(
        "doc_id",
        (
            F.lit(0.5) * F.col("alpha_ratio")
            + F.lit(0.3) * (F.lit(1.0) - F.col("stop_ratio"))
            + F.lit(0.2) * F.least(F.lit(1.0), F.col("n_tokens") / F.lit(100.0))
        ).alias("quality"),
    )


def _marker_score_sql(marker: str, spark_side: bool) -> str:
    # occurrence count of a literal substring, via length difference
    esc = marker.replace("'", "''")
    ln = "length" if spark_side else "length"
    return (
        f"({ln}(text) - {ln}(replace(text, '{esc}', ''))) / {len(marker)}"
    )


def _lang_predict_sql(spark_side: bool) -> str:
    scores = {
        lang: " + ".join(_marker_score_sql(m, spark_side) for m in markers)
        for lang, markers in LANG_MARKERS
    }
    all_scores = list(scores.items())
    greatest = ", ".join(s for _, s in all_scores)
    cases = " ".join(
        f"WHEN ({s}) >= greatest({greatest}) THEN '{lang}'" for lang, s in all_scores
    )
    return f"CASE {cases} ELSE 'unk' END"


@register(
    "text_lang_id",
    oracle=f"""
SELECT doc_id, lang,
       {_lang_predict_sql(False)} AS predicted,
       CAST(lang = {_lang_predict_sql(False)} AS INT) AS correct
FROM documents
""",
    doc="Language-ID heuristic: marker-substring scoring with a fixed "
    "priority argmax; emitted per-doc against the labeled lang column.",
    tags=("text", "langid"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pred = _lang_predict_sql(True)
    return docs.select(
        "doc_id",
        "lang",
        F.expr(pred).alias("predicted"),
        F.expr(f"cast(lang = {pred} as int)").alias("correct"),
    )


@register(
    "text_token_count_bpe",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS BIGINT) AS n_bpe_tokens,
       CAST(len({_TOKS_D}) AS BIGINT) AS n_ws_tokens
FROM documents
""",
    doc="Token counting: whitespace tokens vs a BPE-ish regex tokenizer "
    "(letter runs / digit runs / single marks).",
    tags=("text", "tokenize"),
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(f"cast(regexp_count(text, '{BPE_TOKEN_RE}') as bigint)").alias(
            "n_bpe_tokens"
        ),
        F.expr(f"cast(size({_TOKS_S}) as bigint)").alias("n_ws_tokens"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
WITH sh AS (
  SELECT doc_id,
         list_transform(range(1, len({_TOKS_D}) - 1),
                        i -> md5({_TOKS_D}[i] || ' ' || {_TOKS_D}[i+1] || ' ' || {_TOKS_D}[i+2]))
           AS hs
  FROM documents
  WHERE len({_TOKS_D}) >= 3
)
SELECT doc_id,
       CAST(len(hs) AS BIGINT) AS n_shingles,
       list_min(hs) AS fp_min,
       list_max(hs) AS fp_max
FROM sh
""",
    doc="Document fingerprinting: hashed 3-word shingles, min/max sketch "
    "(the winnowing primitive -- at scale keep the k smallest per doc).",
    tags=("text", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hs = (
        f"transform(sequence(1, size({_TOKS_S}) - 2),"
        f" i -> md5(concat_ws(' ', slice({_TOKS_S}, i, 3))))"
    )
    return (
        docs.where(F.expr(f"size({_TOKS_S}) >= 3"))
        .select(
            "doc_id",
            F.expr(f"cast(size({hs}) as bigint)").alias("n_shingles"),
            F.expr(f"array_min({hs})").alias("fp_min"),
            F.expr(f"array_max({hs})").alias("fp_max"),
        )
    )


@register(
    "text_top_terms_per_lang",
    oracle=f"""
WITH tok AS (
  SELECT lang, unnest({_TOKS_D}) AS term FROM documents
),
counted AS (
  SELECT lang, term, COUNT(*) AS n
  FROM tok
  WHERE NOT list_contains(['the','and','of','a','to','in'], term)
  GROUP BY 1, 2
),
ranked AS (
  SELECT lang, term, n,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, term) AS INT) AS rank
  FROM counted
)
SELECT * FROM ranked WHERE rank <= 5
""",
    doc="Top-5 non-stopword terms per language: explode -> partial-agg "
    "count -> per-group window rank (the term-frequency building block of "
    "corpus analytics; one shuffle on (lang, term), one on lang).",
    tags=("text", "topk", "window"),
)
def text_top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.text import STOPWORDS

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(F.expr(_TOKS_S)).alias("term"))
    counted = (
        tok.where(~F.col("term").isin(*STOPWORDS))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("term"))
    return (
        counted.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 5)
    )


# --- Training-data pipeline staples: redact / split / shard ----------------

# Email-shaped PII pattern, restricted to regex constructs with identical
# semantics in Java regex (Spark) and RE2 (DuckDB): literal classes,
# quantifiers, no backrefs/lookaround.  DuckDB's regexp_replace is
# first-match-only unless the 'g' option is passed; Spark's is global.
PII_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"


@register(
    "text_pii_redact",
    oracle=f"""
WITH injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or u' || CAST(doc_id AS VARCHAR)
                   || '@mail.test now'
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS BIGINT)
         AS n_redacted,
       md5(regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'))
         AS redacted_md5
FROM injected
""",
    doc="PII redaction over the documents corpus: the synthetic corpus is "
    "clean, so email-shaped PII is first INJECTED deterministically into "
    "every 10th doc, then counted (regexp_count) and stripped "
    "(regexp_replace) -- the redacted text is md5'd so the oracle verifies "
    "byte-exact redaction output, proving the Java-regex/RE2 pattern "
    "subset behaves identically.  Single-pass map, no shuffle.",
    tags=("text", "pipeline"),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.expr(
            "case when doc_id % 10 = 0 "
            "then concat(text, ' contact user', cast(doc_id as string),"
            " '@example.com or u', cast(doc_id as string), '@mail.test now')"
            " else text end"
        ).alias("text"),
    )
    # Python-API regexp functions, NOT F.expr: a Spark SQL string literal
    # consumes backslash escapes, so '\.' inside an expr string silently
    # becomes the any-char '.' and the pattern over-matches.
    return injected.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(PII_EMAIL_RE))
        .cast("bigint")
        .alias("n_redacted"),
        F.md5(F.regexp_replace(F.col("text"), PII_EMAIL_RE, "<EMAIL>")).alias(
            "redacted_md5"
        ),
    )


@register(
    "split_train_valid_test",
    oracle="""
WITH assigned AS (
  SELECT *,
         CASE WHEN b < 98 THEN 'train' WHEN b = 98 THEN 'valid' ELSE 'test'
         END AS split
  FROM (
    SELECT doc_id, n_chars,
           ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             % 100 AS b
    FROM documents
  )
)
SELECT split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(b) AS BIGINT) AS bucket_checksum
FROM assigned
GROUP BY split
""",
    doc="Deterministic train/valid/test split (98/1/1) by portable hash of "
    "the document id: membership is a pure function of the id, so the "
    "split is stable under re-runs, appends, and any partitioning -- the "
    "property a training pipeline needs so the eval set never leaks into "
    "training when the corpus is rebuilt.  The checksum over hash buckets "
    "verifies the exact assignment cross-engine, not just the sizes.",
    tags=("text", "pipeline", "sampling"),
)
def split_train_valid_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash64_sql_spark

    docs = load_table(spark, sf_dir, "documents")
    h = hash64_sql_spark("cast(doc_id as string)", salt="split:")
    assigned = docs.select(
        "doc_id",
        "n_chars",
        F.expr(f"{h} % 100").alias("b"),
    ).withColumn(
        "split",
        F.expr(
            "case when b < 98 then 'train' when b = 98 then 'valid'"
            " else 'test' end"
        ),
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("b").alias("bucket_checksum"),
    )


SHARD_TOKEN_BUDGET = 2000


@register(
    "pack_token_shards",
    oracle=f"""
WITH sized AS (
  SELECT lang, doc_id, CAST(len({_TOKS_D}) AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT lang, doc_id, n_tokens,
         {pack_shard_duck("lang", "doc_id", "n_tokens", SHARD_TOKEN_BUDGET)}
           AS shard
  FROM sized
)
SELECT lang, shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM packed
GROUP BY lang, shard
""",
    doc="Token-budget shard packing: within each language, documents are "
    "packed in doc_id order into ~2000-token shards by cumulative token "
    "count (shard = floor(preceding-tokens / budget)) -- the standard "
    "deterministic chunking of a corpus into training shards.  The plan "
    "is the TWO-PHASE prefix sum (functions/windows.py:"
    "pack_shards_two_phase): a lang-partitioned window would put each "
    "language on ONE reducer (5 languages -> 5 tasks at 100 TB), so the "
    "cumsum decomposes into many small per-(lang, doc_id-range) windows "
    "plus a bucket-offset window over n_buckets rows -- same shard ids "
    "bit for bit (exact BIGINT prefix arithmetic), checked against the "
    "single-window oracle.",
    tags=("text", "pipeline", "window"),
)
def pack_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "lang",
        "doc_id",
        F.expr(f"cast(size({_TOKS_S}) as bigint)").alias("n_tokens"),
    )
    packed = pack_shards_two_phase(
        sized, "lang", "doc_id", "n_tokens", SHARD_TOKEN_BUDGET
    )
    return packed.groupBy("lang", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# Per-language sampling rates in basis points (of 10000): downsample the
# overrepresented language, keep more of the rest -- the standard corpus
# rebalancing step before training.
SAMPLE_RATES_BPS = (("en", 500), ("es", 2000), ("fr", 2000), ("de", 2000), ("zh", 2000))

_RATE_CASE_S = "case " + " ".join(
    f"when lang = '{lang}' then {bps}" for lang, bps in SAMPLE_RATES_BPS
) + " else 0 end"
_RATE_CASE_D = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {bps}" for lang, bps in SAMPLE_RATES_BPS
) + " ELSE 0 END"


@register(
    "sample_stratified",
    oracle=f"""
WITH tagged AS (
  SELECT lang, doc_id, n_chars,
         ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 10000 < ({_RATE_CASE_D}) AS sampled
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_total,
       COUNT(*) FILTER (sampled) AS n_sampled,
       CAST(COALESCE(SUM(doc_id) FILTER (sampled), 0) AS BIGINT)
         AS sampled_id_checksum,
       CAST(COALESCE(SUM(n_chars) FILTER (sampled), 0) AS BIGINT)
         AS sampled_chars,
       CAST(COUNT(*) FILTER (sampled) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS realized_rate
FROM tagged
GROUP BY lang
""",
    doc="Deterministic stratified sampling for language rebalancing: each "
    "document is kept iff its portable hash lands under the per-language "
    "rate (en 5%, others 20%), so membership is a pure function of the id "
    "-- stable under re-runs, appends and any partitioning, and exactly "
    "reproducible on any cluster (no RNG, no sample() nondeterminism).  "
    "The id/char checksums pin the exact sampled SET cross-engine, not "
    "just the sizes.  Single pass, no shuffle before the per-language "
    "rollup.",
    tags=("text", "pipeline", "sampling"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash64_sql_spark

    docs = load_table(spark, sf_dir, "documents")
    h = hash64_sql_spark("cast(doc_id as string)", salt="sample:")
    tagged = docs.select(
        "lang",
        "doc_id",
        "n_chars",
        F.expr(f"{h} % 10000 < ({_RATE_CASE_S})").alias("sampled"),
    )
    return tagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_if("sampled").alias("n_sampled"),
        F.coalesce(
            F.sum(F.when(F.col("sampled"), F.col("doc_id"))), F.lit(0)
        ).alias("sampled_id_checksum"),
        F.coalesce(
            F.sum(F.when(F.col("sampled"), F.col("n_chars"))), F.lit(0)
        ).alias("sampled_chars"),
        (
            F.count_if("sampled").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("realized_rate"),
    )


DECON_N = 4  # n-gram size for contamination matching
DECON_BENCH_PCT = 10  # hash-held-out "benchmark" slice of the corpus
DECON_MIN_SHARED = 2  # flag a (train, bench) pair sharing >= this many grams
DECON_DF_CAP = 20  # bench grams present in more bench docs are stop-grams

def _decon_oracle() -> str:
    from ..functions.hashing import hash64_sql_duckdb
    from ..functions.text import shingles_duckdb

    grams = shingles_duckdb(_TOKS_D, DECON_N)
    is_bench = (
        f"({hash64_sql_duckdb('CAST(doc_id AS VARCHAR)', salt='bench:')})"
        f" % 100 < {DECON_BENCH_PCT}"
    )
    return f"""
WITH sides AS (
  SELECT doc_id, {is_bench} AS is_bench, {grams} AS grams
  FROM documents
),
bench_grams AS (
  SELECT doc_id AS bench_doc, unnest(grams) AS g FROM sides WHERE is_bench
),
capped AS (
  SELECT bench_doc, g FROM bench_grams
  WHERE g NOT IN (
    SELECT g FROM bench_grams GROUP BY g HAVING COUNT(*) > {DECON_DF_CAP}
  )
),
train AS (
  SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS g
  FROM sides WHERE NOT is_bench
)
SELECT t.doc_id,
       c.bench_doc,
       COUNT(*) AS n_shared,
       MAX(t.n_grams) AS n_grams,
       CAST(COUNT(*) AS DOUBLE) / CAST(MAX(t.n_grams) AS DOUBLE)
         AS overlap_ratio
FROM train t JOIN capped c ON c.g = t.g
GROUP BY t.doc_id, c.bench_doc
HAVING COUNT(*) >= {DECON_MIN_SHARED}
"""


@register(
    "text_decontaminate",
    oracle=_decon_oracle(),
    doc="Benchmark decontamination: flag (training doc, benchmark doc) pairs "
    "sharing >= 2 distinct 4-gram shingles, the standard n-gram-overlap "
    "check that keeps eval data out of a training corpus.  The benchmark "
    "slice is a hash-held-out 10% (stable under rebuilds, like the "
    "train/valid/test split); its gram index is document-frequency-capped "
    "(stop-grams carry no contamination signal) and BROADCAST -- eval "
    "suites are small and fixed, so at 100 TB the corpus is scanned once "
    "and never shuffled: explode grams, hash-join the broadcast index, "
    "one partial-aggregated groupBy on the (rare) matching pairs.",
    tags=("text", "pipeline", "dedup", "decontamination"),
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash64_sql_spark
    from ..functions.text import shingles_spark

    docs = load_table(spark, sf_dir, "documents")
    grams = shingles_spark(_TOKS_S, DECON_N)
    is_bench = (
        f"({hash64_sql_spark('cast(doc_id as string)', salt='bench:')})"
        f" % 100 < {DECON_BENCH_PCT}"
    )
    sides = docs.select(
        "doc_id", F.expr(is_bench).alias("is_bench"), F.expr(grams).alias("grams")
    )
    bench_grams = (
        sides.where("is_bench")
        .select(F.col("doc_id").alias("bench_doc"), F.explode("grams").alias("g"))
    )
    hot = (
        bench_grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > DECON_DF_CAP)
        .select("g")
    )
    capped = bench_grams.join(hot, "g", "left_anti")
    train = sides.where(~F.col("is_bench")).select(
        "doc_id",
        F.size("grams").alias("n_grams"),
        F.explode("grams").alias("g"),
    )
    return (
        train.join(F.broadcast(capped), "g")
        .groupBy("doc_id", "bench_doc")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.max("n_grams").alias("n_grams"),
        )
        .where(F.col("n_shared") >= DECON_MIN_SHARED)
        .select(
            "doc_id",
            "bench_doc",
            "n_shared",
            "n_grams",
            (
                F.col("n_shared").cast("double") / F.col("n_grams").cast("double")
            ).alias("overlap_ratio"),
        )
    )


# Gopher-style repetition/quality gate thresholds (Rae et al. 2021, "Scaling
# Language Models: ... Gopher", table A1 -- adapted to this single-line
# corpus: line/paragraph repetition collapses to token/bigram repetition).
GOPHER_MIN_TOKENS = 30
GOPHER_MAX_TOKENS = 50_000
GOPHER_MIN_WORD_LEN = 3.0
GOPHER_MAX_WORD_LEN = 10.0
GOPHER_MAX_DUP_TOKEN_FRAC = 0.6
GOPHER_MAX_TOP_BIGRAM_FRAC = 0.08


@register(
    "text_gopher_quality",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOKS_D} AS toks FROM documents
),
stats AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) AS dup_token_frac,
         CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) AS mean_word_len
  FROM t WHERE len(toks) > 0
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bigram
  FROM t WHERE len(toks) >= 2
),
cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
top AS (SELECT doc_id, MAX(c) AS top_c FROM cnt GROUP BY 1)
SELECT s.doc_id, s.n_tokens, s.dup_token_frac, s.mean_word_len,
       CASE WHEN s.n_tokens >= 2
            THEN CAST(top_c AS DOUBLE) / CAST(s.n_tokens - 1 AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END AS top_bigram_frac,
       CAST(s.n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS}
            AND s.mean_word_len BETWEEN {GOPHER_MIN_WORD_LEN} AND {GOPHER_MAX_WORD_LEN}
            AND s.dup_token_frac <= {GOPHER_MAX_DUP_TOKEN_FRAC}
            AND (CASE WHEN s.n_tokens >= 2
                      THEN CAST(top_c AS DOUBLE) / CAST(s.n_tokens - 1 AS DOUBLE)
                      ELSE CAST(0 AS DOUBLE) END) <= {GOPHER_MAX_TOP_BIGRAM_FRAC}
            AS INT) AS gopher_pass
FROM stats s LEFT JOIN top USING (doc_id)
""",
    doc="Gopher-style repetition quality signals per document: duplicate-"
    "token fraction, mean word length, most-frequent-bigram fraction, and "
    "the composite pass flag.  Doc-level stats are a single-pass map; the "
    "top-bigram count is explode -> (doc, bigram) count -> per-doc max, "
    "both aggregations map-side-combined before their one shuffle, then a "
    "doc_id-partitioned join back to the stats -- no all-pairs work "
    "anywhere, so the shape is linear in corpus size at 100 TB.",
    tags=("text", "quality", "gopher"),
)
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.select(
        "doc_id",
        F.expr(f"cast(size({_TOKS_S}) as bigint)").alias("n_tokens"),
        F.expr(
            f"cast(size({_TOKS_S}) - size(array_distinct({_TOKS_S})) as double)"
            f" / cast(size({_TOKS_S}) as double)"
        ).alias("dup_token_frac"),
        F.expr(
            f"cast(aggregate(transform({_TOKS_S}, x -> length(x)), 0,"
            f" (acc, x) -> acc + x) as double)"
            f" / cast(size({_TOKS_S}) as double)"
        ).alias("mean_word_len"),
    ).where(F.expr(f"size({_TOKS_S}) > 0"))
    bigrams = (
        docs.where(F.expr(f"size({_TOKS_S}) >= 2"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size({_TOKS_S}) - 1),"
                    f" i -> concat_ws(' ', slice({_TOKS_S}, i, 2)))"
                )
            ).alias("bigram"),
        )
    )
    top = (
        bigrams.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    joined = stats.join(top, "doc_id", "left")
    top_frac = F.when(
        F.col("n_tokens") >= 2,
        F.col("top_c").cast("double") / (F.col("n_tokens") - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    return joined.select(
        "doc_id",
        "n_tokens",
        "dup_token_frac",
        "mean_word_len",
        top_frac.alias("top_bigram_frac"),
        (
            F.col("n_tokens").between(GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS)
            & F.col("mean_word_len").between(
                GOPHER_MIN_WORD_LEN, GOPHER_MAX_WORD_LEN
            )
            & (F.col("dup_token_frac") <= GOPHER_MAX_DUP_TOKEN_FRAC)
            & (top_frac <= GOPHER_MAX_TOP_BIGRAM_FRAC)
        )
        .cast("int")
        .alias("gopher_pass"),
    )


# Per-source mixing weights in basis points of an epoch (10000 = exactly one
# pass over the source).  >1 epoch = upsampling (docs emitted multiple
# times), <1 epoch = downsampling -- the standard "epochs per source" data
# mixing knob of LLM training recipes (LLaMA-style source weighting).
_MIX_BP_CASE = (
    "case (cast(substr(source, 4) as int) % 4)"
    " when 0 then 5000 when 1 then 10000 when 2 then 17500"
    " else 25000 end"
)


@register(
    "sample_mixture_epochs",
    oracle=f"""
WITH w AS (
  SELECT doc_id, source,
         ({_MIX_BP_CASE}) AS bp,
         {hash64_sql_duckdb("CAST(doc_id AS VARCHAR)", salt="mix:")} % 10000 AS h
  FROM documents
), c AS (
  SELECT doc_id, source,
         (bp // 10000) + CASE WHEN h < (bp % 10000) THEN 1 ELSE 0 END AS n_copies
  FROM w
)
SELECT doc_id, source, CAST(g.u AS BIGINT) AS copy_idx
FROM c, unnest(generate_series(1, n_copies)) AS g(u)
""",
    doc="Weighted source mixing with fractional epochs (upsample AND "
    "downsample): each source gets a target epoch weight (0.5x/1x/1.75x/"
    "2.5x by source group); every document is emitted floor(epochs) times "
    "plus one more iff its portable hash lands under the fractional part "
    "-- so the emitted multiset is a pure function of (doc_id, source), "
    "stable under re-runs, appends and partitioning.  Single pass, "
    "map-side explode, no shuffle; the expected emitted volume is "
    "sum(epochs_s * |s|) exactly.",
    tags=("text", "pipeline", "sampling"),
)
def sample_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash64_sql_spark

    docs = load_table(spark, sf_dir, "documents")
    h = hash64_sql_spark("cast(doc_id as string)", salt="mix:")
    c = docs.selectExpr(
        "doc_id",
        "source",
        f"(({_MIX_BP_CASE}) div 10000)"
        f" + (case when {h} % 10000 < (({_MIX_BP_CASE}) % 10000)"
        f" then 1 else 0 end) as n_copies",
    )
    return c.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "case when n_copies >= 1"
                " then sequence(cast(1 as bigint), cast(n_copies as bigint))"
                " else cast(array() as array<bigint>) end"
            )
        ).alias("copy_idx"),
    )


DOMAIN_CAP = 15  # max documents kept per source domain


@register(
    "sample_domain_cap",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY ({hash64_sql_duckdb("CAST(doc_id AS VARCHAR)", salt="cap:")}),
                    doc_id
         ) AS rk
  FROM documents
)
SELECT source,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN rk <= {DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN rk <= {DOMAIN_CAP} THEN doc_id ELSE 0 END) AS BIGINT)
         AS kept_checksum
FROM ranked
GROUP BY source
""",
    doc="Per-domain document cap (web-crawl pipelines cap pages per domain "
    "so mega-domains don't dominate the training mix).  Selection is the "
    f"{DOMAIN_CAP} lowest portable-hash ranks within each source, so the "
    "kept set is a pure function of ids -- stable under re-runs and "
    "appends.  One shuffle (the per-domain window); the hash ordering "
    "makes the kept subset uniform, and because rank-by-uniform-hash "
    "equals 'K smallest hashes per domain', a skew-hardened variant can "
    "pre-prune with a per-domain approximate hash threshold before the "
    "exact window.  The checksum pins the exact per-doc decision.",
    tags=("text", "sampling", "pipeline"),
)
def sample_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.hashing import hash64_sql_spark

    docs = load_table(spark, sf_dir, "documents")
    h = hash64_sql_spark("cast(doc_id as string)", salt="cap:")
    ranked = docs.select(
        "doc_id", "source", F.expr(h).alias("h")
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("source").orderBy("h", "doc_id")
        ),
    )
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(
            F.when(F.col("rk") <= DOMAIN_CAP, 1).otherwise(0)
        ).cast("bigint").alias("n_kept"),
        F.sum(
            F.when(F.col("rk") <= DOMAIN_CAP, F.col("doc_id")).otherwise(0)
        ).cast("bigint").alias("kept_checksum"),
    )


LEN_BUCKET = 256  # histogram bucket width in characters


@register(
    "profile_length_histogram",
    oracle=f"""
SELECT lang,
       CAST(FLOOR(n_chars / {LEN_BUCKET}) AS BIGINT) AS bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars
FROM documents
GROUP BY lang, bucket
""",
    doc="Dataset-card length profile: per-language histogram of document "
    f"sizes in {LEN_BUCKET}-char buckets with per-bucket totals and "
    "extremes -- the distribution table every corpus datasheet ships.  "
    "Map-side bucketing plus one partial-aggregated shuffle on "
    "(lang, bucket); cardinality is languages x buckets regardless of "
    "corpus size, so the result stays tiny at 100 TB.",
    tags=("text", "profile", "aggregation"),
)
def profile_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn(
            "bucket",
            F.floor(F.col("n_chars") / F.lit(LEN_BUCKET)).cast("bigint"),
        )
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


LM_QUANT = "CAST(1e12 AS DOUBLE)"  # probability quantization grid
LM_VOCAB_K = 4096  # vocabulary cap (top bigrams by count; safety at scale)


def _bigram_lm_oracle() -> str:
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
scored AS (
  SELECT bg.doc_id,
         CAST(SUM(COALESCE(v.pq, 0)) AS BIGINT) AS score_q,
         COUNT(*) AS n_bigrams
  FROM bg LEFT JOIN vocab v USING (b)
  GROUP BY bg.doc_id
)
SELECT doc_id, n_bigrams, score_q,
       CAST(score_q AS DOUBLE) / ({LM_QUANT} * CAST(n_bigrams AS DOUBLE))
         AS lm_score
FROM scored
"""


@register(
    "text_char_bigram_lm",
    oracle=_bigram_lm_oracle(),
    doc="CCNet-style corpus-trained language-model quality score: a "
    "character-bigram model is trained on the corpus itself, then every "
    "document is scored by its mean bigram probability (quantized to an "
    f"integer grid so the per-doc sum is order-free and exact).  Training "
    "is explode->groupBy with map-side combine (the shuffle carries at "
    "most one row per distinct bigram per task); the fitted distribution "
    f"is a k-bounded driver collect (top {LM_VOCAB_K} bigrams, the "
    "standard vocabulary truncation) embedded as ONE map literal, so "
    "scoring is a pure zero-shuffle map stage -- no join of the corpus "
    "back to the model, which is what makes this shape hold at 100 TB.  "
    "Low lm_score = improbable character sequences = likely boilerplate/"
    "garbage, the filter signal CCNet/RedPajama use (theirs is a "
    "Kneser-Ney 5-gram; the estimator is pluggable, the plan is not).",
    tags=("text", "quality", "lm", "pipeline"),
    bench=True,
)
def text_char_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_lm_scores(spark, sf_dir)


def bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bigrams, score_q, lm_score): train the corpus char-bigram
    model, score every doc.  Shared by the standalone query and the
    composed pretraining pipeline."""
    import math

    docs = load_table(spark, sf_dir, "documents").where(
        F.length("text") >= 2
    )
    # Bigram generation as explode(sequence) + substring keeps the whole
    # training scan inside whole-stage codegen (a transform(...) lambda
    # would run interpreted); the counts aggregate is NDV-sized and is
    # persisted because two driver actions (total, vocabulary) read it.
    counts = track_persist(
        docs.select(
            F.explode(F.expr("sequence(1, length(text) - 1)")).alias("i"),
            "text",
        )
        .select(F.expr("substring(text, i, 2)").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = counts.agg(F.sum("c")).collect()[0][0]
    vocab_rows = (
        counts.orderBy(F.col("c").desc(), "b").limit(LM_VOCAB_K).collect()
    )
    # floor(1e12 * (c / t)) in Python IEEE doubles -- bit-identical to the
    # same expression evaluated by DuckDB (and Spark, had we evaluated it
    # there): division and multiplication of identical operands.
    model = {
        r["b"]: math.floor(1e12 * (r["c"] / total)) for r in vocab_rows
    }

    # Scoring: the fitted distribution rides into an Arrow-batched kernel
    # as a closure-captured hash map (O(1) lookups; a Catalyst map literal
    # is an O(|vocab|) linear scan per lookup and measured 10x slower at
    # sf0.1).  Integer sums keep the result exactly the oracle's; the one
    # double division uses identical operands.
    def score(batches):
        import pandas as pd

        get = model.get
        for pdf in batches:
            if not len(pdf):
                continue
            out = {"doc_id": pdf["doc_id"], "n_bigrams": [], "score_q": []}
            for text in pdf["text"]:
                n = len(text) - 1
                out["n_bigrams"].append(n)
                out["score_q"].append(
                    sum(get(text[i : i + 2], 0) for i in range(n))
                )
            out["lm_score"] = [
                sq / (1e12 * n)
                for sq, n in zip(out["score_q"], out["n_bigrams"])
            ]
            yield pd.DataFrame(out)

    return docs.select("doc_id", "text").mapInPandas(
        score,
        schema="doc_id long, n_bigrams long, score_q long, lm_score double",
    )


WEIGHTED_K = 50  # weighted sample size


@register(
    "sample_weighted_priority",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         CAST(({hash64_sql_duckdb("CAST(doc_id AS VARCHAR)", salt="wsamp:")})
              AS DOUBLE) / CAST(n_chars AS DOUBLE) AS priority
  FROM documents WHERE n_chars > 0
),
picked AS (
  SELECT doc_id, lang, n_chars FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY priority, doc_id) AS rn FROM keyed
  ) WHERE rn <= {WEIGHTED_K}
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM picked
GROUP BY lang
""",
    doc="Size-weighted priority sampling (sampling-without-replacement "
    "where a document's inclusion probability is proportional to its "
    f"length): key = uniform-hash / weight, keep the {WEIGHTED_K} "
    "smallest keys -- the Efraimidis-Spirakis scheme with the rational "
    "u/w key in place of u^(1/w) (same induced order, no ln/pow, so the "
    "keys are deterministic IEEE divisions and exactly cross-engine).  "
    "Deterministic hash keys make the sample a pure function of ids -- "
    "stable under re-runs and appends -- and top-k-by-key runs as "
    "per-partition heaps (TakeOrdered), no global sort.  The per-lang "
    "rollup with id checksum pins the exact selection.",
    tags=("text", "sampling", "weighted", "pipeline"),
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash64_sql_spark

    docs = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    h = hash64_sql_spark("cast(doc_id as string)", salt="wsamp:")
    keyed = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.expr(f"cast(({h}) as double) / cast(n_chars as double)").alias(
            "priority"
        ),
    )
    picked = (
        keyed.orderBy("priority", "doc_id").limit(WEIGHTED_K)
    )
    return picked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


@register(
    "text_adaptive_length_filter",
    oracle=f"""
WITH ranked AS (
  SELECT lang, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) - 1
           AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
),
cuts AS (
  SELECT lang,
         CAST(MAX(n) AS BIGINT) AS n_docs,
         MAX({rank_cut_duck("rn", "n", 0.05, "n_chars")}) AS lo_cut,
         MAX({rank_cut_duck("rn", "n", 0.95, "n_chars")}) AS hi_cut
  FROM ranked GROUP BY lang
)
SELECT r.lang, c.n_docs, c.lo_cut, c.hi_cut,
       CAST(SUM(CASE WHEN r.n_chars BETWEEN c.lo_cut AND c.hi_cut
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN r.n_chars BETWEEN c.lo_cut AND c.hi_cut
                     THEN r.doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
FROM ranked r
JOIN cuts c ON c.lang = r.lang
GROUP BY r.lang, c.n_docs, c.lo_cut, c.hi_cut
ORDER BY r.lang
""",
    doc="Per-language adaptive length filtering: instead of one global "
    "character-count band, each language gets its own [p5, p95] cut "
    "from the EXACT rank statistics of its own length distribution "
    "(zh runs far shorter than en in characters; a global band "
    "over-drops one and under-filters the other).  The exact quantile "
    "is the value at rank floor(p * (n-1)) under a deterministic "
    "(n_chars, doc_id) order, so both engines agree bit-for-bit.  "
    "One shuffle on lang for the rank window; the kept-set checksum "
    "verifies the exact membership, not just counts.  At 100 TB the "
    "per-group global sort becomes a per-group quantile sketch "
    "(the window_ntile_deciles caveat); membership stays a map-side "
    "broadcast of the tiny per-language cut table.",
    tags=("text", "quality", "quantile", "window"),
)
def text_adaptive_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = docs.select("lang", "doc_id", "n_chars").withColumn(
        "rn", F.row_number().over(w) - 1
    ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("lang")))
    cuts = ranked.groupBy("lang").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.max(rank_cut_spark("rn", "n", 0.05, "n_chars")).alias("lo_cut"),
        F.max(rank_cut_spark("rn", "n", 0.95, "n_chars")).alias("hi_cut"),
    )
    joined = ranked.join(F.broadcast(cuts), "lang")
    kept = F.col("n_chars").between(F.col("lo_cut"), F.col("hi_cut"))
    return (
        joined.groupBy("lang", "n_docs", "lo_cut", "hi_cut")
        .agg(
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(kept, F.col("doc_id")).otherwise(0))
            .cast("bigint")
            .alias("kept_id_sum"),
        )
        .orderBy("lang")
    )


@register(
    "profile_token_zipf",
    oracle=f"""
WITH words AS (
  SELECT unnest({_TOKS_D}) AS w FROM documents
),
freq AS (
  SELECT w, COUNT(*) AS f FROM words GROUP BY w
),
ranked AS (
  SELECT w, f, ROW_NUMBER() OVER (ORDER BY f DESC, w) AS r FROM freq
)
SELECT CAST(FLOOR(log2(r)) AS BIGINT) AS rank_band,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(f) AS BIGINT) AS total_freq,
       CAST(MAX(f) AS BIGINT) AS max_freq,
       CAST(SUM(CAST(FLOOR(log2(f)) AS BIGINT)) AS BIGINT) AS sum_log2f
FROM ranked
GROUP BY rank_band
ORDER BY rank_band
""",
    doc="Vocabulary heavy-tail (Zipf) profile: corpus word frequencies "
    "bucketed into power-of-two RANK bands (band = floor(log2(rank)) "
    "under a deterministic freq-desc/word order), with per-band word "
    "count, total frequency mass, and an integer log-frequency sum -- "
    "the rank-frequency curve a tokenizer/vocab-size decision reads, "
    "kept cross-engine exact by summing floor(log2) integers instead "
    "of order-sensitive float logs (log2 boundary analysis: ranks and "
    "counts are exact ints; log2 of a power of two is IEEE-exact and "
    "non-powers sit >=1e-5 from the next integer, far beyond the "
    "1-ulp engine difference).  The global rank window runs on the "
    "VOCABULARY (orders of magnitude smaller than the corpus); at "
    "100 TB the band cuts come from frequency-histogram prefix sums "
    "instead of a single-partition sort.",
    tags=("text", "profile", "statistics"),
)
def profile_token_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.expr(_TOKS_S)).alias("w"))
    freq = words.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    ranked = freq.withColumn(
        "r",
        # global-window: corpus vocabulary frequency table (vocab-bounded)
        F.row_number().over(Window.orderBy(F.col("f").desc(), F.col("w"))),
    )
    return (
        ranked.groupBy(
            F.floor(F.log2("r")).cast("bigint").alias("rank_band")
        )
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("f").cast("bigint").alias("total_freq"),
            F.max("f").cast("bigint").alias("max_freq"),
            F.sum(F.floor(F.log2("f")).cast("bigint"))
            .cast("bigint")
            .alias("sum_log2f"),
        )
        .orderBy("rank_band")
    )


BPE_TOP_PAIRS = 20


@register(
    "text_bpe_pair_counts",
    oracle=f"""
WITH words AS (
  SELECT unnest({_TOKS_D}) AS w FROM documents
),
wf AS (
  SELECT w, COUNT(*) AS c FROM words GROUP BY w
),
pairs AS (
  SELECT substr(w, CAST(i AS INT), 1) || '|'
           || substr(w, CAST(i AS INT) + 1, 1) AS pair,
         CAST(SUM(c) AS BIGINT) AS pair_count
  FROM wf, unnest(range(1, length(w))) t(i)
  WHERE length(w) >= 2
  GROUP BY pair
),
ranked AS (
  SELECT pair, pair_count,
         ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS rnk
  FROM pairs
)
SELECT pair, pair_count, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {BPE_TOP_PAIRS}
ORDER BY rnk
""",
    doc="The first BPE merge step of tokenizer TRAINING: adjacent "
    "character-pair frequencies across the corpus, weighted by word "
    "occurrence count, top pairs by count -- the argmax the BPE loop "
    "takes before merging.  Pair counting runs on the VOCABULARY "
    "(word, count) table, not the raw corpus: the word-frequency "
    "reduction happens first (one shuffle on word), then each DISTINCT "
    "word explodes into its len-1 pairs weighted by its count -- "
    "exactly how production BPE trainers avoid rescanning the corpus "
    "per merge.  All counts exact integers; rank tiebreak by pair "
    "string.  At 100 TB the vocab table is MBs: the whole merge loop "
    "after this reduction is driver-scale.",
    tags=("text", "tokenizer", "bpe", "aggregation"),
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.expr(_TOKS_S)).alias("w"))
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    pairs = (
        wf.where(F.length("w") >= 2)
        .select(
            "c",
            F.explode(
                F.expr("sequence(1, length(w) - 1)")
            ).alias("i"),
            "w",
        )
        .select(
            F.concat(
                F.expr("substr(w, i, 1)"),
                F.lit("|"),
                F.expr("substr(w, i + 1, 1)"),
            ).alias("pair"),
            "c",
        )
        .groupBy("pair")
        .agg(F.sum("c").cast("bigint").alias("pair_count"))
    )
    ranked = pairs.withColumn(
        "rnk",
        F.row_number()
        # global-window: symbol-pair count table (vocab^2-bounded)
        .over(Window.orderBy(F.col("pair_count").desc(), F.col("pair")))
        .cast("bigint"),
    )
    return ranked.where(F.col("rnk") <= BPE_TOP_PAIRS).orderBy("rnk")


CLF_DIM = 4096  # hashed feature buckets
CLF_W_MOD = 100  # weights in [-50, 49]


def _clf_weight_duck(bucket_expr: str) -> str:
    return (
        f"(({hash64_sql_duckdb(f'CAST({bucket_expr} AS VARCHAR)', salt='clfw:')})"
        f" % {CLF_W_MOD}) - 50"
    )


@register(
    "text_classifier_score",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS_D}) AS tok FROM documents),
w AS (
  SELECT doc_id,
         {_clf_weight_duck(f"({hash64_sql_duckdb('tok')}) % {CLF_DIM}")} AS w
  FROM tok
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(w) AS BIGINT) AS logit_sum,
       CAST(SUM(w) AS DOUBLE) / COUNT(*) AS mean_logit,
       CAST(SUM(w) >= 0 AS INT) AS keep
FROM w GROUP BY doc_id
""",
    doc="Model-based quality filtering in the fastText serving shape "
    "(the DCLM / FineWeb-Edu classifier-filter stage): each token hashes "
    f"into one of {CLF_DIM} feature buckets and the document's logit is "
    "the sum of its buckets' weights, served on the Spark side from a "
    f"{CLF_DIM}-element int64 weight-array LITERAL via element_at -- the "
    "broadcast-model pattern, zero joins, so scoring is one explode + "
    "one map-side-combined aggregate regardless of corpus size.  The "
    "weight table here is md5-derived (a deterministic stand-in for "
    "trained weights, so the DuckDB oracle recomputes each weight "
    "arithmetically and the comparison is exact); a real model swaps "
    "the array contents only.  Integer logits end-to-end; the one "
    "double division (mean logit) has identical operands cross-engine.",
    tags=("text", "quality", "classifier"),
)
def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from ..functions.hashing import hash64_sql_spark

    weights = [
        (int(hashlib.md5(f"clfw:{j}".encode()).hexdigest()[:15], 16) % CLF_W_MOD)
        - 50
        for j in range(CLF_DIM)
    ]
    # Materialized as DATA in a broadcast single-row frame, not a literal
    # expression: a 4096-element array literal re-evaluates per row and
    # falls out of codegen (measured several times slower).
    wdf = spark.createDataFrame([(weights,)], schema="_clf_w array<bigint>")
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(F.expr(_TOKS_S)).alias("tok"))
        .crossJoin(F.broadcast(wdf))
        .withColumn("bucket", F.expr(f"({hash64_sql_spark('tok')}) % {CLF_DIM}"))
    )
    scored = tok.withColumn(
        "w", F.element_at(F.col("_clf_w"), F.col("bucket").cast("int") + 1)
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("w").cast("bigint").alias("logit_sum"),
        (F.sum("w").cast("double") / F.count(F.lit(1))).alias("mean_logit"),
        (F.sum("w") >= 0).cast("int").alias("keep"),
    )


LTEMP_BUDGET = 200  # total docs to draw across languages
LTEMP_SCALE = 10**12  # alpha=0.5 via exact floor(sqrt(n * 1e12)) integers


@register(
    "sample_language_temperature",
    oracle=f"""
WITH counts AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
),
scaled AS (
  SELECT lang, n_docs,
         CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE) * 1e12)) AS BIGINT) AS s
  FROM counts
),
alloc AS (
  SELECT lang, n_docs, s,
         ({LTEMP_BUDGET} * s) // (SELECT SUM(s) FROM scaled) AS alloc
  FROM scaled
),
ranked AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY {hash64_sql_duckdb('CAST(doc_id AS VARCHAR)', salt='ltemp:')},
                    doc_id) AS rn
  FROM documents
),
kept AS (
  SELECT r.lang, r.doc_id
  FROM ranked r JOIN alloc a ON a.lang = r.lang
  WHERE r.rn <= a.alloc
)
SELECT a.lang,
       a.n_docs,
       CAST(a.alloc AS BIGINT) AS alloc,
       COUNT(k.doc_id) AS n_kept,
       CAST(COALESCE(SUM(k.doc_id % 1000000007), 0) AS BIGINT) AS kept_checksum
FROM alloc a LEFT JOIN kept k ON k.lang = a.lang
GROUP BY a.lang, a.n_docs, a.alloc
""",
    doc="Temperature-scaled multilingual sampling (the mT5/XLM-R "
    "alpha-sampling staple, alpha = 0.5): each language's draw budget is "
    "proportional to sqrt of its document share, computed EXACTLY as "
    "floor(sqrt(n * 1e12)) integers (IEEE sqrt is correctly rounded, so "
    "both engines floor the same value; the normalization is one integer "
    "floor-division over the summed scale) -- no float accumulation "
    "order anywhere.  Membership is the portable-hash rank within each "
    "language, so the sample is deterministic, stable under appends "
    "outside the kept prefix, and reproducible cross-engine; the kept "
    "checksum pins exact membership.  One aggregate for counts (5 rows, "
    "broadcast back), one per-lang window for ranks; at extreme "
    "cardinality the rank window swaps for a hash-threshold filter with "
    "the same key.",
    tags=("text", "sampling", "multilingual"),
)
def sample_language_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.hashing import hash64_sql_spark

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    scaled = counts.withColumn(
        "s",
        F.expr("cast(floor(sqrt(cast(n_docs as double) * 1e12)) as bigint)"),
    )
    total_s = scaled.agg(F.sum("s").alias("ts"))
    alloc = scaled.crossJoin(F.broadcast(total_s)).select(
        "lang",
        "n_docs",
        F.expr(f"cast(({LTEMP_BUDGET} * s) div ts as bigint)").alias("alloc"),
    )
    h = hash64_sql_spark("cast(doc_id as string)", salt="ltemp:")
    ranked = docs.select(
        "lang",
        "doc_id",
        F.row_number()
        .over(
            Window.partitionBy("lang").orderBy(F.expr(h), F.col("doc_id"))
        )
        .alias("rn"),
    )
    kept = ranked.join(F.broadcast(alloc.select("lang", "alloc")), "lang").where(
        F.col("rn") <= F.col("alloc")
    )
    agg = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.col("doc_id") % 1000000007).cast("bigint").alias("kept_checksum"),
    )
    return alloc.join(agg, "lang", "left").select(
        "lang",
        "n_docs",
        "alloc",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce(F.col("kept_checksum"), F.lit(0))
        .cast("bigint")
        .alias("kept_checksum"),
    )


CHUNK_W = 16  # tokens per training chunk
CHUNK_STRIDE = 12  # tokens between chunk starts (overlap = W - stride)


@register(
    "text_chunk_overlap",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOKS_D} AS toks, len({_TOKS_D}) AS n FROM documents
),
sized AS (
  SELECT doc_id, toks, n,
         CASE WHEN n <= {CHUNK_W} THEN 1
              ELSE 1 + (n - {CHUNK_W} + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE}
         END AS n_chunks
  FROM t WHERE n > 0
),
fanned AS (
  SELECT doc_id, toks, n, unnest(range(n_chunks)) AS i FROM sized
)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_idx,
       CAST(i * {CHUNK_STRIDE} AS BIGINT) AS start_tok,
       CAST(LEAST({CHUNK_W}, n - i * {CHUNK_STRIDE}) AS BIGINT) AS n_tok,
       CAST(list_sum(list_transform(
              list_slice(toks, i * {CHUNK_STRIDE} + 1, i * {CHUNK_STRIDE} + {CHUNK_W}),
              x -> ({hash64_sql_duckdb('x')}) % 1000000007)) AS BIGINT)
         AS chunk_checksum
FROM fanned
""",
    doc="Context-window chunking with stride (the long-document -> "
    f"training-sequence fan-out): {CHUNK_W}-token windows every "
    f"{CHUNK_STRIDE} tokens ({CHUNK_W - CHUNK_STRIDE}-token overlap so no "
    "boundary context is lost), the standard preprocessing for "
    "fixed-context-length model training.  Pure per-row fan-out -- "
    "explode over the chunk count, slice, and an exact per-chunk token "
    "checksum that pins CONTENT, not just boundaries -- no shuffle at "
    "any point, so the shape is embarrassingly parallel at 100 TB.  "
    "Chunk-count and boundary arithmetic is all positive integer floor "
    "division, identical cross-engine.",
    tags=("text", "chunking", "pipeline"),
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash64_sql_spark

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.expr(_TOKS_S).alias("toks"),
        F.expr(f"size({_TOKS_S})").alias("n"),
    ).where(F.col("n") > 0)
    sized = t.withColumn(
        "n_chunks",
        F.expr(
            f"case when n <= {CHUNK_W} then 1"
            f" else 1 + cast((n - {CHUNK_W} + {CHUNK_STRIDE} - 1) / {CHUNK_STRIDE} as int)"
            " end"
        ),
    )
    fanned = sized.select(
        "doc_id",
        "toks",
        "n",
        F.explode(F.expr("sequence(0, n_chunks - 1)")).alias("i"),
    )
    h = hash64_sql_spark("x")
    return fanned.select(
        "doc_id",
        F.col("i").cast("bigint").alias("chunk_idx"),
        (F.col("i") * CHUNK_STRIDE).cast("bigint").alias("start_tok"),
        F.expr(f"cast(least({CHUNK_W}, n - i * {CHUNK_STRIDE}) as bigint)").alias(
            "n_tok"
        ),
        F.expr(
            f"cast(aggregate(transform(slice(toks, i * {CHUNK_STRIDE} + 1, {CHUNK_W}),"
            f" x -> ({h}) % 1000000007), cast(0 as bigint), (acc, v) -> acc + v)"
            " as bigint)"
        ).alias("chunk_checksum"),
    )


BPE_MERGE_ROUNDS = 8


def _bpe_cte_chain(rounds: int, final_vocab: bool = False) -> list[str]:
    """CTE list replaying the exact BPE merge loop (shared by the trainer
    and the encoder oracles).

    Words are encoded as '<c1><c2>...' symbol strings; one merge round =
    weighted adjacent-pair count -> deterministic argmax (count desc,
    then left/right symbol) -> leftmost non-overlapping replace of
    '<l><r>' with '<lr>' (string replace IS greedy left-to-right BPE
    application in both engines).  Every vocab CTE carries the original
    word ``w`` so consumers can map word -> merged symbols.  With
    ``final_vocab`` the chain also applies the LAST round's merge,
    yielding vocab{rounds} (what a tokenizer APPLIES; the trainer only
    reads best{rounds}).
    """
    ctes = [
        f"""vocab0 AS MATERIALIZED (
  SELECT w, regexp_replace(w, '(.)', '<\\1>', 'g') AS enc,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest({_TOKS_D}) AS w FROM documents) GROUP BY w
)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"""pairs{r} AS (
  SELECT s[i] AS lft, s[i + 1] AS rgt, CAST(SUM(c) AS BIGINT) AS pair_count
  FROM (SELECT string_split(trim(enc, '<>'), '><') AS s, c FROM vocab{p}) t,
       unnest(range(1, len(s))) u(i)
  GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""best{r} AS (
  SELECT lft, rgt, pair_count FROM pairs{r}
  ORDER BY pair_count DESC, lft, rgt LIMIT 1
)"""
        )
        if r < rounds or final_vocab:
            # LEFT JOIN ON TRUE + COALESCE, not a cross join: on a
            # degenerate corpus with fewer than `rounds` distinct merges
            # best{r} is EMPTY, and a cross join would empty vocab{r} (and
            # every later vocab), zeroing the oracle while the Spark
            # builder stops merging early and still tokenizes every word.
            # With the left join an empty best{r} leaves enc unchanged --
            # exactly the "no merge found this round" semantics.
            ctes.append(
                f"""vocab{r} AS MATERIALIZED (
  SELECT w, COALESCE(replace(enc, '<' || b.lft || '><' || b.rgt || '>',
                 '<' || b.lft || b.rgt || '>'), enc) AS enc, c
  FROM vocab{p} LEFT JOIN best{r} b ON TRUE
)"""
            )
    return ctes


def _bpe_train_oracle(rounds: int = BPE_MERGE_ROUNDS) -> str:
    ctes = _bpe_cte_chain(rounds)
    finals = [
        f"SELECT CAST({r} AS BIGINT) AS merge_round, lft, rgt,"
        f" lft || rgt AS merged, pair_count FROM best{r}"
        for r in range(1, rounds + 1)
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(finals)
        + "\nORDER BY merge_round"
    )


def bpe_train_merges(words: DataFrame, rounds: int = BPE_MERGE_ROUNDS) -> DataFrame:
    """Run the BPE merge loop over a (w, c) word-frequency DataFrame.

    Separated from the registry query so tests can drive it on crafted
    corpora against a pure-Python reference trainer."""
    spark = words.sparkSession
    vocab = track_persist(
        words.select(
            F.regexp_replace("w", "(.)", "<$1>").alias("enc"),
            F.col("c").cast("bigint").alias("c"),
        )
    )
    merges = []
    for r in range(1, rounds + 1):
        syms = vocab.select(
            F.split(F.expr("trim(BOTH '<>' FROM enc)"), "><").alias("s"), "c"
        )
        pairs = (
            syms.where(F.size("s") >= 2)
            .select(
                "c",
                F.explode(F.expr("sequence(1, size(s) - 1)")).alias("i"),
                "s",
            )
            .select(
                F.expr("element_at(s, i)").alias("lft"),
                F.expr("element_at(s, i + 1)").alias("rgt"),
                "c",
            )
            .groupBy("lft", "rgt")
            .agg(F.sum("c").cast("bigint").alias("pair_count"))
        )
        best = pairs.orderBy(
            F.col("pair_count").desc(), F.col("lft"), F.col("rgt")
        ).first()
        if best is None:  # fully merged vocabulary -- stop early
            break
        lft, rgt, pc = best["lft"], best["rgt"], best["pair_count"]
        merges.append((r, lft, rgt, lft + rgt, pc))
        if r < rounds:
            vocab = track_persist(
                vocab.select(
                    F.replace(
                        F.col("enc"),
                        F.lit(f"<{lft}><{rgt}>"),
                        F.lit(f"<{lft}{rgt}>"),
                    ).alias("enc"),
                    "c",
                )
            )
    return spark.createDataFrame(
        merges,
        "merge_round bigint, lft string, rgt string, merged string,"
        " pair_count bigint",
    ).orderBy("merge_round")


@register(
    "text_bpe_train_merges",
    oracle=_bpe_train_oracle(),
    doc=f"Multi-round BPE tokenizer TRAINING (the actual trainer loop, "
    f"extending text_bpe_pair_counts' single argmax): {BPE_MERGE_ROUNDS} "
    "merge rounds over the corpus word-frequency table, each round = "
    "weighted adjacent-symbol-pair count -> deterministic argmax (count "
    "desc, symbol tiebreak) -> greedy leftmost merge applied to every "
    "vocabulary word; emits the learned merge table.  The Spark loop is "
    "the production shape: the CORPUS is reduced once to (word, count) "
    "-- the only corpus-size-dependent shuffle -- then every round runs "
    "on the vocabulary table (MBs at 100 TB), collecting exactly ONE "
    "argmax row per round to the driver so the merge literal feeds the "
    "next round's replace without a growing broadcast-join chain; the "
    "evolving vocab is persisted per round so lineage never re-derives "
    "prior merges.  Greedy leftmost non-overlapping string replace on "
    "the '<sym>' encoding is exactly BPE merge application, and both "
    "engines' replace() scans leftmost non-overlapping, so the merge "
    "table is bit-identical cross-engine.",
    tags=("text", "tokenizer", "bpe", "iterative"),
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.expr(_TOKS_S)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return bpe_train_merges(words, rounds=BPE_MERGE_ROUNDS)


def _bpe_encode_oracle(rounds: int = BPE_MERGE_ROUNDS) -> str:
    ctes = _bpe_cte_chain(rounds, final_vocab=True)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
wtok AS (
  SELECT w,
         CAST(len(string_split(trim(enc, '<>'), '><')) AS BIGINT) AS n_syms
  FROM vocab{rounds}
),
tok AS (SELECT doc_id, unnest({_TOKS_D}) AS w FROM documents)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(wt.n_syms) AS BIGINT) AS n_bpe_tokens
FROM tok t JOIN wtok wt USING (w)
GROUP BY t.doc_id
"""
    )


@register(
    "text_bpe_encode_corpus",
    oracle=_bpe_encode_oracle(),
    doc="Tokenizer APPLICATION -- the downstream half of "
    f"text_bpe_train_merges: train the {BPE_MERGE_ROUNDS}-merge BPE "
    "table, apply the learned merges (in order, greedy leftmost) to the "
    "vocabulary, and tokenize the corpus by mapping each word to its "
    "merged symbol count; emits per-document word and BPE-token counts "
    "-- the number every shard-packing / context-budget stage actually "
    "consumes.  100 TB shape: training reduces the corpus once to the "
    "vocabulary; ENCODING is a broadcast join of the corpus's exploded "
    "words against the tiny word->n_syms table plus one groupBy doc -- "
    "the corpus is never re-scanned per merge round, exactly how "
    "production tokenizer-application jobs are laid out.",
    tags=("text", "tokenizer", "bpe"),
)
def text_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.expr(_TOKS_S)).alias("w"))
    words = track_persist(
        tok.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    merges = [
        (r["lft"], r["rgt"])
        for r in bpe_train_merges(words, rounds=BPE_MERGE_ROUNDS)
        .orderBy("merge_round")
        .collect()
    ]
    enc = F.regexp_replace("w", "(.)", "<$1>")
    for lft, rgt in merges:
        enc = F.replace(enc, F.lit(f"<{lft}><{rgt}>"), F.lit(f"<{lft}{rgt}>"))
    wtok = words.select("w", enc.alias("enc")).select(
        "w",
        F.size(F.split(F.expr("trim(BOTH '<>' FROM enc)"), "><"))
        .cast("bigint")
        .alias("n_syms"),
    )
    return (
        tok.join(F.broadcast(wtok), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_syms").cast("bigint").alias("n_bpe_tokens"),
        )
    )


STRATIFIED_K = 40


@register(
    "sample_stratified_exact",
    oracle=f"""
SELECT lang, doc_id, rk
FROM (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rk
  FROM documents
)
WHERE rk <= {STRATIFIED_K}
""",
    doc="Stratified sampling with EXACT per-stratum counts: within each "
    f"language stratum, rank documents by md5(doc_id) and keep the first "
    f"{STRATIFIED_K} -- a deterministic hash-rank sample (stable under "
    "re-runs, appends only displace ranks below the new docs' hashes), "
    "unlike sampleBy()'s Bernoulli draw whose per-stratum size is "
    "binomial-random.  One shuffle on the stratum key; per-partition "
    "rank truncation means only ~k rows per stratum survive the window. "
    "Emits the selected rows themselves so the oracle pins the exact "
    "selection, not just counts.",
    tags=("text", "sampling", "stratified", "pipeline"),
)
def sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= STRATIFIED_K)
    )


NOVELTY_BUCKET = 50


@register(
    "text_novelty_curve",
    oracle=f"""
WITH sh AS (
  SELECT DISTINCT doc_id, unnest({{sh_d}}) AS sh
  FROM documents
),
firsts AS (
  SELECT doc_id, sh,
         MIN(doc_id) OVER (PARTITION BY sh) AS first_doc
  FROM sh
)
SELECT doc_id // {NOVELTY_BUCKET} AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(COUNT(*) FILTER (doc_id = first_doc) AS BIGINT) AS n_novel
FROM firsts
GROUP BY 1
""".format(sh_d=shingles_duckdb(tokens_duckdb("text"), 3)),
    doc="Corpus novelty curve -- the diminishing-returns diagnostic for "
    "data collection: ingesting documents in doc_id order, what "
    "fraction of each bucket's distinct 3-gram shingles has never "
    "appeared in an earlier document?  First occurrence is a MIN "
    "window over the shingle key (one shuffle, no groupBy+join-back "
    "-- the AQE broadcast-conversion-safe shape), novelty is an exact "
    "integer pair per {NOVELTY_BUCKET}-doc bucket.  A flattening "
    "curve says new data is duplicating old data -- the signal that "
    "drives crawl re-prioritization at 100 TB.".format(
        NOVELTY_BUCKET=NOVELTY_BUCKET
    ),
    tags=("text", "novelty", "profile", "pipeline"),
)
def text_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(
            F.expr(shingles_spark(tokens_spark("text"), 3))
        ).alias("sh"),
    ).distinct()
    firsts = sh.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy("sh")).alias("first_doc"),
    )
    return (
        firsts.groupBy(F.expr(f"doc_id div {NOVELTY_BUCKET}").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.expr("count_if(doc_id = first_doc)")
            .cast("bigint")
            .alias("n_novel"),
        )
    )


# Sparse TF-cosine pair similarity: df cap bounds posting-list fan-out
# (PPJoin-style), pair count <= sum over capped terms of df^2/2.
# The cap is CORPUS-RELATIVE -- greatest(floor, |D| div frac_den), i.e.
# "drop terms appearing in more than 10% of documents, but never cap
# below 100" -- because an absolute cap silently empties the band as the
# corpus grows (at 10x the docs every informative shared term's df also
# grows ~10x; round-6 bench showed exactly that: 40 pairs at sf0.01,
# 0 at sf0.1).  Relative df banding is the standard stop-word/PPJoin
# heuristic and keeps per-term fan-out <= (|D|/10)^2/2 while the hub
# terms (df ~ 0.8|D| in this corpus) stay excluded at every scale.
COSINE_DF_CAP_FLOOR = 100
COSINE_DF_FRAC_DEN = 10  # cap = greatest(floor, n_docs div 10)
# Same integer-exact cap, rendered per dialect (integer division is
# `//` in DuckDB, `div` in Spark SQL).
_COSINE_CAP_DUCK = (
    f"GREATEST({COSINE_DF_CAP_FLOOR}, n_docs // {COSINE_DF_FRAC_DEN})"
)
_COSINE_CAP_SPARK = (
    f"greatest({COSINE_DF_CAP_FLOOR}, n_docs div {COSINE_DF_FRAC_DEN})"
)
COSINE_TOP_PAIRS = 40


@register(
    "text_tf_cosine_pairs",
    oracle=f"""
WITH postings AS MATERIALIZED (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({_TOKS_D}) AS term FROM documents)
  GROUP BY 1, 2
),
vocab AS (
  SELECT term FROM postings
  CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents) nd
  GROUP BY term, n_docs
  HAVING COUNT(*) BETWEEN 2 AND {_COSINE_CAP_DUCK}
),
capped AS MATERIALIZED (
  SELECT p.doc_id, p.term, p.tf FROM postings p JOIN vocab v USING (term)
),
norms AS (
  SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS norm2 FROM capped GROUP BY 1
),
dots AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         CAST(SUM(x.tf * y.tf) AS BIGINT) AS dot
  FROM capped x JOIN capped y
    ON x.term = y.term AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT d.doc_a, d.doc_b, d.dot,
       na.norm2 AS norm2_a, nb.norm2 AS norm2_b,
       CAST(d.dot AS DOUBLE)
         / sqrt(CAST(na.norm2 AS DOUBLE) * CAST(nb.norm2 AS DOUBLE))
         AS cosine
FROM dots d
JOIN norms na ON na.doc_id = d.doc_a
JOIN norms nb ON nb.doc_id = d.doc_b
ORDER BY cosine DESC, doc_a, doc_b
LIMIT {COSINE_TOP_PAIRS}
""",
    doc="Sparse TF-vector cosine similarity join over the corpus via an "
    "inverted index: per-doc term frequencies become posting lists, a "
    "CORPUS-RELATIVE document-frequency band (2 <= df <= "
    f"greatest({COSINE_DF_CAP_FLOOR}, |D| div {COSINE_DF_FRAC_DEN})) "
    "drops hub terms exactly like a PPJoin prefix "
    "filter (the df cap bounds per-term pair fan-out to (|D|/"
    f"{COSINE_DF_FRAC_DEN})^2/2 instead of "
    "|D|^2 -- THE knob that keeps a sparse similarity join feasible at "
    "100 TB; the cap scales with the corpus so the band never empties "
    "as |D| grows, unlike an absolute cap), "
    "then one self-join on term accumulates integer dot "
    "products and per-doc squared norms.  The cosine is a single "
    "division/sqrt over identical int64 operands, so the doubles are "
    "bit-exact cross-engine; top pairs are totally ordered "
    "(score, doc_a, doc_b) for a deterministic LIMIT.  Complements "
    "dedup_ngram_jaccard (set overlap) and dedup_embedding_cosine "
    "(dense vectors) with the weighted-bag sparse arm -- the classic "
    "plagiarism / near-duplicate ranking signal.",
    tags=("text", "similarity", "join", "dedup"),
    bench=True,
)
def text_tf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    postings = track_persist(
        docs.select(
            "doc_id", F.explode(F.expr(_TOKS_S)).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    vocab = (
        postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        # broadcast the 1-row corpus count -- the cap stays declarative
        # (no driver-side collect) and the plan is one map-side filter.
        .crossJoin(F.broadcast(nd))
        .where(F.expr(f"df between 2 and {_COSINE_CAP_SPARK}"))
        .select("term")
    )
    capped = track_persist(postings.join(vocab, "term").select(
        "doc_id", "term", "tf"
    ))
    norms = capped.groupBy("doc_id").agg(
        F.expr("cast(sum(tf * tf) as bigint)").alias("norm2")
    )
    x = capped.selectExpr("term", "doc_id AS doc_a", "tf AS tf_a")
    y = capped.selectExpr("term", "doc_id AS doc_b", "tf AS tf_b")
    dots = (
        x.join(y, "term")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.expr("cast(sum(tf_a * tf_b) as bigint)").alias("dot"))
    )
    na = norms.selectExpr("doc_id AS doc_a", "norm2 AS norm2_a")
    nb = norms.selectExpr("doc_id AS doc_b", "norm2 AS norm2_b")
    scored = (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "dot",
            "norm2_a",
            "norm2_b",
            F.expr(
                "cast(dot as double)"
                " / sqrt(cast(norm2_a as double) * cast(norm2_b as double))"
            ).alias("cosine"),
        )
    )
    return scored.orderBy(
        F.col("cosine").desc(), "doc_a", "doc_b"
    ).limit(COSINE_TOP_PAIRS)


# --- PMI collocation mining (phrase detection) --------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOP = 20


@register(
    "text_collocations_pmi",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_D} AS t FROM documents
),
bigrams AS (
  SELECT unnest(list_transform(range(1, len(t)),
                               i -> {{'w1': t[i], 'w2': t[i + 1]}})) AS bg
  FROM toks WHERE len(t) >= 2
),
bg_counts AS (
  SELECT bg.w1 AS w1, bg.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM bigrams GROUP BY 1, 2
),
uni AS (
  SELECT unnest(t) AS w FROM toks
),
uni_counts AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w FROM uni GROUP BY w
),
tot AS (
  SELECT CAST(SUM(n_ab) AS BIGINT) AS n_total FROM bg_counts
),
scored AS (
  SELECT b.w1, b.w2, b.n_ab, ua.n_w AS n_a, ub.n_w AS n_b, tot.n_total,
         CAST(tot.n_total * b.n_ab AS DOUBLE)
           / CAST(ua.n_w * ub.n_w AS DOUBLE) AS pmi_odds
  FROM bg_counts b
  JOIN uni_counts ua ON ua.w = b.w1
  JOIN uni_counts ub ON ub.w = b.w2
  CROSS JOIN tot
  WHERE b.n_ab >= {_PMI_MIN_COUNT}
)
SELECT * FROM scored
ORDER BY pmi_odds DESC, w1, w2
LIMIT {_PMI_TOP}
""",
    doc="Collocation / phrase mining by pointwise mutual information -- the "
    "word2phrase pass a tokenizer pipeline runs to promote 'new york'-"
    "style units before training: adjacent-bigram counts against "
    "unigram marginals, scored by the PMI ODDS N*c(ab)/(c(a)*c(b)) "
    "(the quantity PMI takes the log of; log itself diverges by 1 ulp "
    "cross-engine, the BM25 idf lesson) with a min-count support "
    f"filter at {_PMI_MIN_COUNT}.  Plan shape: one token explode for "
    "unigram counts, one windowless adjacent-pair expand for bigram "
    "counts, two vocabulary-bounded joins and one broadcast scalar -- "
    "all counts are map-side-combinable, the heavy key space is the "
    "vocabulary, not the corpus.  Score is integer-exact up to one "
    "IEEE division; ties order by words so the top-k cut is "
    "deterministic.",
    tags=("text", "collocation", "statistics"),
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.expr(_TOKS_S).alias("t"))
    track_persist(toks)
    bigrams = toks.where(F.expr("size(t) >= 2")).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> named_struct('w1', t[i - 1], 'w2', t[i]))"
            )
        ).alias("bg")
    )
    bg_counts = bigrams.groupBy(
        F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    uni_counts = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_w"))
    )
    tot = bg_counts.agg(F.sum("n_ab").cast("bigint").alias("n_total"))
    scored = (
        bg_counts.where(F.col("n_ab") >= _PMI_MIN_COUNT)
        .join(
            F.broadcast(uni_counts.select(F.col("w").alias("w1"),
                                          F.col("n_w").alias("n_a"))),
            "w1",
        )
        .join(
            F.broadcast(uni_counts.select(F.col("w").alias("w2"),
                                          F.col("n_w").alias("n_b"))),
            "w2",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_ab",
            "n_a",
            "n_b",
            "n_total",
            F.expr(
                "cast(n_total * n_ab as double)"
                " / cast(n_a * n_b as double)"
            ).alias("pmi_odds"),
        )
    )
    return scored.orderBy(
        F.desc("pmi_odds"), "w1", "w2"
    ).limit(_PMI_TOP)


# --- Term burstiness (dispersion / Fano factor) --------------------------------

_BURST_MIN_DOCS = 10
_BURST_TOP = 20


@register(
    "text_term_burstiness",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_D} AS t FROM documents
),
n_docs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
tf AS (
  SELECT doc_id, unnest(t) AS w FROM toks
),
per_doc AS (
  SELECT w, doc_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM tf GROUP BY w, doc_id
),
stats AS (
  SELECT w,
         CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(c) AS BIGINT) AS s1,
         CAST(SUM(c * c) AS BIGINT) AS s2
  FROM per_doc GROUP BY w
),
scored AS (
  -- Fano factor over ALL docs (zeros included): var/mean
  -- = (n*s2 - s1^2) / (n*s1)  -- integer numerator, one division.
  SELECT s.w, s.df, s.s1, s.s2,
         CAST(nd.n * s.s2 - s.s1 * s.s1 AS DOUBLE)
           / CAST(nd.n * s.s1 AS DOUBLE) AS fano
  FROM stats s CROSS JOIN n_docs nd
  WHERE s.df >= {_BURST_MIN_DOCS} AND s.s1 > 0
)
SELECT w, df, s1, s2, fano FROM scored
ORDER BY fano DESC, w
LIMIT {_BURST_TOP}
""",
    doc="TERM BURSTINESS by the exact Fano factor (variance-to-mean of "
    "per-document counts, zeros included): bursty terms concentrate "
    "their occurrences in few documents (content words, names, spam "
    "signatures) while function words spread evenly near Fano=1 -- "
    "the dispersion diagnostic behind Church-Gale burstiness, "
    "stop-list induction and spam-phrase surfacing.  Exactness: "
    "(n*s2 - s1^2)/(n*s1) from integer per-doc count moments, one "
    "IEEE division; the min-df support filter and (fano, word) "
    "ordering make the top-k cut deterministic.  Plan: one token "
    "explode, two vocabulary-keyed map-side-combinable aggregates, a "
    "broadcast scalar -- corpus touched once.",
    tags=("text", "statistics", "burstiness"),
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(_TOKS_S).alias("t"))
    track_persist(toks)
    n_docs = toks.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    per_doc = (
        toks.select("doc_id", F.explode("t").alias("w"))
        .groupBy("w", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    stats = per_doc.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    scored = (
        stats.where(
            (F.col("df") >= _BURST_MIN_DOCS) & (F.col("s1") > 0)
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "w",
            "df",
            "s1",
            "s2",
            F.expr(
                "cast(n * s2 - s1 * s1 as double)"
                " / cast(n * s1 as double)"
            ).alias("fano"),
        )
    )
    return scored.orderBy(F.desc("fano"), "w").limit(_BURST_TOP)


# --- DSIR importance resampling -----------------------------------------

DSIR_BUCKETS = 64  # hashed-unigram feature dimension (Xie et al. 2023 use 10k)
DSIR_SCALE = 1000000  # integer grid for the per-bucket importance ratio
DSIR_K = 50  # resample size
DSIR_TARGET_LANG = "en"  # the "target distribution" slice

# Engine-neutral integer ratio: floor(SCALE * p_hat/q_hat) with full Laplace
# smoothing ((cnt + 1)/(total + BUCKETS) on both distributions -- finite even
# when the corpus has no target-slice documents at all); every operand is an
# exact int64 cast to double, so both engines evaluate the identical IEEE
# expression and the floor lands on the same integer.  (The classic DSIR
# weight is sum of LOG ratios; ln() drifts by a ulp between the JVM and libm
# -- see queries_search -- so this uses the linearized ratio on an integer
# grid: per-bucket it is the same monotone ordering, and the summed
# surrogate plays the same role of up-weighting documents whose
# hashed-unigram profile matches the target.)
_DSIR_RATIO = (
    f"cast(floor((cast(tgt_cnt + 1 as double)"
    f" / cast(tgt_total + {DSIR_BUCKETS} as double))"
    f" / (cast(src_cnt + 1 as double)"
    f" / cast(src_total + {DSIR_BUCKETS} as double))"
    f" * cast({DSIR_SCALE} as double)) as bigint)"
)
_DSIR_RATIO_DUCK = (
    f"CAST(FLOOR((CAST(tgt_cnt + 1 AS DOUBLE)"
    f" / CAST(tgt_total + {DSIR_BUCKETS} AS DOUBLE))"
    f" / (CAST(src_cnt + 1 AS DOUBLE)"
    f" / CAST(src_total + {DSIR_BUCKETS} AS DOUBLE))"
    f" * CAST({DSIR_SCALE} AS DOUBLE)) AS BIGINT)"
)


@register(
    "sample_dsir_importance",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({_TOKS_D}) AS tok
  FROM documents WHERE len({_TOKS_D}) > 0
),
bucketed AS (
  SELECT doc_id, lang,
         ({hash64_sql_duckdb("tok", salt="dsir:")}) % {DSIR_BUCKETS} AS bucket
  FROM toks
),
counts AS (
  SELECT bucket, COUNT(*) AS src_cnt,
         SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS tgt_cnt
  FROM bucketed GROUP BY bucket
),
tot AS (SELECT SUM(src_cnt) AS src_total, SUM(tgt_cnt) AS tgt_total FROM counts),
ratios AS (
  SELECT bucket, {_DSIR_RATIO_DUCK} AS r FROM counts CROSS JOIN tot
),
scored AS (
  SELECT b.doc_id, CAST(SUM(r.r) AS BIGINT) AS score
  FROM bucketed b JOIN ratios r USING (bucket)
  GROUP BY b.doc_id
),
picked AS (
  SELECT d.lang, s.doc_id, s.score
  FROM scored s JOIN documents d USING (doc_id)
  ORDER BY s.score DESC, s.doc_id
  LIMIT {DSIR_K}
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(MIN(score) AS BIGINT) AS min_score,
       CAST(MAX(score) AS BIGINT) AS max_score
FROM picked GROUP BY lang
""",
    doc="DSIR-style importance resampling (Xie et al. 2023, 'Data Selection "
    "for Language Models via Importance Resampling'): hashed-unigram bag "
    f"features over {DSIR_BUCKETS} md5 buckets, per-bucket target/source "
    "importance ratio with add-one smoothing on an integer grid (linearized "
    "ratio instead of log -- see inline note), per-document score = sum of "
    f"its tokens' bucket ratios, top-{DSIR_K} resample rolled up per lang "
    "with an id checksum pinning the exact selection.  Scale shape: the "
    "corpus is scanned (and tokenized) exactly ONCE into a persisted "
    "compact per-doc bucket array (~8 B/token vs the raw text); the "
    "64-row bucket-count table comes from exploding that cached column "
    "(map-side partial agg, 64-group shuffle), the ratio table returns "
    "as a broadcast single-row MAP, scoring is a map-only pass over the "
    "same cached arrays (zero Python, zero shuffle), and the top-k is "
    "TakeOrdered -- no global sort.  At 100 TB: one corpus scan, one "
    "64-row shuffle.  (The round-7 50M-doc probe measured the previous "
    "two-scan form disk-bound on the doubled read+tokenize; caching the "
    "bucket arrays halves the scan bytes and drops the second "
    "tokenization -- results/scale_probe.txt records both forms.)",
    tags=("text", "sampling", "dsir", "pipeline"),
)
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash64_sql_spark

    docs = load_table(spark, sf_dir, "documents").where(
        F.expr(f"size({_TOKS_S}) > 0")
    )
    h_x = hash64_sql_spark("x", salt="dsir:")
    # One scan + one tokenization: every downstream pass reads this compact
    # (doc_id, lang, bucket-array) cache, never the raw text again.
    # SERIALIZED storage level: the deserialized array-row form is several
    # x the serialized bytes, and at the 50M-doc probe tier the
    # deserialized cache's unroll+GC cost exceeded a second corpus scan
    # (results/scale_probe.txt, round 8).
    from pyspark import StorageLevel

    bs = track_persist(
        docs.select(
            "doc_id",
            "lang",
            F.expr(
                f"transform({_TOKS_S}, x -> ({h_x}) % {DSIR_BUCKETS})"
            ).alias("bs"),
        ),
        storage_level=StorageLevel.MEMORY_AND_DISK,
    )
    counts = (
        bs.select(
            F.explode("bs").alias("bucket"),
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0).alias("is_tgt"),
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("src_cnt"), F.sum("is_tgt").alias("tgt_cnt"))
    )
    totals = counts.agg(
        F.sum("src_cnt").alias("src_total"), F.sum("tgt_cnt").alias("tgt_total")
    )
    ratios = counts.crossJoin(F.broadcast(totals)).select(
        "bucket", F.expr(_DSIR_RATIO).alias("r")
    )
    # 64-entry broadcast map: scoring becomes a map-only cache pass.
    rmap = ratios.agg(
        F.map_from_entries(F.collect_list(F.struct("bucket", "r"))).alias("rmap")
    )
    scored = bs.crossJoin(F.broadcast(rmap)).select(
        "doc_id",
        "lang",
        F.expr(
            "aggregate(transform(bs, b -> element_at(rmap, b)),"
            " 0L, (acc, v) -> acc + v)"
        ).alias("score"),
    )
    picked = scored.orderBy(F.desc("score"), "doc_id").limit(DSIR_K)
    return picked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
        F.min("score").cast("bigint").alias("min_score"),
        F.max("score").cast("bigint").alias("max_score"),
    )


# --- semantic chunking (cosine-dip boundaries) ----------------------------

CHUNK_WIN = 8  # tokens per window
# Boundary predicate: adjacent-window bag-of-words cosine < 1/2, tested
# entirely in integers: cos < 1/2  <=>  4*dot^2 < n1*n2 (dot >= 0), so
# the boundary decision -- and therefore the whole chunking -- never
# touches a float.


@register(
    "text_chunk_semantic",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, tok, CAST(i - 1 AS BIGINT) // {CHUNK_WIN} AS widx
  FROM (
    SELECT doc_id, unnest({_TOKS_D}) AS tok,
           generate_subscripts({_TOKS_D}, 1) AS i
    FROM documents WHERE len({_TOKS_D}) > 0
  )
),
wc AS (
  SELECT doc_id, widx, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY 1, 2, 3
),
norms AS (
  SELECT doc_id, widx, CAST(SUM(c * c) AS BIGINT) AS n2
  FROM wc GROUP BY 1, 2
),
dots AS (
  SELECT a.doc_id, a.widx, CAST(SUM(a.c * b.c) AS BIGINT) AS dot
  FROM wc a JOIN wc b
    ON a.doc_id = b.doc_id AND b.widx = a.widx + 1 AND a.tok = b.tok
  GROUP BY 1, 2
),
bounds AS (
  SELECT n.doc_id, n.widx,
         CASE WHEN n.widx = 0 THEN 0
              WHEN 4 * COALESCE(d.dot, 0) * COALESCE(d.dot, 0)
                   < p.n2 * n.n2 THEN 1 ELSE 0 END AS boundary
  FROM norms n
  LEFT JOIN norms p ON p.doc_id = n.doc_id AND p.widx = n.widx - 1
  LEFT JOIN dots d ON d.doc_id = n.doc_id AND d.widx = n.widx - 1
),
chunked AS (
  SELECT doc_id, widx,
         CAST(SUM(boundary) OVER (PARTITION BY doc_id ORDER BY widx)
              AS BIGINT) AS chunk_id
  FROM bounds
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(MAX(chunk_id) + 1 AS BIGINT) AS n_chunks,
       CAST(SUM((widx + 1) * chunk_id) AS BIGINT) AS assign_checksum
FROM chunked
GROUP BY doc_id
""",
    doc="Semantic chunking for RAG ingestion: documents split into "
    f"{CHUNK_WIN}-token windows, with a chunk boundary wherever the "
    "bag-of-words cosine between adjacent windows dips below 1/2 -- "
    "topic shifts become chunk breaks, unlike the fixed-stride chunker "
    "(text_chunk_overlap), which cuts mid-topic.  The dip test runs "
    "entirely in integers (cos < 1/2 <=> 4*dot^2 < |w1|^2*|w2|^2 for "
    "non-negative counts), so boundaries -- and the per-doc assignment "
    "checksum pinning every window->chunk mapping -- are bit-exact with "
    "no float anywhere.  Scale shape: one explode + (doc, window, "
    "token) groupBy, one adjacent-window equi-join co-keyed on (doc, "
    "token), and a per-doc running sum -- all shuffles keyed by doc "
    "or (doc, token); no corpus-wide state.",
    tags=("text", "chunking", "rag", "pipeline"),
)
def text_chunk_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").where(
        F.expr(f"size({_TOKS_S}) > 0")
    )
    toks = docs.select(
        "doc_id",
        F.posexplode(F.expr(_TOKS_S)).alias("i", "tok"),
    ).select(
        "doc_id", "tok", F.expr(f"cast(i as bigint) div {CHUNK_WIN}").alias("widx")
    )
    wc = toks.groupBy("doc_id", "widx", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    norms = wc.groupBy("doc_id", "widx").agg(
        F.sum(F.expr("c * c")).cast("bigint").alias("n2")
    )
    a = wc.alias("a")
    b = wc.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.widx") == F.col("a.widx") + 1)
            & (F.col("a.tok") == F.col("b.tok")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id"), F.col("a.widx").alias("widx")
        )
        .agg(F.sum(F.expr("a.c * b.c")).cast("bigint").alias("dot"))
    )
    n = norms.alias("n")
    p = norms.alias("p")
    d = dots.alias("d")
    bounds = (
        n.join(
            p,
            (F.col("p.doc_id") == F.col("n.doc_id"))
            & (F.col("p.widx") == F.col("n.widx") - 1),
            "left",
        )
        .join(
            d,
            (F.col("d.doc_id") == F.col("n.doc_id"))
            & (F.col("d.widx") == F.col("n.widx") - 1),
            "left",
        )
        .select(
            F.col("n.doc_id").alias("doc_id"),
            F.col("n.widx").alias("widx"),
            F.expr(
                "case when n.widx = 0 then 0"
                " when 4 * coalesce(d.dot, 0L) * coalesce(d.dot, 0L)"
                "      < p.n2 * n.n2 then 1 else 0 end"
            ).alias("boundary"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("widx")
    chunked = bounds.select(
        "doc_id",
        "widx",
        F.sum("boundary").over(w).cast("bigint").alias("chunk_id"),
    )
    return chunked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        (F.max("chunk_id") + 1).cast("bigint").alias("n_chunks"),
        F.sum(F.expr("(widx + 1) * chunk_id")).cast("bigint").alias(
            "assign_checksum"
        ),
    )


# --- Neyman-optimal stratified allocation ---------------------------------

NEYMAN_K = 100  # total sample size across strata

# Neyman allocation n_h = K * N_h*S_h / sum(N_h*S_h).  The weight
# N_h*S_h is computed as floor(sqrt(N_h*sum(x^2) - sum(x)^2)) -- that
# radicand equals N_h^2 * var_h exactly in int64, and IEEE sqrt of an
# identical integer-valued double is correctly rounded in both engines,
# so the floor lands identically (the language_temperature precedent).
# Integer seats are dealt by largest remainder (exact total, no floats).
# int64 budget: N_h * sum(x^2) with x = n_chars <= ~1e4 needs
# N_h^2 * x^2 < 2^63 -> N_h < ~3e5 per stratum at this x; quantize x
# down (or lift to DECIMAL) beyond that -- the documented knob.


@register(
    "sample_neyman_allocation",
    oracle=f"""
WITH strata AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_h,
         CAST(COUNT(*) * SUM(n_chars * n_chars) - SUM(n_chars) * SUM(n_chars)
              AS BIGINT) AS v_h
  FROM documents GROUP BY lang
),
weighted AS (
  SELECT lang, n_h,
         CAST(FLOOR(sqrt(CAST(v_h AS DOUBLE))) AS BIGINT) AS w_h
  FROM strata
),
tot AS (SELECT CAST(SUM(w_h) AS BIGINT) AS w_tot FROM weighted),
seats AS (
  SELECT lang, n_h, w_h,
         CAST(({NEYMAN_K} * w_h) // w_tot AS BIGINT) AS base,
         CAST(({NEYMAN_K} * w_h) % w_tot AS BIGINT) AS rem
  FROM weighted CROSS JOIN tot
),
dealt AS (
  SELECT lang, n_h, w_h,
         CAST(base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, lang)
                          <= {NEYMAN_K} - (SELECT SUM(base) FROM seats)
                     THEN 1 ELSE 0 END AS BIGINT) AS alloc
  FROM seats
),
picked AS (
  SELECT d.lang, d.doc_id
  FROM (
    SELECT lang, doc_id,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY md5('ney:' || CAST(doc_id AS VARCHAR)),
                                       doc_id) AS rk
    FROM documents
  ) d JOIN dealt a ON a.lang = d.lang AND d.rk <= a.alloc
)
SELECT w.lang, w.n_h, w.w_h, a.alloc,
       CAST(COUNT(p.doc_id) AS BIGINT) AS n_sampled,
       CAST(COALESCE(SUM(p.doc_id), 0) AS BIGINT) AS id_checksum
FROM weighted w
JOIN dealt a ON a.lang = w.lang
LEFT JOIN picked p ON p.lang = w.lang
GROUP BY 1, 2, 3, 4
""",
    doc="Neyman-optimal stratified sampling: per-language strata get "
    f"sample seats proportional to N_h * S_h (the allocation minimizing "
    "the stratified-mean variance for a fixed budget), with the weight "
    "computed as floor(sqrt(N*sum(x^2) - sum(x)^2)) -- an exact-int64 "
    "radicand equal to N^2 * var, so the irrational S_h never leaves "
    "the correctly-rounded-sqrt-then-floor form both engines share.  "
    f"The {NEYMAN_K} seats are dealt by largest remainder (exact total, "
    "all integer), and the selected rows are a per-stratum hash-rank "
    "prefix whose id checksum pins the exact sample.  Completes the "
    "sampling family's design-of-experiments arm (proportional, "
    "temperature, weighted, exact-count -> variance-optimal).  One "
    "shuffle on the stratum key; the allocation table is "
    "strata-bounded.",
    tags=("text", "sampling", "stratified", "pipeline"),
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    strata = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        (
            F.count(F.lit(1)) * F.sum(F.expr("n_chars * n_chars"))
            - F.sum("n_chars") * F.sum("n_chars")
        )
        .cast("bigint")
        .alias("v_h"),
    )
    weighted = strata.select(
        "lang",
        "n_h",
        F.expr("cast(floor(sqrt(cast(v_h as double))) as bigint)").alias(
            "w_h"
        ),
    )
    tot = weighted.agg(F.sum("w_h").cast("bigint").alias("w_tot"))
    seats = weighted.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_h",
        "w_h",
        F.expr(f"({NEYMAN_K} * w_h) div w_tot").cast("bigint").alias("base"),
        F.expr(f"({NEYMAN_K} * w_h) % w_tot").cast("bigint").alias("rem"),
    )
    base_tot = seats.agg(F.sum("base").cast("bigint").alias("base_tot"))
    # global-window: largest-remainder seat deal over the LANGUAGE table
    wdeal = Window.orderBy(F.desc("rem"), "lang")
    dealt = (
        seats.crossJoin(F.broadcast(base_tot))
        .select(
            "lang",
            "n_h",
            "w_h",
            (
                F.col("base")
                + F.when(
                    F.row_number().over(wdeal)
                    <= F.lit(NEYMAN_K) - F.col("base_tot"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("alloc"),
        )
    )
    wrk = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("ney:"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    ranked = docs.select(
        "lang", "doc_id", F.row_number().over(wrk).alias("rk")
    )
    picked = ranked.join(F.broadcast(dealt.select("lang", "alloc")), "lang").where(
        F.col("rk") <= F.col("alloc")
    )
    return (
        dealt.join(
            picked.groupBy("lang").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
                F.sum("doc_id").cast("bigint").alias("id_checksum"),
            ),
            "lang",
            "left",
        )
        .select(
            "lang",
            "n_h",
            "w_h",
            "alloc",
            F.coalesce("n_sampled", F.lit(0).cast("bigint")).alias(
                "n_sampled"
            ),
            F.coalesce("id_checksum", F.lit(0).cast("bigint")).alias(
                "id_checksum"
            ),
        )
    )
