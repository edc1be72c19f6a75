"""Deduplication queries (north-star pipeline operators) with exact oracles.

Every strategy in operators/dedup.py is registered here against the testdata,
and -- because all hashing is the portable md5 scheme -- each one has a FULL
DuckDB oracle, including MinHash-LSH and SimHash (the oracle SQL mirrors the
operator's dataflow: shingle -> signature -> band -> candidate -> verify).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import shingles_duckdb, tokens_duckdb, tokens_spark
from ..operators.dedup import (
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    normalized_dedup,
    simhash_pairs,
)
from ..runtime import track_persist
from ..tables import load_table
from .registry import register

_TOKS_D = tokens_duckdb("text")

MINHASH_K = 16
MINHASH_BANDS = 8
MINHASH_SHINGLE = 3
MINHASH_THRESHOLD = 0.5
MINHASH_MAX_BUCKET = 1000  # skew guard: drop band buckets larger than this
NGRAM_N = 4
NGRAM_THRESHOLD = 0.4
NGRAM_DF_CAP = 50  # shingles in more docs than this are stop-shingles
SIMHASH_BITS = 60  # the portable hash is 60-bit; 4 bands x 15 bits
SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 3  # < SIMHASH_BANDS => banding has full recall
SIMHASH_MAX_BUCKET = 1000  # degenerate-band cap, mirrored in the oracle
EMBED_THRESHOLD = 0.4
# 4 planes = 16-way blocking: candidate count ~6% of all-pairs on the
# testdata while still surfacing pairs at every SF (8 planes over-prunes at
# cos 0.4: P[same bucket] = (1 - theta/pi)^planes ~ 2.5%).
EMBED_PLANES = 4
EMBED_DIM = 64


@register(
    "dedup_exact",
    oracle="""
SELECT md5(props) AS value_hash,
       COUNT(*) AS n_copies,
       MIN(event_id) AS rep_id
FROM events
GROUP BY 1
""",
    doc="Exact dedup: hash-groupBy on the raw value (events.props has heavy "
    "duplication); emits copy counts + representative ids.",
    tags=("dedup",),
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, sf_dir, "events"), "props", "event_id")


@register(
    "dedup_exact_normalized",
    oracle=f"""
SELECT md5(array_to_string(list_sort(list_distinct({_TOKS_D})), ' ')) AS tokenset_hash,
       COUNT(*) AS n_members,
       MIN(doc_id) AS rep_id
FROM documents
GROUP BY 1
""",
    doc="Normalized exact dedup: canonical sorted distinct-token-set hash "
    "(catches word-order shuffles and repetition).",
    tags=("dedup",),
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return normalized_dedup(load_table(spark, sf_dir, "documents"), "text", "doc_id")


def _minhash_pairs_cte(src: str = "documents") -> str:
    """CTE chain (no WITH prefix) ending in the verified near-dup `pairs`
    table -- shared by the pair query and the cluster query's oracle.
    ``src`` is the (doc_id, text) relation to shingle -- `documents` for
    the corpus queries, a generated CTE for the planted-recall harness.

    Cost notes (the oracle runs inside the driver's time-capped correctness
    pass): signatures aggregate k universal-hash permutations of ONE md5 per
    exploded shingle -- the same shape as the Spark side -- instead of
    re-hashing inside k list_transform lambdas; the expensive CTEs are
    MATERIALIZED so the recursive-CTE consumers (dedup_clusters,
    pipeline_clean_corpus) evaluate them once, not per iteration."""
    from ..functions.hashing import P31, hash64_sql_duckdb, perm_consts

    n, k, bands = MINHASH_SHINGLE, MINHASH_K, MINHASH_BANDS
    rows = k // bands
    sig_cols = ",\n         ".join(
        f"MIN(({a} * h + {b}) % {P31}) AS m{j}"
        for j, (a, b) in enumerate(perm_consts(k))
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_idx, "
        f"concat_ws(',', {', '.join(f'm{b * rows + r}' for r in range(rows))})"
        " AS band_hash FROM sig"
        for b in range(bands)
    )
    return f"""docsets AS MATERIALIZED (
  SELECT doc_id, {shingles_duckdb(_TOKS_D, n)} AS shset
  FROM {src}
),
sh AS MATERIALIZED (
  SELECT doc_id, unnest(shset) AS sh FROM docsets
),
sig AS MATERIALIZED (
  SELECT doc_id,
         {sig_cols}
  FROM (SELECT doc_id, ({hash64_sql_duckdb('sh')}) % {P31} AS h FROM sh)
  GROUP BY doc_id
),
bands AS (
{band_rows}
),
mh_kept AS (
  SELECT doc_id, band_idx, band_hash FROM bands
  QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_hash) <= {MINHASH_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM mh_kept l JOIN mh_kept r
    ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND a.sh = b.sh
  GROUP BY 1, 2
),
pairs AS MATERIALIZED (
  SELECT i.doc_a, i.doc_b,
         CAST(i.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.inter) AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE CAST(i.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.inter) >= {MINHASH_THRESHOLD}
)
"""


def _minhash_oracle() -> str:
    return "WITH " + _minhash_pairs_cte() + "SELECT doc_a, doc_b, jaccard FROM pairs"


@register(
    "dedup_minhash_lsh",
    oracle=_minhash_oracle(),
    doc="MinHash + LSH near-dup pairs: 16 portable minhashes over 3-word "
    "shingles, 8 bands x 2 rows candidate generation, exact-Jaccard "
    "verification at 0.5 (operators/dedup.py:minhash_lsh_pairs).",
    tags=("dedup", "minhash", "lsh"),
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        n=MINHASH_SHINGLE,
        k=MINHASH_K,
        bands=MINHASH_BANDS,
        threshold=MINHASH_THRESHOLD,
        max_bucket=MINHASH_MAX_BUCKET,
    )


@register(
    "dedup_clusters",
    oracle="WITH RECURSIVE "
    + _minhash_pairs_cte()
    + """,
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
reach AS (
  SELECT s AS node, s AS label FROM edges
  UNION
  SELECT e.d AS node, r.label FROM reach r JOIN edges e ON e.s = r.node
)
SELECT node AS doc_id, MIN(label) AS cluster_rep
FROM reach GROUP BY node
""",
    doc="Duplicate clusters: connected components over the verified "
    "MinHash-LSH pair graph via iterative min-label propagation "
    "(operators/dedup.py:connected_components) -- the iterative-algorithm "
    "path; the oracle is a recursive CTE computing the same "
    "order-independent fixpoint.",
    tags=("dedup", "clusters", "iterative", "custom-operator"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components

    pairs = minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        n=MINHASH_SHINGLE,
        k=MINHASH_K,
        bands=MINHASH_BANDS,
        threshold=MINHASH_THRESHOLD,
        max_bucket=MINHASH_MAX_BUCKET,
    )
    return connected_components(pairs)


def _simhash_band_arms_independent(
    bits: int, bands: int, max_hamming: int, blocks: int | None
) -> list[str]:
    """DELIBERATELY independent re-derivation of the banding for the
    oracle: floor-division/modulus arithmetic and a local combination
    enumeration instead of importing the operator's shift/mask
    simhash_band_exprs.  Same int64 values by construction, but a bug in
    the operator's enumeration (wrong combo set, wrong widths) renders
    DIFFERENT band values here and fails the driver gate instead of being
    common-mode invisible -- the property the pre-banding direct-definition
    oracle had, restored."""
    if blocks is None:
        w = bits // bands
        return [
            f"(simhash // {1 << (b * w)}) % {1 << w} AS band_val, "
            f"{b} AS band_idx"
            for b in range(bands)
        ]
    from itertools import combinations

    m, k = blocks, max_hamming
    bw = bits // m
    arms = []
    for idx, combo in enumerate(combinations(range(m), m - k)):
        parts = [
            f"(((simhash // {1 << (c * bw)}) % {1 << bw}) * {1 << (j * bw)})"
            for j, c in enumerate(combo)
        ]
        arms.append(f"{' + '.join(parts)} AS band_val, {idx} AS band_idx")
    return arms


def _simhash_oracle(blocks: int | None = None) -> str:
    # The oracle mirrors the Spark side's banding semantics (same band
    # values, same max_bucket cap) but derives the band values through an
    # INDEPENDENT spelling (_simhash_band_arms_independent) and verifies
    # candidates with the direct Hamming radius.  Both banding schemes are
    # full-recall (pigeonhole -- contiguous: a pair differing in <= 3 bit
    # positions cannot differ in all 4 bands; blocks=m: <= 3 flipped bits
    # touch <= 3 of m blocks, so some (m-3)-combination is identical), so
    # absent a capped bucket this equals the all-pairs definition; WITH
    # the cap, both engines drop candidates from the SAME degenerate
    # buckets, keeping the hash compare exact.
    bits = SIMHASH_BITS
    bit_sums = ",\n         ".join(
        f"SUM((h >> {j}) & 1) AS b{j}" for j in range(bits)
    )
    sim_expr = " + ".join(
        f"(CASE WHEN 2 * b{j} - n_tok >= 0 THEN CAST({1 << j} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits)
    )
    band_arms = "\n  UNION ALL ".join(
        f"SELECT doc_id, simhash, {arm} FROM sims"
        for arm in _simhash_band_arms_independent(
            bits, SIMHASH_BANDS, SIMHASH_MAX_HAMMING, blocks
        )
    )
    return f"""
WITH tok AS (
  SELECT doc_id,
         ('0x' || substr(md5(unnest({_TOKS_D})), 1, 15))::BIGINT AS h
  FROM documents
),
sums AS (
  SELECT doc_id,
         {bit_sums},
         COUNT(*) AS n_tok
  FROM tok GROUP BY doc_id
),
sims AS MATERIALIZED (SELECT doc_id, {sim_expr} AS simhash FROM sums),
banded AS MATERIALIZED (
  {band_arms}
),
keep AS (
  SELECT band_idx, band_val FROM banded
  GROUP BY 1, 2 HAVING COUNT(*) <= {SIMHASH_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sim_a,
                  b.doc_id AS doc_b, b.simhash AS sim_b
  FROM banded a
  JOIN keep k ON k.band_idx = a.band_idx AND k.band_val = a.band_val
  JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= {SIMHASH_MAX_HAMMING}
"""


@register(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    doc="SimHash near-dup pairs: 60-bit portable simhash over tokens, "
    "signature-band blocked Hamming join at distance <= 3 (multi-index "
    "scheme, full recall since bands > max_hamming; "
    "operators/dedup.py:simhash_pairs) with the degenerate-bucket cap "
    f"(max_bucket={SIMHASH_MAX_BUCKET}) mirrored in the oracle.  The "
    "4x15-bit contiguous banding is gate-sized (2^15 buckets/band); the "
    "operator's block-combination form (blocks=m, C(m,m-k) bands of "
    "(m-k)*(bits/m)-bit keys) is the 10^9-doc scale path -- sizing rule "
    "and 5M-doc probe in operators/dedup.py:simhash_band_exprs and "
    "results/scale_probe.txt.",
    tags=("dedup", "simhash"),
    bench=True,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_query(spark, sf_dir)


def _simhash_query(
    spark: SparkSession, sf_dir: str, blocks: int | None = None
) -> DataFrame:
    """Shared body of dedup_simhash / dedup_simhash_blocks: the two
    registered queries differ ONLY in the banding scheme and must stay in
    lockstep (same constants, projection, cap) for the documented
    pair-set-equality contract."""
    from pyspark.sql import functions as F

    pairs = simhash_pairs(
        load_table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        bits=SIMHASH_BITS,
        bands=SIMHASH_BANDS,
        max_hamming=SIMHASH_MAX_HAMMING,
        blocks=blocks,
        max_bucket=SIMHASH_MAX_BUCKET,
    )
    return pairs.select(
        "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
    )


SIMHASH_BLOCKS = 6  # C(6,3) = 20 bands of 30-bit keys: 2^30 buckets/band


@register(
    "dedup_simhash_blocks",
    oracle=_simhash_oracle(blocks=SIMHASH_BLOCKS),
    doc="SimHash near-dup pairs through the BLOCK-COMBINATION banding "
    f"(Manku WWW'07 multi-table form): the 60-bit signature splits into "
    f"{SIMHASH_BLOCKS} blocks of 10 bits and each of C({SIMHASH_BLOCKS},"
    f"{SIMHASH_BLOCKS - SIMHASH_MAX_HAMMING}) = 20 bands keys on a "
    "30-bit concatenation of 3 blocks -- 2^30 buckets per band vs the "
    "contiguous scheme's 2^15, so average bucket occupancy (and with it "
    "the N^2/2^width candidate cliff) is pushed out to ~10^10 docs.  "
    "Full recall by pigeonhole (<= 3 flipped bits touch <= 3 blocks, so "
    "some 3-block combination is identical), so the output EQUALS "
    "dedup_simhash's pair set; the oracle mirrors the exact banding and "
    "the same degenerate-bucket cap.  20 scan-side duplicates of one "
    "int64 column is the price of recall -- cheap next to the join it "
    "prevents (operators/dedup.py:simhash_band_exprs has the sizing "
    "rule; results/scale_probe.txt the measured tiers).",
    tags=("dedup", "simhash", "scale"),
)
def dedup_simhash_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_query(spark, sf_dir, blocks=SIMHASH_BLOCKS)


def _ngram_oracle() -> str:
    n = NGRAM_N
    return f"""
WITH docsets AS MATERIALIZED (
  SELECT doc_id, {shingles_duckdb(_TOKS_D, n)} AS shset FROM documents
),
sh AS MATERIALIZED (SELECT doc_id, unnest(shset) AS sh FROM docsets),
hot AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) > {NGRAM_DF_CAP}),
idx AS (SELECT s.doc_id, s.sh FROM sh s ANTI JOIN hot h ON s.sh = h.sh),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM idx a JOIN idx b ON a.sh = b.sh AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND a.sh = b.sh
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       CAST(i.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.inter) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.inter) >= {NGRAM_THRESHOLD}
"""


@register(
    "dedup_ngram_jaccard",
    oracle=_ngram_oracle(),
    doc="N-gram Jaccard dedup with the DF-capped output contract: 4-word "
    "shingles; pairs must share at least one shingle appearing in <= "
    f"{NGRAM_DF_CAP} docs (pairs sharing nothing but stop-shingles are "
    "deliberately out of scope) and are verified with the exact Jaccard "
    "over the FULL shingle sets.  Since round 4 the CANDIDATE generator "
    "is the PPJoin prefix bound (a provable superset of all J >= t "
    "pairs; the scale probe measured the old posting-list self-join at "
    "7.2x per 10x data vs 5.9x for prefix), with the DF-cap scope "
    "filter applied to the verified pairs via broadcast-pruned scans "
    "(operators/dedup.py:ngram_jaccard_pairs).",
    tags=("dedup", "jaccard"),
    bench=True,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        n=NGRAM_N,
        threshold=NGRAM_THRESHOLD,
        df_cap=NGRAM_DF_CAP,
    )


WINNOW_K = 24
WINNOW_W = 16
WINNOW_DF_CAP = 20
WINNOW_MIN_SHARED = 3


def _winnow_oracle() -> str:
    from ..functions.hashing import hash64_sql_duckdb

    k, w = WINNOW_K, WINNOW_W
    gh = hash64_sql_duckdb(f"substr(text, CAST(pos AS INT), {k})")
    return f"""
WITH pos_ AS (
  SELECT doc_id, text, n_chars,
         CAST(unnest(range(1, n_chars - {k} + 2)) AS BIGINT) AS pos
  FROM documents WHERE n_chars >= {k}
),
grams AS (
  SELECT doc_id, pos, n_chars, {gh} AS gh FROM pos_
),
wmin AS (
  SELECT doc_id, pos, n_chars,
         MIN(gh) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp
  FROM grams
),
fps AS (
  SELECT DISTINCT doc_id, fp FROM wmin
  WHERE pos <= n_chars - {k} - {w} + 2
),
hot AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) > {WINNOW_DF_CAP}),
idx AS (SELECT f.doc_id, f.fp FROM fps f ANTI JOIN hot h USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
"""


@register(
    "dedup_winnow_spans",
    oracle=_winnow_oracle(),
    doc="Copied-passage pairs via winnowing fingerprints (Schleimer et al. "
    "SIGMOD'03, the MOSS algorithm): every k-char gram hashed, each "
    "w-gram window contributes its MIN hash, so any shared substring of "
    f">= {WINNOW_K + WINNOW_W - 1} chars yields an identical fingerprint "
    "in both documents at ANY offset -- position-independent passage "
    "detection that fixed-stride chunk hashing cannot do.  Boilerplate "
    f"fingerprints (> {WINNOW_DF_CAP} docs) are dropped from pair "
    "generation; pairs need >= "
    f"{WINNOW_MIN_SHARED} shared rare fingerprints "
    "(operators/dedup.py:winnow_span_pairs).",
    tags=("dedup", "winnowing", "contamination"),
    bench=True,
)
def dedup_winnow_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import winnow_span_pairs

    return winnow_span_pairs(
        load_table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        k=WINNOW_K,
        w=WINNOW_W,
        df_cap=WINNOW_DF_CAP,
        min_shared=WINNOW_MIN_SHARED,
    )


def _ngram_prefix_oracle() -> str:
    # The DIRECT definition: every pair with full-set Jaccard >= t (J > 0
    # implies sharing a shingle, so the shingle join loses nothing).  No
    # DF cap, no prefix machinery -- the oracle states the semantics, the
    # Spark side earns them at scale via prefix filtering.
    n = NGRAM_N
    return f"""
WITH docsets AS MATERIALIZED (
  SELECT doc_id, {shingles_duckdb(_TOKS_D, n)} AS shset FROM documents
),
sh AS MATERIALIZED (SELECT doc_id, unnest(shset) AS sh FROM docsets),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       CAST(i.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.inter) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.inter) >= {NGRAM_THRESHOLD}
"""


@register(
    "dedup_ngram_prefix",
    oracle=_ngram_prefix_oracle(),
    doc="EXACT threshold-Jaccard near-dup pairs via prefix filtering "
    "(PPJoin-family bound: index only each doc's |S|-ceil(t|S|)+1 "
    "rarest-first shingles; any pair at Jaccard >= t provably collides "
    "inside both prefixes, then full-set verification makes the output "
    "exactly the threshold join -- no DF cap, no out-of-scope pairs, "
    "unlike dedup_ngram_jaccard).  Candidates are generated once per "
    "shared PREFIX shingle, and prefix shingles are rare by construction, "
    "so posting lists stay short at 100 TB "
    "(operators/dedup.py:ngram_jaccard_pairs_prefix).",
    tags=("dedup", "jaccard", "prefix"),
    bench=True,
)
def dedup_ngram_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs_prefix

    return ngram_jaccard_pairs_prefix(
        load_table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        n=NGRAM_N,
        threshold_num=2,
        threshold_den=5,
    )


def _embedding_oracle() -> str:
    from ..operators.similarity import bucket_expr_duckdb

    bucket = bucket_expr_duckdb("embedding", EMBED_PLANES, EMBED_DIM)
    cos = (
        "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
        " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
    )
    return f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cos_sim
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {cos} >= {EMBED_THRESHOLD}
"""


@register(
    "dedup_embedding_cosine",
    oracle=_embedding_oracle(),
    doc="Embedding-cosine near-dup pairs blocked on the deterministic "
    f"sign-LSH bucket (the ANN machinery reused as the dedup blocker: "
    f"candidates = same {1 << EMBED_PLANES}-way bucket from "
    f"{EMBED_PLANES} hyperplanes, then exact cosine verify -- the "
    "candidate/verify shape that survives 100 TB, never all-pairs).",
    tags=("dedup", "embedding", "lsh"),
    bench=True,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        "embedding",
        "vec_id",
        threshold=EMBED_THRESHOLD,
        n_planes=EMBED_PLANES,
        dim=EMBED_DIM,
    )


INC_BATCH_MOD = 10  # hash slice: ~10% of documents arrive as the "new batch"


def _inc_batch_duckdb(idexpr: str) -> str:
    from ..functions.hashing import hash64_sql_duckdb

    h = hash64_sql_duckdb(f"CAST({idexpr} AS VARCHAR)", salt="inc:")
    return f"({h}) % {INC_BATCH_MOD} = {INC_BATCH_MOD - 1}"


def _incremental_oracle() -> str:
    return (
        "WITH "
        + _minhash_pairs_cte()
        + f""",
inc_sides AS (
  SELECT doc_id, {_inc_batch_duckdb('doc_id')} AS is_batch,
         md5(array_to_string(list_sort(list_distinct({_TOKS_D})), ' ')) AS th
  FROM documents
),
inc_corpus_hashes AS (
  SELECT DISTINCT th FROM inc_sides WHERE NOT is_batch
),
inc_near_ids AS (
  SELECT doc_a AS doc_id FROM pairs
  WHERE ({_inc_batch_duckdb('doc_a')}) AND NOT ({_inc_batch_duckdb('doc_b')})
  UNION
  SELECT doc_b FROM pairs
  WHERE ({_inc_batch_duckdb('doc_b')}) AND NOT ({_inc_batch_duckdb('doc_a')})
)
SELECT outcome, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM (
  SELECT s.doc_id,
         CASE WHEN s.th IN (SELECT th FROM inc_corpus_hashes)
                THEN 'dropped_exact'
              WHEN s.doc_id IN (SELECT doc_id FROM inc_near_ids)
                THEN 'dropped_near'
              ELSE 'kept' END AS outcome
  FROM inc_sides s WHERE s.is_batch
)
GROUP BY outcome
"""
    )


@register(
    "dedup_incremental",
    oracle=_incremental_oracle(),
    doc="Incremental dedup of a new batch against the existing corpus -- the "
    "production shape for a continuously growing training set (the corpus "
    "is NOT re-deduped; only the arriving slice is checked).  A hash-"
    "deterministic 10% of documents plays the new batch.  Stage 1 drops "
    "batch docs whose normalized tokenset hash already exists in the "
    "corpus (one shuffle on the hash); stage 2 drops survivors that "
    "MinHash-LSH-pair with a corpus doc (band-bucket candidates + exact "
    "Jaccard verify; the cross-side pair endpoints are a tiny broadcast). "
    "Emits per-outcome counts + id checksums pinning the exact decision "
    "for every batch doc.",
    tags=("dedup", "incremental", "minhash", "pipeline"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash64_sql_spark

    docs = load_table(spark, sf_dir, "documents")
    is_batch = (
        f"({hash64_sql_spark('cast(doc_id as string)', salt='inc:')})"
        f" % {INC_BATCH_MOD} = {INC_BATCH_MOD - 1}"
    )
    sides = docs.select(
        "doc_id",
        F.expr(is_batch).alias("is_batch"),
        F.expr(
            f"md5(concat_ws(' ', array_sort(array_distinct({tokens_spark('text')}))))"
        ).alias("th"),
    )
    corpus_hashes = (
        sides.where(~F.col("is_batch"))
        .select("th")
        .distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    batch = sides.where(F.col("is_batch"))

    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id",
        n=MINHASH_SHINGLE, k=MINHASH_K, bands=MINHASH_BANDS,
        threshold=MINHASH_THRESHOLD, max_bucket=MINHASH_MAX_BUCKET,
    )
    batch_a = f"({hash64_sql_spark('cast(doc_a as string)', salt='inc:')}) % {INC_BATCH_MOD} = {INC_BATCH_MOD - 1}"
    batch_b = f"({hash64_sql_spark('cast(doc_b as string)', salt='inc:')}) % {INC_BATCH_MOD} = {INC_BATCH_MOD - 1}"
    near_ids = (
        pairs.where(F.expr(f"({batch_a}) and not ({batch_b})")).select("doc_a")
        .unionByName(
            pairs.where(F.expr(f"({batch_b}) and not ({batch_a})")).select(
                F.col("doc_b").alias("doc_a")
            )
        )
        .distinct()
        .select(F.col("doc_a").alias("doc_id"))
        .withColumn("near_dup", F.lit(True))
    )
    flagged = (
        batch.join(corpus_hashes, "th", "left")
        .join(F.broadcast(near_ids), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("in_corpus"), F.lit("dropped_exact"))
            .when(F.col("near_dup"), F.lit("dropped_near"))
            .otherwise(F.lit("kept"))
            .alias("outcome"),
        )
    )
    return flagged.groupBy("outcome").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


SEM_K = 8  # k-means cluster count (the SemDeDup scale knob)
SEM_ITERS = 2  # Lloyd iterations (fixed so the oracle can unroll them)


def _semantic_oracle(k: int = SEM_K, iters: int = SEM_ITERS,
                     dim: int = 64, tau: float = EMBED_THRESHOLD) -> str:
    """Unrolled k-means + within-cluster cosine dedup, bit-exact vs the
    Spark plan: quantized BIGINT centroid sums (order-free), one double
    de-quantization with identical operands, sequential-fold dot products.
    The quantization grid is operators/semantic.py:QUANT_SQL -- the same
    constant the Spark exprs splice, so the two sides cannot drift."""
    from ..operators.semantic import QUANT_SQL

    cent_terms = ", ".join(
        f"CAST(SUM(CAST(FLOOR(vd[{j}] * {QUANT_SQL}) AS BIGINT)) AS DOUBLE)"
        f" / (CAST(COUNT(*) AS DOUBLE) * {QUANT_SQL})"
        for j in range(1, dim + 1)
    )
    parts = [
        "WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS vd"
        " FROM embeddings)",
        f"""c0 AS (
  SELECT cluster, cent, list_dot_product(cent, cent) AS cnorm2 FROM (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT) - 1 AS cluster,
           vd AS cent
    FROM e) WHERE cluster < {k})""",
    ]
    prev_c = "c0"
    for i in range(1, iters + 1):
        parts.append(f"""a{i} AS (
  SELECT vec_id, vd, cluster FROM (
    SELECT e.vec_id, e.vd, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY c.cnorm2 - 2 * list_dot_product(e.vd, c.cent),
                      c.cluster) AS rn
    FROM e CROSS JOIN {prev_c} c) WHERE rn = 1)""")
        parts.append(f"""c{i} AS (
  SELECT cluster, cent, list_dot_product(cent, cent) AS cnorm2 FROM (
    SELECT cluster, [{cent_terms}] AS cent
    FROM a{i} GROUP BY cluster))""")
        prev_c = f"c{i}"
    parts.append(f"""fin AS MATERIALIZED (
  SELECT vec_id, vd, cluster FROM (
    SELECT e.vec_id, e.vd, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY c.cnorm2 - 2 * list_dot_product(e.vd, c.cent),
                      c.cluster) AS rn
    FROM e CROSS JOIN {prev_c} c) WHERE rn = 1)""")
    parts.append("""nrmed AS MATERIALIZED (
  SELECT vec_id, vd, cluster, sqrt(list_dot_product(vd, vd)) AS nrm
  FROM fin)""")
    parts.append("sizes AS (SELECT cluster, COUNT(*) AS n_cluster FROM fin"
                 " GROUP BY 1)")
    parts.append(f"""dup AS (
  SELECT DISTINCT b.vec_id
  FROM nrmed a JOIN nrmed b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm) >= {tau})""")
    return ",\n".join(parts) + """
SELECT f.vec_id, f.cluster, s.n_cluster,
       CAST(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
         AS semantic_dup
FROM fin f
JOIN sizes s USING (cluster)
LEFT JOIN dup d ON d.vec_id = f.vec_id
"""


@register(
    "dedup_semantic",
    oracle=_semantic_oracle(),
    doc=f"SemDeDup semantic deduplication: deterministic {SEM_ITERS}-round "
    f"Lloyd k-means over the embedding column ({SEM_K} broadcast centroids, "
    "assignment is a map-side argmin pass, the centroid update one exact "
    "integer shuffle), then cosine near-dup flags computed ONLY within each "
    "final cluster.  Cluster count is the published scale knob (SemDeDup "
    "uses 50k clusters at 5B embeddings, bounding within-cluster pair work "
    "to N^2/k).  The argmin pass is the SQL-literal kmeans_assign.  Emits "
    "one row per vector with its cluster, cluster size, and dup verdict.",
    tags=("dedup", "embedding", "kmeans", "semantic"),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.semantic import semantic_dup_flags

    return semantic_dup_flags(
        load_table(spark, sf_dir, "embeddings"),
        "embedding",
        "vec_id",
        threshold=EMBED_THRESHOLD,
        k=SEM_K,
        iters=SEM_ITERS,
        dim=EMBED_DIM,
    )


def _minhash_recall_oracle() -> str:
    band_case = """CASE WHEN t.jaccard < 0.6 THEN 'j_050_060'
                 WHEN t.jaccard < 0.8 THEN 'j_060_080'
                 ELSE 'j_080_100' END"""
    return (
        "WITH "
        + _minhash_pairs_cte()
        + f""",
true_inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT i.doc_a, i.doc_b,
         CAST(i.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.inter) AS jaccard
  FROM true_inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE CAST(i.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.inter)
        >= {MINHASH_THRESHOLD}
),
banded AS (
  SELECT {band_case} AS sim_band,
         CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM truth t
  LEFT JOIN pairs p ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b
)
SELECT sim_band,
       CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(SUM(hit) AS BIGINT) AS n_found,
       CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS recall
FROM banded
GROUP BY sim_band
ORDER BY sim_band
"""
    )


@register(
    "dedup_minhash_recall",
    oracle=_minhash_recall_oracle(),
    doc="Recall evaluation for the MinHash-LSH near-dup path: ground truth "
    "is the EXACT threshold-Jaccard join (the prefix-filtered operator, "
    "same 3-shingles, same t=0.5), found is the banded-LSH candidate "
    "pipeline with its exact verify (so precision is 1.0 by "
    "construction and recall is the whole question).  Recall is "
    "reported per similarity band -- the S-curve of (16 hashes, 8 "
    "bands) predicts weak capture just above threshold and near-total "
    "capture at high similarity, and THIS query measures where the "
    "curve actually sits before a 100 TB run commits to the banding "
    "knobs -- closing the dedup evaluation loop the way "
    "similarity_lsh_recall / similarity_ivf_recall close the ANN one.",
    tags=("dedup", "evaluation", "minhash"),
)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        _shingle_sets,
        minhash_lsh_pairs,
        ngram_jaccard_pairs_prefix,
    )

    docs = load_table(spark, sf_dir, "documents")
    # Shingle the corpus ONCE (the dominant scan-side cost) and hand the
    # same persisted sets to both arms.
    docsets = _shingle_sets(docs, "text", "doc_id", MINHASH_SHINGLE)
    truth = ngram_jaccard_pairs_prefix(
        docs, "text", "doc_id",
        n=MINHASH_SHINGLE, threshold_num=1, threshold_den=2,
        docsets=docsets,
    ).select("doc_a", "doc_b", "jaccard")
    found = minhash_lsh_pairs(docs, "text", "doc_id", docsets=docsets).select(
        F.col("doc_a").alias("fa"), F.col("doc_b").alias("fb")
    )
    banded = truth.join(
        found,
        (truth.doc_a == F.col("fa")) & (truth.doc_b == F.col("fb")),
        "left",
    ).select(
        F.when(F.col("jaccard") < 0.6, "j_050_060")
        .when(F.col("jaccard") < 0.8, "j_060_080")
        .otherwise("j_080_100")
        .alias("sim_band"),
        F.when(F.col("fa").isNotNull(), 1).otherwise(0).alias("hit"),
    )
    return (
        banded.groupBy("sim_band")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum("hit").cast("bigint").alias("n_found"),
            (F.sum("hit").cast("double") / F.count(F.lit(1))).alias(
                "recall"
            ),
        )
        .orderBy("sim_band")
    )


def _planted_recall_oracle() -> str:
    """Recall of three dedup detectors against the PLANTED ground truth of
    the generated corpus: the oracle regenerates the byte-identical corpus
    (portable md5 text), derives the structural truth pairs, then re-runs
    the banded MinHash chain over the full corpus plus pairwise SimHash /
    4-shingle Jaccard restricted to the truth docs."""
    from .queries_generator import DOCGEN_N, _docgen_text

    N = DOCGEN_N
    bits = SIMHASH_BITS
    bit_sums = ",\n         ".join(
        f"SUM((h >> {j}) & 1) AS b{j}" for j in range(bits)
    )
    sim_expr = " + ".join(
        f"(CASE WHEN 2 * b{j} - n_tok >= 0 THEN CAST({1 << j} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits)
    )
    return f"""
WITH base AS (
  SELECT CAST(range AS BIGINT) AS doc_id,
         CASE WHEN range % 20 = 19 THEN range - 3
              WHEN range % 20 = 18 THEN range - 2
              ELSE range END AS src_id,
         CAST(range % 20 = 18 AS INT) AS mutate
  FROM range({N})
),
docs_g AS MATERIALIZED (
  SELECT doc_id, {_docgen_text(spark_side=False)} AS text FROM base
),
truth AS MATERIALIZED (
  SELECT src_id AS doc_a, doc_id AS doc_b, 'exact' AS kind
  FROM base WHERE doc_id % 20 = 19
  UNION ALL
  SELECT src_id, doc_id, 'near' FROM base WHERE doc_id % 20 = 18
  UNION ALL
  SELECT doc_id, doc_id + 1, 'near'
  FROM base WHERE doc_id % 20 = 18 AND doc_id + 1 < {N}
),
tdocs AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM truth UNION ALL SELECT doc_b FROM truth
  )
),
{_minhash_pairs_cte(src="docs_g")},
tok AS (
  SELECT d.doc_id,
         ('0x' || substr(md5(unnest({_TOKS_D})), 1, 15))::BIGINT AS h
  FROM docs_g d SEMI JOIN tdocs t ON d.doc_id = t.doc_id
),
sums AS (
  SELECT doc_id,
         {bit_sums},
         COUNT(*) AS n_tok
  FROM tok GROUP BY doc_id
),
sims AS MATERIALIZED (SELECT doc_id, {sim_expr} AS simhash FROM sums),
sh4 AS MATERIALIZED (
  SELECT doc_id, unnest({shingles_duckdb(_TOKS_D, NGRAM_N)}) AS sh
  FROM docs_g SEMI JOIN tdocs USING (doc_id)
),
sizes4 AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh4 GROUP BY 1),
inter4 AS (
  SELECT t.doc_a, t.doc_b, COUNT(*) AS inter
  FROM truth t
  JOIN sh4 a ON a.doc_id = t.doc_a
  JOIN sh4 b ON b.doc_id = t.doc_b AND a.sh = b.sh
  GROUP BY 1, 2
),
hits AS (
  SELECT t.kind, 'minhash_lsh' AS detector,
         CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM truth t LEFT JOIN pairs p ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b
  UNION ALL
  SELECT t.kind, 'simhash',
         CASE WHEN bit_count(xor(a.simhash, b.simhash))
                   <= {SIMHASH_MAX_HAMMING} THEN 1 ELSE 0 END
  FROM truth t
  JOIN sims a ON a.doc_id = t.doc_a
  JOIN sims b ON b.doc_id = t.doc_b
  UNION ALL
  SELECT t.kind, 'ngram_prefix',
         CASE WHEN i.inter IS NOT NULL AND 5 * i.inter
                   >= 2 * (sa.n_sh + sb.n_sh - i.inter) THEN 1 ELSE 0 END
  FROM truth t
  LEFT JOIN inter4 i ON i.doc_a = t.doc_a AND i.doc_b = t.doc_b
  JOIN sizes4 sa ON sa.doc_id = t.doc_a
  JOIN sizes4 sb ON sb.doc_id = t.doc_b
)
SELECT detector, kind AS dup_kind,
       CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(SUM(hit) AS BIGINT) AS n_found,
       CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS recall
FROM hits GROUP BY 1, 2
"""


@register(
    "dedup_planted_recall",
    oracle=_planted_recall_oracle(),
    doc="Measured recall of the three near-dup detectors against PLANTED "
    "ground truth: the generated corpus (generator_documents_planted -- "
    "every 20th doc an exact copy, every other 20th a one-token "
    "near-dup) carries its truth pairs structurally, so recall needs no "
    "reference-detector circularity: n_found/n_true per (detector, "
    "dup_kind) for banded MinHash-LSH (probabilistic -- THE number a "
    "100 TB run needs before committing banding knobs), band-blocked "
    "SimHash at Hamming<=3, and the exact prefix-filtered 4-shingle "
    "Jaccard (sanity arm: planted pairs all sit above threshold, so "
    "its recall must be 1.0).  All three detectors and the corpus use "
    "the portable md5 hash, so the oracle regenerates corpus, truth, "
    "and detection byte-identically.  The scale probe runs the same "
    "measurement at 5M docs (results/scale_probe.txt).",
    tags=("dedup", "evaluation", "generator"),
)
def dedup_planted_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import SPREAD_PARTITIONS, ngram_jaccard_pairs_prefix
    from .queries_generator import DOCGEN_N, _docgen_text

    base = spark.range(DOCGEN_N, numPartitions=SPREAD_PARTITIONS).selectExpr(
        "id as doc_id",
        "case when id % 20 = 19 then id - 3"
        " when id % 20 = 18 then id - 2 else id end as src_id",
        "cast(id % 20 = 18 as int) as mutate",
    )
    docs = track_persist(
        base.selectExpr("doc_id", f"{_docgen_text(spark_side=True)} as text")
    )
    truth = track_persist(
        base.where("doc_id % 20 = 19")
        .selectExpr("src_id as doc_a", "doc_id as doc_b", "'exact' as kind")
        .unionByName(
            base.where("doc_id % 20 = 18").selectExpr(
                "src_id as doc_a", "doc_id as doc_b", "'near' as kind"
            )
        )
        .unionByName(
            base.where(f"doc_id % 20 = 18 and doc_id + 1 < {DOCGEN_N}")
            .selectExpr(
                "doc_id as doc_a", "doc_id + 1 as doc_b", "'near' as kind"
            )
        )
    )
    detectors = {
        "minhash_lsh": minhash_lsh_pairs(docs, "text", "doc_id"),
        # Uncapped on purpose: this harness SCORES detector recall against
        # planted truth, so the full-recall banding must stay exact (the
        # oracle mirrors the uncapped definition).
        "simhash": simhash_pairs(
            docs, "text", "doc_id",
            bits=SIMHASH_BITS, bands=SIMHASH_BANDS,
            max_hamming=SIMHASH_MAX_HAMMING, max_bucket=None,
        ),
        "ngram_prefix": ngram_jaccard_pairs_prefix(
            docs, "text", "doc_id", n=NGRAM_N,
            threshold_num=2, threshold_den=5,
        ),
    }
    out = None
    for det, found in detectors.items():
        f = found.select(
            F.col("doc_a").alias("fa"), F.col("doc_b").alias("fb")
        )
        scored = truth.join(
            f, (truth.doc_a == f.fa) & (truth.doc_b == f.fb), "left"
        ).select(
            F.lit(det).alias("detector"),
            F.col("kind").alias("dup_kind"),
            F.when(F.col("fa").isNotNull(), 1).otherwise(0).alias("hit"),
        )
        part = scored.groupBy("detector", "dup_kind").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_true"),
            F.sum("hit").cast("bigint").alias("n_found"),
            (F.sum("hit").cast("double") / F.count(F.lit(1))).alias("recall"),
        )
        out = part if out is None else out.unionByName(part)
    return out


SUBSTR_L = 40  # anchor gram length (chars): duplicate-span sensitivity
SUBSTR_STRIDE = 8  # mod-p anchor sampling rate for the 100 TB strided form


def _substring_exact_oracle(stride: int = 1) -> str:
    from ..functions.hashing import hash64_sql_duckdb

    L = SUBSTR_L
    gh = hash64_sql_duckdb(f"substr(text, CAST(pos AS INT), {L})")
    # gh is a 60-bit NON-NEGATIVE int64 in both engines, so plain % here
    # equals Spark's pmod -- the content-defined anchor selection is
    # bit-identical cross-engine.
    strided = f"WHERE (gh % {stride}) = 0" if stride > 1 else ""
    prev_max = (
        f"MAX(pos + {L} - 1) OVER (PARTITION BY doc_id ORDER BY pos "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    return f"""
WITH pos_ AS (
  SELECT doc_id, text, n_chars,
         CAST(unnest(range(1, n_chars - {L} + 2)) AS BIGINT) AS pos
  FROM documents WHERE n_chars >= {L}
),
grams AS (
  SELECT * FROM (SELECT doc_id, n_chars, pos, {gh} AS gh FROM pos_) {strided}
),
dupg AS (
  SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM grams)
  GROUP BY gh HAVING COUNT(*) >= 2
),
hits AS (
  SELECT g.doc_id, g.n_chars, g.pos
  FROM grams g SEMI JOIN dupg d ON g.gh = d.gh
),
marked AS (
  SELECT doc_id, n_chars, pos,
         CASE WHEN {prev_max} IS NULL OR pos > {prev_max} + 1
              THEN 1 ELSE 0 END AS new_island
  FROM hits
),
islands AS (
  SELECT doc_id, n_chars, pos,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
  FROM marked
),
spans AS (
  SELECT doc_id, island_id,
         MIN(n_chars) AS n_chars,
         MIN(pos) AS s, MAX(pos) + {L} - 1 AS e
  FROM islands GROUP BY 1, 2
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
       CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars,
       CAST(MIN(n_chars) AS BIGINT) AS n_chars,
       CAST(MIN(n_chars) - SUM(e - s + 1) AS BIGINT) AS kept_chars
FROM spans GROUP BY doc_id
"""


@register(
    "dedup_substring_exact",
    oracle=_substring_exact_oracle(),
    doc="Exact-substring dedup at suffix-array granularity (the Lee et "
    "al. 2022 remove-duplicate-substring policy, the standard "
    "pretraining-corpus pass that span-pair detection alone does not "
    f"give): every {SUBSTR_L}-char window of every document is anchored "
    "by a 60-bit hash; windows whose content appears in >= 2 DISTINCT "
    "documents mark their positions as duplicated; per document the "
    "marked [pos, pos+L) intervals are merged into maximal spans "
    "(gaps-and-islands over a running-max window), yielding exactly the "
    "maximal cross-document duplicated regions any shared substring "
    f">= {SUBSTR_L} chars induces.  Emits per-doc span count, "
    "duplicated chars (the chars the policy removes) and kept chars.  "
    "100 TB shape: the map stage keeps only (doc_id, pos, int64 hash) "
    "-- never materializes gram strings past the scan -- the >=2-docs "
    "reduction and the semi-join back are each ONE shuffle on the "
    "hash, and span merging is one window shuffle on doc_id; this "
    "anchor-and-merge plan is the distributed equivalent of the "
    "suffix-array pass (same output for spans >= L, no global sort of "
    "the corpus).  Within-document repeats are deliberately out of "
    "scope (cross-doc contamination policy).  Hash collisions can only "
    "ADD a duplicated position; both engines share the identical hash "
    "so the comparison is exact.",
    tags=("dedup", "substring", "contamination"),
    bench=True,
)
def dedup_substring_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import substring_dup_spans

    return substring_dup_spans(
        load_table(spark, sf_dir, "documents"), "text", "doc_id",
        anchor_len=SUBSTR_L,
    )


@register(
    "dedup_substring_strided",
    oracle=_substring_exact_oracle(stride=SUBSTR_STRIDE),
    doc="The 100 TB form of the exact-substring census: content-defined "
    f"(mod-{SUBSTR_STRIDE}) anchor sampling keeps only windows whose "
    "60-bit content hash is 0 mod the stride (Manber 1994 fingerprint "
    "selection), cutting every downstream shuffle's row volume by "
    f"~{SUBSTR_STRIDE}x while the map stage stays identical.  Because "
    "selection depends on window CONTENT alone, both copies of a "
    "duplicated passage select exactly the same relative anchors "
    "regardless of byte offset, so cross-document matching is "
    "unaffected for spans a few strides longer than the anchor -- "
    "P(miss) = (1 - 1/stride)^(span_len - L + 1), and island "
    "boundaries truncate by O(stride) expected chars (loss model at "
    "operators/dedup.py substring_dup_islands).  The selection is "
    "DETERMINISTIC (shared md5-based hash), so this sampled form is "
    "still exactly oracle-able: the oracle applies the identical "
    "mod-filter.  Measured at 5M docs the stride-1 census is "
    "super-linear (1,249.6 s) while stride-8 holds ~linear (130.8 s, "
    "results/scale_probe.txt) -- this entry pins the form you would "
    "actually run at 100 TB; dedup_substring_exact remains the "
    "exactness pin.",
    tags=("dedup", "substring", "contamination", "scale"),
    bench=True,
)
def dedup_substring_strided(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import substring_dup_spans

    return substring_dup_spans(
        load_table(spark, sf_dir, "documents"), "text", "doc_id",
        anchor_len=SUBSTR_L, anchor_stride=SUBSTR_STRIDE,
    )


def _substring_remove_oracle() -> str:
    from ..functions.hashing import hash64_sql_duckdb

    L = SUBSTR_L
    gh = hash64_sql_duckdb(f"substr(text, CAST(pos AS INT), {L})")
    prev_max = (
        f"MAX(pos + {L} - 1) OVER (PARTITION BY doc_id ORDER BY pos "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    return f"""
WITH pos_ AS (
  SELECT doc_id, text, n_chars,
         CAST(unnest(range(1, n_chars - {L} + 2)) AS BIGINT) AS pos
  FROM documents WHERE n_chars >= {L}
),
grams AS (
  SELECT doc_id, pos, {gh} AS gh FROM pos_
),
dupg AS (
  SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM grams)
  GROUP BY gh HAVING COUNT(*) >= 2
),
hits AS (
  SELECT g.doc_id, g.pos FROM grams g SEMI JOIN dupg d ON g.gh = d.gh
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
isl AS MATERIALIZED (
  SELECT doc_id, island_id, MIN(pos) AS s, MAX(pos) + {L} - 1 AS e
  FROM islands GROUP BY 1, 2
),
pieces AS (
  SELECT i.doc_id, i.s AS ord,
         substr(d.text, CAST(i.prev_e + 1 AS INT),
                CAST(i.s - i.prev_e - 1 AS INT)) AS piece
  FROM (
    SELECT doc_id, s, e,
           COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0)
             AS prev_e
    FROM isl
  ) i JOIN documents d USING (doc_id)
  UNION ALL
  SELECT m.doc_id, d.n_chars + 1 AS ord,
         substr(d.text, CAST(m.max_e + 1 AS INT)) AS piece
  FROM (SELECT doc_id, MAX(e) AS max_e FROM isl GROUP BY doc_id) m
  JOIN documents d USING (doc_id)
),
cleaned AS (
  SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS kept
  FROM pieces GROUP BY doc_id
)
SELECT doc_id, CAST(length(kept) AS BIGINT) AS kept_chars,
       md5(kept) AS kept_hash
FROM cleaned
UNION ALL
SELECT doc_id, CAST(length(text) AS BIGINT), md5(text)
FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM isl)
"""


@register(
    "dedup_substring_remove",
    oracle=_substring_remove_oracle(),
    doc="The remove-duplicate-substring policy APPLIED (the second half "
    "of dedup_substring_exact's census): every maximal cross-document "
    f"duplicated span (>= {SUBSTR_L}-char sensitivity) is cut from its "
    "document and the remainder reassembled in order -- the actual "
    "pretraining-corpus cleaning transform of Lee et al. 2022.  The "
    "reassembly is ONE aggregate fold over each doc's sorted island "
    "array (islands are disjoint with >= 1-char gaps by construction, "
    "so slice lengths are provably non-negative), entirely JVM-side; "
    "untouched documents pass through verbatim.  The md5 of the "
    "cleaned text pins the transform exactly -- the oracle rebuilds "
    "every cleaned document independently via ordered string_agg of "
    "the gap pieces.  Same 100 TB shape as the census plus one "
    "|islands| collect_list per affected doc (spans per doc are few "
    "by construction).",
    tags=("dedup", "substring", "contamination", "pipeline"),
)
def dedup_substring_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import substring_remove

    return substring_remove(
        load_table(spark, sf_dir, "documents"), "text", "doc_id",
        anchor_len=SUBSTR_L,
    )


SEG_TOKENS = 12


@register(
    "dedup_repeated_segments",
    oracle=f"""
WITH segs AS (
  SELECT doc_id, i AS idx,
         array_to_string(
           list_slice(split(text, ' '), i*{SEG_TOKENS}+1, i*{SEG_TOKENS}+{SEG_TOKENS}),
           ' ') AS seg
  FROM documents,
       unnest(range(CAST(ceil(len(split(text, ' ')) / {SEG_TOKENS}.0) AS BIGINT))) AS t(i)
),
marked AS (
  SELECT doc_id, idx, seg,
         COUNT(*) OVER (PARTITION BY seg) AS n_total,
         COUNT(*) OVER (PARTITION BY seg, doc_id) AS n_in_doc
  FROM segs
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segs,
       CAST(COUNT(*) FILTER (n_total > n_in_doc) AS BIGINT) AS n_removed,
       md5(COALESCE(string_agg(CASE WHEN n_total <= n_in_doc THEN seg END,
                               ' ' ORDER BY idx), '')) AS clean_md5
FROM marked
GROUP BY doc_id
""",
    doc="C4/RefinedWeb-style repeated-LINE removal at corpus scale: the "
    f"corpus has no newlines, so 'lines' are deterministic {SEG_TOKENS}-"
    "token segments; any segment that also appears in ANOTHER document "
    "is cut, and each document is reassembled from its kept segments in "
    "order.  Cross-document repetition is detected with TWO window "
    "counts over the same shuffle (total per segment vs within-doc per "
    "segment: dup iff total > in-doc) -- no groupBy+join-back, so no "
    "AQE broadcast-conversion risk on the segment strings at 100 TB, "
    "and no countDistinct (unsupported over windows).  md5 of the "
    "reassembled text pins the transform exactly.",
    tags=("dedup", "lines", "contamination", "pipeline"),
    bench=True,
)
def dedup_repeated_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import repeated_segment_stats

    return repeated_segment_stats(
        load_table(spark, sf_dir, "documents"), "text", "doc_id",
        seg_tokens=SEG_TOKENS,
    )


CONT_THRESHOLD = 0.6
CONT_DF_CAP = 50


def _containment_oracle() -> str:
    from ..functions.hashing import hash64_sql_duckdb

    n = 4
    return f"""
WITH docsets AS MATERIALIZED (
  SELECT doc_id, {shingles_duckdb(_TOKS_D, n)} AS shset FROM documents
),
sh AS MATERIALIZED (
  -- the operator runs every stage on the 60-bit portable hash of each
  -- shingle (never the string); the oracle applies the identical hash so
  -- any collision is shared and parity stays exact
  SELECT doc_id, {hash64_sql_duckdb('sh_s')} AS sh
  FROM (SELECT doc_id, unnest(shset) AS sh_s FROM docsets)
),
hot AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) > {CONT_DF_CAP}),
idx AS (SELECT s.doc_id, s.sh FROM sh s ANTI JOIN hot h ON s.sh = h.sh),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM idx a JOIN idx b ON a.sh = b.sh AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND a.sh = b.sh
  GROUP BY 1, 2
),
both_dirs AS (
  SELECT i.doc_a AS doc_src, i.doc_b AS doc_dst,
         CAST(i.inter AS DOUBLE) / sa.n_sh AS containment
  FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
  UNION ALL
  SELECT i.doc_b, i.doc_a, CAST(i.inter AS DOUBLE) / sb.n_sh
  FROM inter i JOIN sizes sb ON sb.doc_id = i.doc_b
)
SELECT doc_src, doc_dst, containment
FROM both_dirs WHERE containment >= {CONT_THRESHOLD}
"""


@register(
    "dedup_containment_pairs",
    oracle=_containment_oracle(),
    doc="Directional shingle-CONTAINMENT pairs: C(src->dst) = "
    "|S_src ∩ S_dst| / |S_src| >= "
    f"{CONT_THRESHOLD} -- catches a short document quoted wholesale "
    "inside a long one, which symmetric Jaccard structurally misses "
    "(the union denominator is dominated by the long side).  Same "
    f"DF-cap ({CONT_DF_CAP}) candidate scope as dedup_ngram_jaccard; "
    "candidates generated ONCE undirected, verify emits both "
    "directions (operators/dedup.py:containment_pairs).",
    tags=("dedup", "containment", "jaccard"),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import containment_pairs

    return containment_pairs(
        load_table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        n=4,
        threshold=CONT_THRESHOLD,
        df_cap=CONT_DF_CAP,
    )


# --- URL-level dedup with canonicalization ------------------------------------
# The FIRST dedup stage of every web-scale pretraining pipeline (CCNet
# keeps one record per URL; RefinedWeb and Dolma canonicalize before
# exact-URL collapse): far cheaper than any content hash because it runs
# before fetch/parse at crawl time, and at 100 TB it is a map-side string
# normalization plus ONE shuffle on the canonical key.  The documents
# table carries no URL column, so the fixture derives one
# DETERMINISTICALLY from (source, doc_id) with every real-world artifact
# the canonicalizer must erase -- scheme case (HTTPS:// vs http://),
# www. prefix presence and case, host case, utm_* tracking params with
# VARYING values, and fragments -- while preserving the one meaningful
# param (page).  Records agreeing on (lower(source), doc_id%50, doc_id%4)
# collapse iff the canonicalizer erases all five artifacts; any missed
# rule changes group counts and fails the hash check.


def _url_canonical_sql(cast_str) -> dict[str, str]:
    """Render the URL fixture + canonicalization chain once for both
    engines.  ``cast_str`` renders an int expression as a string (the one
    dialect difference: Spark ``cast(x as string)``, DuckDB
    ``cast(x as varchar)``); every other function used (concat, lower,
    upper, instr, substr, regexp_replace, regexp_extract, like-free
    regexes) behaves identically in Spark SQL (Java regex) and DuckDB
    (RE2) for these patterns."""
    url = (
        "concat("
        "case when doc_id % 2 = 0 then 'HTTPS://' else 'http://' end, "
        "case when doc_id % 3 = 0 then 'WWW.' "
        "     when doc_id % 3 = 1 then 'www.' else '' end, "
        "case when doc_id % 4 = 0 then upper(source) else source end, "
        "'.example.com/articles/', "
        f"{cast_str('doc_id % 50')}, "
        f"'?utm_source=feed&utm_id=', {cast_str('doc_id % 7')}, "
        f"'&page=', {cast_str('doc_id % 4')}, "
        "case when doc_id % 5 = 0 then '#ref' else '' end)"
    )
    # scheme off, fragment off
    stripped = (
        f"regexp_replace(regexp_replace({url}, '^[A-Za-z]+://', ''), "
        "'#.*$', '')"
    )
    base = (
        f"case when instr({stripped}, '?') > 0 "
        f"then substr({stripped}, 1, instr({stripped}, '?') - 1) "
        f"else {stripped} end"
    )
    # lowercase, www. off, trailing slash off
    base_norm = (
        f"regexp_replace(regexp_replace(lower({base}), "
        "'^www\\.', ''), '/$', '')"
    )
    qs = (
        f"case when instr({stripped}, '?') > 0 "
        f"then substr({stripped}, instr({stripped}, '?') + 1) else '' end"
    )
    page = f"regexp_extract({qs}, '(?:^|&)page=([0-9]+)', 1)"
    return {
        "url": url,
        "canonical": f"concat({base_norm}, '?page=', {page})",
    }


_URL_SPARK = _url_canonical_sql(lambda x: f"cast({x} as string)")
_URL_DUCK = _url_canonical_sql(lambda x: f"cast({x} as varchar)")


@register(
    "dedup_url_canonical",
    oracle=f"""
SELECT {_URL_DUCK['canonical']} AS canonical_url,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_dupes,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM documents
GROUP BY 1
""",
    doc="URL-level dedup with full canonicalization (the crawl-time first "
    "stage of CCNet/RefinedWeb/Dolma-style pipelines): scheme and "
    "fragment stripped, host lowercased, www. prefix dropped, utm_* "
    "tracking params erased, the meaningful page param preserved, then "
    "one group per canonical URL keeping the lowest doc_id with copy "
    "count + membership checksum.  Entirely built-in string functions "
    "(JVM-side, whole-stage codegen) feeding ONE hash aggregate on the "
    "canonical key -- at 100 TB this is a map-side projection plus a "
    "single shuffle, the cheapest dedup the pipeline runs and the one "
    "that runs first.  The URL fixture is derived deterministically "
    "from (source, doc_id) with varying scheme/www/case/utm/fragment "
    "noise, so the oracle's group counts verify every normalization "
    "rule: a missed rule splits groups and fails the hash check.",
    tags=("dedup", "url", "canonicalization"),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.expr(_URL_SPARK["canonical"]).alias("canonical_url"), "doc_id")
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").cast("bigint").alias("keep_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_dupes"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
    )
