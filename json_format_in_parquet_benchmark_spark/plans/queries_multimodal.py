"""Multimodal pipeline queries: binary media columns + typed metadata, with
decode / resize / frame-sample stages over mapInPandas (decode stubbed
deterministically — see operators/multimodal.py), each value-checked against
a DuckDB oracle that reproduces the deterministic derivation from the
documents table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    AUDIO_CHUNK_S,
    AUDIO_SAMPLE_RATE,
    FRAME_SAMPLE_K,
    RESIZE_MAX_SIDE,
    decode_features,
    media_table,
    resize_images,
    sample_frames,
)
from ..functions.windows import (
    pack_shard_duck,
    pack_shards_two_phase,
    rank_cut_duck,
    rank_cut_spark,
)
from ..runtime import track_persist
from ..tables import load_table
from .registry import register

# DuckDB twin of operators/multimodal.py::media_table (1-based list index).
_MEDIA_CTE = """
WITH media AS (
  SELECT doc_id AS media_id,
         (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
         octet_length(encode(text)) AS payload_bytes,
         md5(text) AS fingerprint,
         64 + (doc_id % 32) * 16 AS width,
         64 + (doc_id % 24) * 16 AS height,
         24 + (doc_id % 2) * 6 AS fps,
         100 + (doc_id % 900) AS n_frames
  FROM documents
)
"""


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_table(load_table(spark, sf_dir, "documents"))


@register(
    "multimodal_catalog",
    oracle=_MEDIA_CTE
    + """
SELECT kind,
       COUNT(*) AS n_media,
       CAST(SUM(payload_bytes) AS BIGINT) AS total_payload_bytes,
       CAST(SUM(width) AS BIGINT) AS sum_width,
       CAST(SUM(n_frames) AS BIGINT) AS sum_frames
FROM media
GROUP BY kind
""",
    doc="Media catalog rollup per kind over the binary payload + typed "
    "metadata struct; metadata-only aggregation (payload length pushed to "
    "octet_length, no decode).",
    tags=("multimodal", "aggregation"),
)
def multimodal_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _media(spark, sf_dir)
    return m.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum(F.octet_length("payload")).alias("total_payload_bytes"),
        F.sum("meta.width").alias("sum_width"),
        F.sum("meta.n_frames").alias("sum_frames"),
    )


@register(
    "multimodal_decode_features",
    oracle=_MEDIA_CTE
    + "SELECT media_id, kind, payload_bytes, fingerprint FROM media",
    doc="Arrow-batched decode/feature-extract over the binary payload via "
    "mapInPandas (decode stubbed deterministically: byte length + md5 "
    "fingerprint; swap point for a real PIL/ffmpeg decoder).",
    tags=("multimodal", "udf", "mapInPandas"),
    bench=True,
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decode_features(_media(spark, sf_dir))


@register(
    "multimodal_image_resize",
    oracle=_MEDIA_CTE
    + f"""
SELECT media_id, width, height,
       (width * {RESIZE_MAX_SIDE}) // GREATEST(width, height) AS new_width,
       (height * {RESIZE_MAX_SIDE}) // GREATEST(width, height) AS new_height
FROM media WHERE kind = 'image'
""",
    doc="Image resize planning (fit longest side to 224, integer floor "
    "arithmetic) in a mapInPandas pixel-stage shell; payload column pruned "
    "from the scan.",
    tags=("multimodal", "image", "mapInPandas"),
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resize_images(_media(spark, sf_dir), max_side=RESIZE_MAX_SIDE)


@register(
    "multimodal_video_frame_sample",
    oracle=_MEDIA_CTE
    + f"""
SELECT media_id,
       i AS sample_idx,
       (i * n_frames) // {FRAME_SAMPLE_K} AS frame_idx,
       n_frames
FROM media CROSS JOIN range({FRAME_SAMPLE_K}) t(i)
WHERE kind = 'video'
""",
    doc="Even frame sampling (k=8) per video: one media row fans out to k "
    "frame rows inside mapInPandas — the row-multiplying shape of a real "
    "frame extractor.",
    tags=("multimodal", "video", "mapInPandas"),
)
def multimodal_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_frames(_media(spark, sf_dir), k=FRAME_SAMPLE_K)


@register(
    "multimodal_audio_chunks",
    oracle=_MEDIA_CTE
    + f"""
, sized AS (
  SELECT media_id, fingerprint,
         payload_bytes * 64 AS n_samples_total,
         (payload_bytes * 64 + {AUDIO_SAMPLE_RATE * AUDIO_CHUNK_S} - 1)
           // {AUDIO_SAMPLE_RATE * AUDIO_CHUNK_S} AS n_chunks
  FROM media WHERE kind = 'audio'
),
fanned AS (
  SELECT media_id, fingerprint, n_samples_total,
         unnest(range(n_chunks)) AS i
  FROM sized
)
SELECT media_id,
       i AS chunk_idx,
       i * {AUDIO_SAMPLE_RATE * AUDIO_CHUNK_S} AS start_sample,
       LEAST({AUDIO_SAMPLE_RATE * AUDIO_CHUNK_S},
             n_samples_total - i * {AUDIO_SAMPLE_RATE * AUDIO_CHUNK_S}) AS n_samples,
       ('0x' || substr(md5(fingerprint || ':' || CAST(i AS VARCHAR)), 1, 15))::BIGINT
         % 100000 AS energy_q
FROM fanned
""",
    doc="Fixed-duration audio chunking (30s @ 16kHz) with per-chunk energy "
    "-- the ASR/audio-LM preprocessing fan-out.  One audio row becomes "
    "ceil(n_samples/chunk) rows inside mapInPandas; chunk boundaries are "
    "pure integer arithmetic on the stub-derived sample count and the "
    "energy is md5-derived, so the whole Arrow fan-out is exactly "
    "oracle-checked.  A real decoder replaces only the two stub lines "
    "(operators/multimodal.py:chunk_audio); the Spark plumbing -- "
    "payload pruning before the Python stage, schema, batch shape -- is "
    "the part that must hold at 100 TB and is what this query pins.",
    tags=("multimodal", "audio", "mapInPandas"),
)
def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import chunk_audio

    return chunk_audio(_media(spark, sf_dir))


SHARD_BYTE_BUDGET = 5_000


@register(
    "multimodal_pack_shards",
    oracle=_MEDIA_CTE
    + f""",
packed AS (
  SELECT kind, media_id, payload_bytes,
         {pack_shard_duck("kind", "media_id", "payload_bytes", SHARD_BYTE_BUDGET)}
           AS shard
  FROM media
)
SELECT kind, shard,
       COUNT(*) AS n_media,
       CAST(SUM(payload_bytes) AS BIGINT) AS shard_bytes,
       MIN(media_id) AS first_media,
       MAX(media_id) AS last_media
FROM packed
GROUP BY kind, shard
ORDER BY kind, shard
""",
    doc="WebDataset-style shard packing for multimodal training data: "
    "within each modality, media records pack in media_id order into "
    f"~{SHARD_BYTE_BUDGET}-byte shards by cumulative payload size "
    "(shard = floor(preceding-bytes / budget)) -- the byte-budget twin "
    "of pack_token_shards, producing the sequential-read tar-shard "
    "layout image/audio loaders stream at training time.  The window "
    "input is pruned to (id, kind, octet_length(payload)) before the "
    "shuffle -- sizes travel, blobs do not (the wide-row rule of "
    "operators/multimodal.py).  "
    "The prefix sum runs as the TWO-PHASE bucketed form "
    "(functions/windows.py:pack_shards_two_phase): `kind` has 3 "
    "values, so a one-window plan would sort each modality's corpus "
    "on a single reducer; shard ids match the single-window oracle "
    "bit for bit.",
    tags=("multimodal", "sharding", "window"),
)
def multimodal_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _media(spark, sf_dir).select(
        "media_id",
        "kind",
        F.octet_length("payload").cast("bigint").alias("payload_bytes"),
    )
    packed = pack_shards_two_phase(
        media, "kind", "media_id", "payload_bytes", SHARD_BYTE_BUDGET
    )
    return (
        packed.groupBy("kind", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("payload_bytes").cast("bigint").alias("shard_bytes"),
            F.min("media_id").alias("first_media"),
            F.max("media_id").alias("last_media"),
        )
        .orderBy("kind", "shard")
    )


CLIP_CURATE_NUM, CLIP_CURATE_DEN = 19, 20  # curation gate: cos >= 19/20


def _clip_aligned_ids_cte() -> str:
    """CTE fragment (appended after `media`) ending in aligned_ids: media
    whose positive (media, own-caption) CLIP-stub alignment clears the
    curation threshold.  Mirrors multimodal_clip_pairing's towers."""
    from ..functions.hashing import hash64_sql_duckdb

    from ..operators.multimodal import CLIP_DIM, CLIP_DROP_MOD

    h = hash64_sql_duckdb("g")
    n2, d2 = CLIP_CURATE_NUM**2, CLIP_CURATE_DEN**2
    return f"""
grams_c AS MATERIALIZED (
  SELECT doc_id, {h} AS h
  FROM (
    SELECT doc_id, substr(text, CAST(i AS INT), 4) AS g
    FROM documents, unnest(range(1, length(text) - 2)) t(i)
    WHERE length(text) >= 4
  )
),
tvec_c AS (
  SELECT doc_id, h % {CLIP_DIM} AS bucket,
         CAST(SUM(1 - 2 * ((h // {CLIP_DIM}) % 2)) AS BIGINT) AS tval
  FROM grams_c GROUP BY 1, 2
),
mvec_c AS (
  SELECT doc_id AS media_id, h % {CLIP_DIM} AS bucket,
         CAST(SUM(1 - 2 * ((h // {CLIP_DIM}) % 2)) AS BIGINT) AS mval
  FROM grams_c WHERE (h // {2 * CLIP_DIM}) % {CLIP_DROP_MOD} <> 0
  GROUP BY 1, 2
),
tn2 AS (SELECT doc_id, CAST(SUM(tval * tval) AS BIGINT) AS t_norm2
        FROM tvec_c GROUP BY 1),
mn2 AS (SELECT media_id, CAST(SUM(mval * mval) AS BIGINT) AS m_norm2
        FROM mvec_c GROUP BY 1),
dotp AS (
  SELECT m.media_id,
         CAST(SUM(m.mval * COALESCE(t.tval, 0)) AS BIGINT) AS dot
  FROM mvec_c m
  LEFT JOIN tvec_c t ON t.doc_id = m.media_id AND t.bucket = m.bucket
  GROUP BY 1
),
aligned_ids AS (
  SELECT d.media_id
  FROM dotp d
  JOIN mn2 ON mn2.media_id = d.media_id
  JOIN tn2 ON tn2.doc_id = d.media_id
  WHERE mn2.m_norm2 > 0 AND tn2.t_norm2 > 0 AND d.dot > 0
    AND {d2} * d.dot * d.dot >= {n2} * mn2.m_norm2 * tn2.t_norm2
)"""


@register(
    "pipeline_multimodal_curation",
    oracle=_MEDIA_CTE
    + ","
    + _clip_aligned_ids_cte()
    + f""",
feats AS (
  SELECT media_id, kind, payload_bytes, fingerprint FROM media
),
ranked AS (
  SELECT media_id, kind, payload_bytes, fingerprint,
         ROW_NUMBER() OVER (PARTITION BY kind
                            ORDER BY payload_bytes, media_id) - 1 AS rn,
         COUNT(*) OVER (PARTITION BY kind) AS n
  FROM feats
),
cuts AS (
  SELECT kind,
         MAX({rank_cut_duck("rn", "n", 0.10, "payload_bytes")}) AS lo,
         MAX({rank_cut_duck("rn", "n", 0.90, "payload_bytes")}) AS hi
  FROM ranked GROUP BY kind
),
kept AS (
  SELECT f.media_id, f.kind, f.payload_bytes, f.fingerprint
  FROM feats f JOIN cuts c ON c.kind = f.kind
  WHERE f.payload_bytes BETWEEN c.lo AND c.hi
    AND f.media_id IN (SELECT media_id FROM aligned_ids)
),
packed AS (
  SELECT kind, media_id, payload_bytes, fingerprint,
         {pack_shard_duck("kind", "media_id", "payload_bytes", SHARD_BYTE_BUDGET)}
           AS shard
  FROM kept
)
SELECT kind, shard,
       COUNT(*) AS n_media,
       CAST(SUM(payload_bytes) AS BIGINT) AS shard_bytes,
       CAST(SUM(('0x' || substr(fingerprint, 1, 15))::BIGINT
                % 1000000007) AS BIGINT) AS fp_checksum
FROM packed
GROUP BY kind, shard
ORDER BY kind, shard
""",
    doc="Composed multimodal curation flagship: Arrow-batched decode/"
    "feature stage (operators/multimodal.py:decode_features) -> "
    "per-modality quality gate at the exact [p10, p90] payload-size "
    "band (outlier blobs are truncated uploads or concatenation "
    "errors; the cut adapts per kind like text_adaptive_length_filter "
    "does per language) -> cross-modal CAPTION-ALIGNMENT gate (each "
    "media's CLIP-stub cosine against its own caption must clear "
    f"{CLIP_CURATE_NUM}/{CLIP_CURATE_DEN} -- the LAION-style filter "
    "fed by multimodal_clip_pairing's towers; drops ~9% of media on "
    "this corpus, so the gate demonstrably bites) -> WebDataset "
    "byte-budget shard packing of the survivors -> per-shard rollup "
    "with a content-fingerprint checksum that pins exact MEMBERSHIP, "
    "not just counts.  The whole chain composes into one plan: the "
    "only Python is the two Arrow tower/decode stages, sizes (never "
    "blobs) travel through the windows, the rank and packing prefix "
    "sums both run as the two-phase bucketed forms (kind has 3 values "
    "-- functions/windows.py), and each stage is the already-verified "
    "standalone operator -- the text-side pipeline_pretrain_corpus "
    "pattern applied to media.",
    tags=("multimodal", "pipeline", "sharding", "quality"),
    bench=True,
)
def pipeline_multimodal_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.windows import rank_two_phase

    feats = decode_features(_media(spark, sf_dir)).select(
        "media_id", "kind", "payload_bytes", "fingerprint"
    )
    # Two-phase bucketed rank: `kind` has 3 values, so a plain rank window
    # would sort each kind's whole corpus on one reducer (same scale wall
    # as the shard packers); value-at-rank is preserved exactly.
    ranked = rank_two_phase(
        feats, "kind", "payload_bytes", order_extra=("media_id",),
        bucket_width=1024,
    ).withColumn("rn", F.col("rn") - 1)
    cuts = ranked.groupBy("kind").agg(
        F.max(rank_cut_spark("rn", "n", 0.10, "payload_bytes")).alias("lo"),
        F.max(rank_cut_spark("rn", "n", 0.90, "payload_bytes")).alias("hi"),
    )
    # Caption-alignment gate: positive-pair CLIP-stub cosine >= 19/20.
    # Same towers as multimodal_clip_pairing, pos pairs only (text_doc ==
    # media_id), so the dot is a co-keyed join on (id, bucket).
    from ..operators.multimodal import clip_media_embeddings

    docs = load_table(spark, sf_dir, "documents").where(F.length("text") >= 4)
    # Each tower feeds BOTH its norm aggregate and the dot product;
    # unpersisted, the gram hashing (and the Python media stage) re-runs
    # per consumer -- measured 0.7s -> 6.9s on the sf0.1 bench before
    # these persists.
    tvec = track_persist(_clip_text_vectors(docs))
    mvec = track_persist(clip_media_embeddings(_media(spark, sf_dir)))
    tnorm = tvec.groupBy("doc_id").agg(
        F.sum(F.col("tval") * F.col("tval")).cast("bigint").alias("t_norm2")
    )
    mnorm = mvec.groupBy("media_id").agg(
        F.sum(F.col("mval") * F.col("mval")).cast("bigint").alias("m_norm2")
    )
    dotp = (
        mvec.join(
            tvec.select(F.col("doc_id").alias("media_id"), "bucket", "tval"),
            ["media_id", "bucket"],
            "left",
        )
        .groupBy("media_id")
        .agg(
            F.sum(F.col("mval") * F.coalesce(F.col("tval"), F.lit(0)))
            .cast("bigint")
            .alias("dot")
        )
    )
    n2, d2 = CLIP_CURATE_NUM**2, CLIP_CURATE_DEN**2
    aligned_ids = (
        dotp.join(mnorm, "media_id")
        .join(tnorm, dotp.media_id == tnorm.doc_id)
        .where(
            (F.col("m_norm2") > 0)
            & (F.col("t_norm2") > 0)
            & (F.col("dot") > 0)
            & (
                F.lit(d2) * F.col("dot") * F.col("dot")
                >= F.lit(n2) * F.col("m_norm2") * F.col("t_norm2")
            )
        )
        .select("media_id")
    )
    kept = (
        feats.join(F.broadcast(cuts), "kind")
        .where(F.col("payload_bytes").between(F.col("lo"), F.col("hi")))
        .join(aligned_ids, "media_id", "left_semi")
    )
    packed = pack_shards_two_phase(
        kept, "kind", "media_id", "payload_bytes", SHARD_BYTE_BUDGET
    )
    return (
        packed.groupBy("kind", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("payload_bytes").cast("bigint").alias("shard_bytes"),
            F.sum(
                F.expr(
                    "cast(conv(substr(fingerprint, 1, 15), 16, 10) as bigint)"
                    " % 1000000007"
                )
            )
            .cast("bigint")
            .alias("fp_checksum"),
        )
        .orderBy("kind", "shard")
    )


def _phash_oracle() -> str:
    from ..operators.multimodal import PHASH_BAND_WIDTH, PHASH_BANDS, PHASH_BITS

    sum_cols = ",\n         ".join(
        f"SUM((hv >> {j}) & 1) AS b{j}" for j in range(PHASH_BITS)
    )
    ph_expr = "\n           + ".join(
        f"CASE WHEN 2 * b{j} - n >= 0 THEN {1 << j} ELSE 0 END"
        for j in range(PHASH_BITS)
    )
    mask = (1 << PHASH_BAND_WIDTH) - 1
    band_match = "\n     OR ".join(
        f"((pa.phash >> {b * PHASH_BAND_WIDTH}) & {mask})"
        f" = ((pb.phash >> {b * PHASH_BAND_WIDTH}) & {mask})"
        for b in range(PHASH_BANDS)
    )
    return f"""
WITH g AS (
  SELECT doc_id AS media_id,
         (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
         CASE WHEN len(text) >= 4
              THEN list_transform(range(1, len(text) - 2), i -> substr(text, i, 4))
              ELSE [text] END AS grams
  FROM documents
),
e AS (SELECT media_id, unnest(grams) AS gram FROM g),
h AS (SELECT media_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS hv FROM e),
bsum AS (
  SELECT media_id, COUNT(*) AS n,
         {sum_cols}
  FROM h GROUP BY 1
),
ph AS (
  SELECT media_id, CAST(n AS BIGINT) AS n_grams,
         CAST({ph_expr} AS BIGINT) AS phash
  FROM bsum
),
cand AS (
  SELECT pa.media_id AS media_id,
         bit_count(xor(pa.phash, pb.phash)) AS hamming,
         pb.media_id AS partner
  FROM ph pa JOIN ph pb ON pa.media_id <> pb.media_id
  WHERE {band_match}
),
nn AS (
  SELECT media_id, hamming, partner,
         ROW_NUMBER() OVER (PARTITION BY media_id
                            ORDER BY hamming, partner) AS rk
  FROM cand
)
SELECT g.media_id, g.kind, ph.phash, ph.n_grams,
       nn.partner AS nn_media, CAST(nn.hamming AS INT) AS nn_hamming
FROM ph
JOIN g ON g.media_id = ph.media_id
LEFT JOIN nn ON nn.media_id = ph.media_id AND nn.rk = 1
"""


@register(
    "multimodal_phash_neardup",
    oracle=_phash_oracle(),
    doc="Perceptual-hash near-duplicate detection for media: an "
    "Arrow-batched Python stage computes a 48-bit perceptual signature "
    "from each binary payload (stub: content-4-gram SimHash standing in "
    "for a DCT pHash -- same locality property, deterministic, so the "
    "oracle reproduces it exactly; operators/multimodal.py:"
    "_phash_content is the one-function swap point for a real pixel "
    "hash), then each media row finds its Hamming-nearest banded "
    "candidate via the Manku 4x12-bit multi-index blocking -- an "
    "equi-join on (band_idx, band_val) buckets whose cost follows "
    "bucket occupancy, never all-pairs, with full recall inside "
    "Hamming <= 3 by pigeonhole.  LEFT join keeps isolated media with "
    "null neighbor columns, so the result is a complete per-media "
    "near-dup audit -- the image/audio twin of text SimHash dedup that "
    "a multimodal 100 TB curation pass runs before training.",
    tags=("multimodal", "dedup", "simhash", "mapInPandas"),
    bench=True,
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import phash_features, phash_nearest_neighbor

    return phash_nearest_neighbor(phash_features(_media(spark, sf_dir)))


CLIP_COS_NUM, CLIP_COS_DEN = 3, 4  # alignment gate: cosine >= 3/4


def _clip_pairing_oracle() -> str:
    from ..functions.hashing import hash64_sql_duckdb

    from ..operators.multimodal import CLIP_DIM, CLIP_DROP_MOD

    h = hash64_sql_duckdb("g")
    tn, td = CLIP_COS_NUM, CLIP_COS_DEN
    return f"""
WITH docs4 AS MATERIALIZED (
  SELECT doc_id, text FROM documents WHERE length(text) >= 4
),
grams AS MATERIALIZED (
  SELECT doc_id, {h} AS h
  FROM (
    SELECT doc_id, substr(text, CAST(i AS INT), 4) AS g
    FROM docs4, unnest(range(1, length(text) - 2)) t(i)
  )
),
tvec AS MATERIALIZED (
  SELECT doc_id, h % {CLIP_DIM} AS bucket,
         CAST(SUM(1 - 2 * ((h // {CLIP_DIM}) % 2)) AS BIGINT) AS tval
  FROM grams GROUP BY 1, 2
),
mvec AS MATERIALIZED (
  SELECT doc_id AS media_id, h % {CLIP_DIM} AS bucket,
         CAST(SUM(1 - 2 * ((h // {CLIP_DIM}) % 2)) AS BIGINT) AS mval
  FROM grams WHERE (h // {2 * CLIP_DIM}) % {CLIP_DROP_MOD} <> 0 GROUP BY 1, 2
),
tn_ AS (SELECT doc_id, CAST(SUM(tval * tval) AS BIGINT) AS t_norm2
        FROM tvec GROUP BY 1),
mn_ AS (SELECT media_id, CAST(SUM(mval * mval) AS BIGINT) AS m_norm2
        FROM mvec GROUP BY 1),
pairs AS (
  SELECT doc_id AS media_id, doc_id AS text_doc, 'pos' AS pair_type
  FROM docs4
  UNION ALL
  SELECT media_id, text_doc, 'neg' FROM (
    SELECT doc_id AS media_id,
           LEAD(doc_id) OVER (ORDER BY doc_id) AS text_doc
    FROM docs4
  ) WHERE text_doc IS NOT NULL
),
dots AS (
  SELECT p.media_id, p.text_doc, p.pair_type,
         CAST(SUM(m.mval * COALESCE(t.tval, 0)) AS BIGINT) AS dot
  FROM pairs p
  JOIN mvec m ON m.media_id = p.media_id
  LEFT JOIN tvec t ON t.doc_id = p.text_doc AND t.bucket = m.bucket
  GROUP BY 1, 2, 3
)
SELECT d.media_id, d.text_doc, d.pair_type, d.dot, mn_.m_norm2, tn_.t_norm2,
       CAST(d.dot AS DOUBLE)
         / sqrt(CAST(mn_.m_norm2 * tn_.t_norm2 AS DOUBLE)) AS cos_sim,
       CAST((d.dot > 0 AND
             {td} * {td} * d.dot * d.dot
               >= {tn} * {tn} * mn_.m_norm2 * tn_.t_norm2) AS INT) AS aligned
FROM dots d
JOIN mn_ ON mn_.media_id = d.media_id
JOIN tn_ ON tn_.doc_id = d.text_doc
WHERE mn_.m_norm2 > 0 AND tn_.t_norm2 > 0
"""


def _clip_text_vectors(docs: DataFrame) -> DataFrame:
    """JVM-side text-tower embedding: signed hashed char-4-gram bag in
    long format (doc_id, bucket, tval) -- the exact featurization the
    media tower's stub applies to the decoded payload, minus its dropout."""
    from ..functions.hashing import hash64_sql_spark

    from ..operators.multimodal import CLIP_DIM

    h = hash64_sql_spark("g")
    return (
        docs.where(F.length("text") >= 4)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(text) - 3),"
                    " i -> substring(text, i, 4))"
                )
            ).alias("g"),
        )
        .select("doc_id", F.expr(h).alias("h"))
        .groupBy(
            "doc_id", F.expr(f"h % {CLIP_DIM}").alias("bucket")
        )
        .agg(
            F.sum(F.expr(f"1 - 2 * ((h div {CLIP_DIM}) % 2)"))
            .cast("bigint")
            .alias("tval")
        )
    )


@register(
    "multimodal_clip_pairing",
    oracle=_clip_pairing_oracle(),
    doc="CLIP-shaped cross-modal alignment scoring -- the curation signal "
    "the multimodal suite lacked: every media blob is embedded by the "
    "Arrow-batched media tower (operators/multimodal.py:"
    "clip_media_embeddings -- a content-derived signed hashed-4-gram "
    "stand-in with deterministic 10% feature dropout standing in for a "
    "real CLIP tower), every caption by the JVM-side text tower, and "
    "each media scores against its own caption (pos) and the next "
    "document's caption (neg, the standard in-batch negative).  "
    "Integer long-format vectors make dot and norms exact; the one "
    "double (cos_sim) is dot/sqrt(m2*t2) with identical operands and "
    "IEEE-exact sqrt cross-engine; the aligned gate (cos >= "
    f"{CLIP_COS_NUM}/{CLIP_COS_DEN}) is pure integer arithmetic.  "
    "Positives score high BECAUSE the towers see the same underlying "
    "content through different (lossy) views -- the gate genuinely "
    "separates aligned from mismatched pairs rather than passing a "
    "constant.  100 TB shape: one Python map stage per modality, then "
    "dot products are a bucket-join + aggregate (<= 16 rows per item), "
    "all JVM-side; the neg-pair LEAD window is the EVAL-set "
    "construction (bounded), not a corpus-scale op.",
    tags=("multimodal", "clip", "alignment", "mapInPandas"),
)
def multimodal_clip_pairing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.multimodal import clip_media_embeddings

    docs = load_table(spark, sf_dir, "documents").where(F.length("text") >= 4)
    tvec = track_persist(_clip_text_vectors(docs))
    mvec = track_persist(
        clip_media_embeddings(_media(spark, sf_dir).where(F.length(F.col("payload").cast("string")) >= 4))
    )
    tnorm = tvec.groupBy("doc_id").agg(
        F.sum(F.col("tval") * F.col("tval")).cast("bigint").alias("t_norm2")
    )
    mnorm = mvec.groupBy("media_id").agg(
        F.sum(F.col("mval") * F.col("mval")).cast("bigint").alias("m_norm2")
    )
    pos = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("doc_id").alias("text_doc"),
        F.lit("pos").alias("pair_type"),
    )
    neg = (
        docs.select(
            F.col("doc_id").alias("media_id"),
            # global-window: eval-set negative-pair construction (bounded, see doc); a corpus-scale negative sampler would hash-pair instead
            F.lead("doc_id").over(Window.orderBy("doc_id")).alias("text_doc"),
            F.lit("neg").alias("pair_type"),
        )
        .where(F.col("text_doc").isNotNull())
    )
    pairs = pos.unionByName(neg)
    dots = (
        mvec.join(pairs, "media_id")
        .join(
            tvec.select(
                F.col("doc_id").alias("text_doc"), "bucket", "tval"
            ),
            ["text_doc", "bucket"],
            "left",
        )
        .groupBy("media_id", "text_doc", "pair_type")
        .agg(
            F.sum(F.col("mval") * F.coalesce(F.col("tval"), F.lit(0)))
            .cast("bigint")
            .alias("dot")
        )
    )
    tn, td = CLIP_COS_NUM, CLIP_COS_DEN
    return (
        dots.join(mnorm, "media_id")
        .join(tnorm, dots.text_doc == tnorm.doc_id)
        .where((F.col("m_norm2") > 0) & (F.col("t_norm2") > 0))
        .select(
            "media_id",
            "text_doc",
            "pair_type",
            "dot",
            "m_norm2",
            "t_norm2",
            (
                F.col("dot").cast("double")
                / F.sqrt((F.col("m_norm2") * F.col("t_norm2")).cast("double"))
            ).alias("cos_sim"),
            (
                (F.col("dot") > 0)
                & (
                    F.lit(td * td) * F.col("dot") * F.col("dot")
                    >= F.lit(tn * tn) * F.col("m_norm2") * F.col("t_norm2")
                )
            )
            .cast("int")
            .alias("aligned"),
        )
    )


# --- audio fingerprint retrieval ------------------------------------------

from ..operators.multimodal import (  # noqa: E402  (fingerprint knobs)
    FP_BINS,
    FP_DT_M,
    FP_FANOUT,
    FP_FRAMES,
    FP_Q_HI,
    FP_Q_LO,
    FP_Q_STRIDE,
)

_FP_FRAMES_CTE = f"""
, frames AS (
  SELECT media_id, unnest(range({FP_FRAMES})) AS t, fingerprint
  FROM media WHERE kind = 'audio'
),
peaks AS (
  SELECT media_id, t,
         ('0x' || substr(md5(fingerprint || ':pk:' || CAST(t AS VARCHAR)),
                         1, 15))::BIGINT % {FP_BINS} AS f
  FROM frames
),
landmarks AS (
  SELECT a.media_id, a.t, b.t - a.t AS dt,
         a.f * {FP_BINS * FP_DT_M} + b.f * {FP_DT_M} + (b.t - a.t) AS lm
  FROM peaks a JOIN peaks b
    ON a.media_id = b.media_id AND b.t - a.t BETWEEN 1 AND {FP_FANOUT}
)
"""


@register(
    "multimodal_audio_fingerprint",
    oracle=_MEDIA_CTE
    + _FP_FRAMES_CTE
    + f"""
, queries AS (
  SELECT media_id AS query_id, t - {FP_Q_LO} AS tq, lm
  FROM landmarks
  WHERE media_id % {FP_Q_STRIDE} = 1 AND t >= {FP_Q_LO}
    AND t + dt < {FP_Q_HI}
),
matches AS (
  SELECT q.query_id, c.media_id AS matched_id, c.t - q.tq AS time_offset,
         CAST(COUNT(*) AS BIGINT) AS n_matched
  FROM queries q JOIN landmarks c ON c.lm = q.lm
  GROUP BY 1, 2, 3
),
best AS (
  SELECT query_id, matched_id, time_offset, n_matched,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY n_matched DESC, matched_id, time_offset)
           AS rn
  FROM matches
)
SELECT query_id, matched_id, time_offset, n_matched
FROM best WHERE rn = 1
""",
    doc="Shazam-style audio fingerprint retrieval (Wang 2003 constellation "
    "hashing): per item a decode-stub spectral-peak sequence becomes "
    "time-offset-free landmark hashes (anchor peak x target peak x dt) in "
    "one Arrow-batched stage; a 16-frame clipped excerpt of every 10th "
    "item is the query set, matched against the full corpus landmark "
    "index by equi-join on the hash, scored by the offset-histogram peak "
    "(count per candidate x time offset), top-1 per query.  Every query "
    f"must re-find its source at offset {FP_Q_LO} -- clip-invariance is "
    "the algorithm's defining property and the oracle checks the full "
    "(match, offset, count) triple.  Scale shape: landmarks are ~90 rows "
    "per item feeding an inverted-index equi-join keyed by the 18-bit "
    "hash; the query side is a fixed FRACTION of the corpus "
    f"(1/{FP_Q_STRIDE}), so the join is left to AQE -- broadcast when "
    "the clip set is small, shuffle-hash keyed by landmark otherwise.  "
    "No decode bytes cross the join.  "
    "A real FFT peak-picker replaces one line of the stub "
    "(operators/multimodal.py:audio_landmarks).",
    tags=("multimodal", "audio", "similarity", "mapInPandas"),
)
def multimodal_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.multimodal import audio_landmarks

    lms = track_persist(audio_landmarks(_media(spark, sf_dir)))
    queries = (
        lms.where(
            (F.col("media_id") % FP_Q_STRIDE == 1)
            & (F.col("t") >= FP_Q_LO)
            & (F.col("t") + F.col("dt") < FP_Q_HI)
        )
        .select(
            F.col("media_id").alias("query_id"),
            (F.col("t") - FP_Q_LO).alias("tq"),
            "lm",
        )
    )
    # No broadcast hint: the query side is 1/FP_Q_STRIDE of the corpus
    # (unbounded), so AQE must keep the option of a shuffle-hash join
    # keyed by landmark at scale.
    matches = (
        lms.join(queries, "lm")
        .groupBy(
            "query_id",
            F.col("media_id").alias("matched_id"),
            (F.col("t") - F.col("tq")).alias("time_offset"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_matched"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_matched"), "matched_id", "time_offset"
    )
    return (
        matches.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("query_id", "matched_id", "time_offset", "n_matched")
    )
