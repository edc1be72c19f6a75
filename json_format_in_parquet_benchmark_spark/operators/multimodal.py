"""Multimodal (image/audio/video) columns as opaque binary + typed metadata.

Capability extension beyond the reference (SURVEY.md §2.2 lists no binary
media handling; the closest analogue is the opaque-binary jsonb column,
/root/reference/src/format/jsonb.rs:17-19): a training-data pipeline at
100 TB carries media as parquet ``binary`` columns next to a typed metadata
struct, and runs decode / feature-extraction / resize / frame-sampling as
Arrow-batched Python stages over ``mapInPandas``.

Container note: no image/audio codec libraries ship in this environment, so
the decode step is STUBBED with a deterministic fake (payload-derived
features; see :func:`_decode_payload_features`).  Everything around the stub
— binary column handling, metadata schema, ``mapInPandas`` signatures,
Arrow batch shapes, partitioning — is real and tested; swapping the fake for
PIL/ffmpeg is a local change inside one function.

Scale design:
- media rows are WIDE (payload dominates); all mapInPandas stages here
  project only the columns they read, so Parquet column pruning keeps
  payload I/O out of metadata-only queries (verified: .explain shows
  ReadSchema without ``payload`` for the catalog query).
- decode stages are embarrassingly parallel per-partition map operations —
  no shuffle at any point; spark.sql.files.maxPartitionBytes bounds the
  per-task payload footprint.
- outputs are flat typed columns, so downstream joins/aggs stay JVM-side.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..runtime import track_persist

KINDS = ("image", "audio", "video")

# resize target: fit the longest side to 224 px, integer floor arithmetic
# (bit-identical in Python, Spark SQL and DuckDB -- no float rounding).
RESIZE_MAX_SIDE = 224
FRAME_SAMPLE_K = 8


def media_table(documents: DataFrame) -> DataFrame:
    """Derive a deterministic media catalog from the documents table.

    Each document becomes one media row: the UTF-8 payload bytes stand in
    for an encoded image/audio/video blob (opaque binary — the engine never
    interprets it outside the decode stub), and the typed metadata struct is
    deterministic arithmetic on doc_id so an external oracle can reproduce
    it exactly.
    """
    kind = F.element_at(F.array(*[F.lit(k) for k in KINDS]), (F.pmod("doc_id", F.lit(3)) + 1).cast("int"))
    return documents.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            # image metadata (null for other kinds)
            (F.lit(64) + F.pmod("doc_id", F.lit(32)) * 16).alias("width"),
            (F.lit(64) + F.pmod("doc_id", F.lit(24)) * 16).alias("height"),
            F.lit(3).alias("channels"),
            # audio metadata
            F.lit(16000).alias("sample_rate"),
            # video metadata
            (F.lit(24) + F.pmod("doc_id", F.lit(2)) * 6).alias("fps"),
            (F.lit(100) + F.pmod("doc_id", F.lit(900))).alias("n_frames"),
        ).alias("meta"),
    )


def _decode_payload_features(payload: bytes) -> tuple[int, str]:
    """STUB decode: deterministic payload-derived features.

    A real deployment decodes the blob with PIL/torchaudio/ffmpeg here and
    emits actual features; those libraries are absent in this container, so
    the stub emits (byte length, md5 fingerprint) — deterministic, so the
    full Spark pipeline around it is value-checkable cross-engine.
    """
    return len(payload), hashlib.md5(payload).hexdigest()


def decode_features(media: DataFrame) -> DataFrame:
    """Arrow-batched decode/feature-extract stage over the binary payload.

    mapInPandas (not a scalar pandas_udf) because a real decoder returns a
    variable number of rows per input (corrupt blobs dropped, multi-stream
    containers expanded) — the iterator-of-batches shape is the one that
    generalizes.
    """
    src = media.select("media_id", "kind", "payload")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [_decode_payload_features(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "kind": pdf["kind"].values,
                    "payload_bytes": [f[0] for f in feats],
                    "fingerprint": [f[1] for f in feats],
                }
            )

    return src.mapInPandas(
        batches,
        schema="media_id long, kind string, payload_bytes long, fingerprint string",
    )


def resize_images(media: DataFrame, max_side: int = RESIZE_MAX_SIDE) -> DataFrame:
    """Resize planning for image media: fit longest side to ``max_side``.

    The geometry (pure integer arithmetic) runs in the Python stage to
    exercise the real pixel-stage plumbing; the actual pixel resample is the
    stubbed part (no imaging library in this container).  Payload is NOT
    read — column pruning keeps this metadata-only.
    """
    src = media.where(F.col("kind") == "image").select(
        "media_id", F.col("meta.width").alias("width"), F.col("meta.height").alias("height")
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            w = pdf["width"].astype("int64")
            h = pdf["height"].astype("int64")
            long_side = w.combine(h, max)
            new_w = (w * max_side) // long_side
            new_h = (h * max_side) // long_side
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "width": w.values,
                    "height": h.values,
                    "new_width": new_w.values,
                    "new_height": new_h.values,
                }
            )

    return src.mapInPandas(
        batches,
        schema="media_id long, width long, height long, new_width long, new_height long",
    )


def sample_frames(media: DataFrame, k: int = FRAME_SAMPLE_K) -> DataFrame:
    """Evenly sample ``k`` frame indices per video (floor(i*n/k)).

    One input row fans out to k output rows — the mapInPandas shape a real
    frame extractor has (decode stub: indices only, no pixel data).
    """
    src = media.where(F.col("kind") == "video").select(
        "media_id", F.col("meta.n_frames").alias("n_frames")
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_media, out_sample, out_frame, out_n = [], [], [], []
            for mid, n in zip(pdf["media_id"], pdf["n_frames"]):
                n = int(n)
                for i in range(k):
                    out_media.append(mid)
                    out_sample.append(i)
                    out_frame.append((i * n) // k)
                    out_n.append(n)
            yield pd.DataFrame(
                {
                    "media_id": out_media,
                    "sample_idx": out_sample,
                    "frame_idx": out_frame,
                    "n_frames": out_n,
                }
            )

    return src.mapInPandas(
        batches,
        schema="media_id long, sample_idx long, frame_idx long, n_frames long",
    )


AUDIO_SAMPLE_RATE = 16_000  # Hz (stub metadata convention)
AUDIO_CHUNK_S = 30  # seconds per training chunk


def chunk_audio(
    media: DataFrame,
    sample_rate: int = AUDIO_SAMPLE_RATE,
    chunk_s: int = AUDIO_CHUNK_S,
) -> DataFrame:
    """Split each audio payload into fixed-duration chunks (the ASR /
    audio-LM preprocessing staple) with a deterministic per-chunk energy
    stub.

    n_samples derives from the payload size (stub: 64 samples per payload
    byte); chunk count = ceil(n_samples / chunk).  One row fans out to
    n_chunks rows inside mapInPandas -- the real extractor's shape; the
    energy value is an md5-derived integer so the whole fan-out is exactly
    oracle-checkable (a real decoder swaps ONLY the two stub lines).
    """
    chunk_samples = sample_rate * chunk_s
    src = media.where(F.col("kind") == "audio").select("media_id", "payload")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mids, idxs, starts, lens, energies = [], [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                # decode stub: sample count and fingerprint from the blob
                n_samples = len(payload) * 64
                fp = hashlib.md5(payload).hexdigest()
                n_chunks = -(-n_samples // chunk_samples)
                for i in range(n_chunks):
                    start = i * chunk_samples
                    mids.append(mid)
                    idxs.append(i)
                    starts.append(start)
                    lens.append(min(chunk_samples, n_samples - start))
                    h = hashlib.md5(f"{fp}:{i}".encode()).hexdigest()
                    energies.append(int(h[:15], 16) % 100_000)
            yield pd.DataFrame(
                {
                    "media_id": mids,
                    "chunk_idx": idxs,
                    "start_sample": starts,
                    "n_samples": lens,
                    "energy_q": energies,
                }
            )

    return src.mapInPandas(
        batches,
        schema="media_id long, chunk_idx long, start_sample long,"
        " n_samples long, energy_q long",
    )


PHASH_BITS = 48  # 4 bands x 12 bits; 48 bits keep every band mask exact int64
PHASH_BANDS = 4
PHASH_BAND_WIDTH = PHASH_BITS // PHASH_BANDS
PHASH_MAX_HAMMING = 3  # bands > max_hamming => full-recall banding (pigeonhole)


def _phash_content(payload: bytes) -> tuple[int, int]:
    """STUB perceptual hash: SimHash over the decoded content's 4-grams.

    A real deployment decodes pixels and computes a DCT pHash here; without
    imaging libraries the deterministic stand-in hashes the decoded content's
    overlapping 4-char shingles (with multiplicity) through the repo's
    portable 60-bit md5 hash and takes the sign of each bit-sum — the same
    locality property (similar content => small Hamming distance) computed
    from the payload alone, so the distributed blocking around it is honest.

    Returns (phash, n_grams).
    """
    import numpy as np

    # surrogateescape keeps the decode deterministic AND total: the
    # text-derived stub media is pure UTF-8 (identical result), while a
    # real binary blob maps each undecodable byte to a stable surrogate
    # instead of raising UnicodeDecodeError -- the stage is the documented
    # swap point for a pixel-DCT pHash and must not fail closed on the
    # first genuine media payload.
    text = bytes(payload).decode("utf-8", errors="surrogateescape")
    grams = (
        [text[i : i + 4] for i in range(len(text) - 3)] if len(text) >= 4 else [text]
    )
    hs = np.array(
        [
            # surrogateescape round-trips the lossless decode above: grams
            # from binary payloads re-encode to their original bytes
            # instead of raising UnicodeEncodeError on lone surrogates.
            int(
                hashlib.md5(g.encode("utf-8", errors="surrogateescape")).hexdigest()[
                    :15
                ],
                16,
            )
            for g in grams
        ],
        dtype=np.uint64,
    )
    bits = (hs[:, None] >> np.arange(PHASH_BITS, dtype=np.uint64)) & np.uint64(1)
    sums = bits.sum(axis=0, dtype=np.int64)
    n = len(grams)
    ph = 0
    for j in range(PHASH_BITS):
        if 2 * int(sums[j]) - n >= 0:
            ph |= 1 << j
    return ph, n


def phash_features(media: DataFrame) -> DataFrame:
    """Arrow-batched perceptual-hash stage over the binary payload."""
    src = media.select("media_id", "kind", "payload")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [_phash_content(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "kind": pdf["kind"].values,
                    "phash": [f[0] for f in feats],
                    "n_grams": [f[1] for f in feats],
                }
            )

    return src.mapInPandas(
        batches, schema="media_id long, kind string, phash long, n_grams long"
    )


def phash_nearest_neighbor(feats: DataFrame) -> DataFrame:
    """Per-media nearest banded candidate by Hamming(phash), else null.

    Candidates are pairs agreeing on at least one of the 4 contiguous 12-bit
    signature bands (Manku multi-index SimHash — the identical blocking to
    operators/dedup.py:simhash_pairs, so every pair within Hamming <=
    PHASH_MAX_HAMMING is guaranteed a candidate, plus chance band collisions
    beyond the radius).  The equi-join runs on (band_idx, band_val) buckets —
    occupancy-bounded, never all-pairs — and each media keeps its
    (hamming, partner)-minimal candidate via one struct-min aggregate.  A
    LEFT join back to the signatures keeps isolated media in the result with
    null neighbor columns.
    """
    feats = track_persist(feats)
    mask = (1 << PHASH_BAND_WIDTH) - 1
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.expr(f"shiftright(phash, {b * PHASH_BAND_WIDTH}) & {mask}").alias(
                "band_val"
            ),
        )
        for b in range(PHASH_BANDS)
    ]
    banded = feats.select(
        "media_id", "phash", F.explode(F.array(*band_structs)).alias("bb")
    ).select(
        "media_id",
        "phash",
        F.col("bb.band_idx").alias("band_idx"),
        F.col("bb.band_val").alias("band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.media_id") != F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("media_id"),
            F.expr("cast(bit_count(a.phash ^ b.phash) as int)").alias("hamming"),
            F.col("b.media_id").alias("partner"),
        )
        .groupBy("media_id")
        .agg(F.min(F.struct("hamming", "partner")).alias("nn"))
    )
    return feats.join(cand, "media_id", "left").select(
        "media_id",
        "kind",
        "phash",
        "n_grams",
        F.col("nn.partner").alias("nn_media"),
        F.col("nn.hamming").alias("nn_hamming"),
    )


CLIP_DIM = 16  # hashed feature buckets per modality embedding
CLIP_DROP_MOD = 10  # media encoder drops 1/10 features: simulated lossy view


def _clip_media_vector(payload: bytes) -> dict[int, int]:
    """STUB media encoder: signed hashed char-4-gram bag of the decoded
    content, with a deterministic 1-in-10 feature dropout.

    A real deployment runs a CLIP image/audio tower here and emits a float
    vector; without model weights the stand-in derives the embedding from
    the payload CONTENT (each 4-gram hashes to one of CLIP_DIM buckets
    with a +-1 sign), so an aligned (media, caption) pair genuinely scores
    high and a mismatched pair scores near zero -- the gate discriminates,
    it is not a fixed-point fake.  The dropout models the encoder seeing a
    LOSSY view of the content (what makes positive-pair cosine < 1 and the
    alignment threshold meaningful); it is hash-deterministic so the
    DuckDB oracle replays it exactly.

    ONE md5 per gram: bucket rides the low bits (h % DIM), sign the next
    bit (h div DIM), dropout the bits above those (h div 2*DIM) -- three
    independent-enough fields of the same 60-bit hash, so the dropout
    decision costs no second hash (measured: hashing dominates this
    stage; a salted second md5 doubled its cost).
    """
    text = bytes(payload).decode("utf-8", errors="surrogateescape")
    vec: dict[int, int] = {}
    md5 = hashlib.md5
    for i in range(len(text) - 3):
        g = text[i : i + 4].encode("utf-8", errors="surrogateescape")
        h = int(md5(g).hexdigest()[:15], 16)
        if (h // (2 * CLIP_DIM)) % CLIP_DROP_MOD == 0:
            continue
        bucket = h % CLIP_DIM
        sign = 1 if (h // CLIP_DIM) % 2 == 0 else -1
        vec[bucket] = vec.get(bucket, 0) + sign
    return vec


def clip_media_embeddings(media: DataFrame) -> DataFrame:
    """Arrow-batched media-tower embedding stage: (media_id, bucket, mval)
    long-format integer vectors from the binary payload.

    Long format (one row per non-zero bucket, <= CLIP_DIM rows per media)
    keeps the downstream dot product a plain join+aggregate -- fully
    JVM-side after this one Python stage -- and integer components make
    the cross-modal score exact cross-engine.
    """
    src = media.select("media_id", "payload")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, buckets, vals = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for bucket, v in sorted(_clip_media_vector(payload).items()):
                    ids.append(mid)
                    buckets.append(bucket)
                    vals.append(v)
            yield pd.DataFrame(
                {"media_id": ids, "bucket": buckets, "mval": vals},
                dtype="int64",
            )

    return src.mapInPandas(
        batches, schema="media_id long, bucket long, mval long"
    )


# --- audio fingerprinting (constellation hashing) -------------------------

FP_FRAMES = 32  # spectrogram frames per item (decode stub)
FP_BINS = 256  # frequency bins (8-bit peak)
FP_FANOUT = 3  # anchor pairs with targets at dt in [1, FANOUT]
FP_Q_LO, FP_Q_HI = 8, 24  # query excerpt = frames [FP_Q_LO, FP_Q_HI)
FP_Q_STRIDE = 10  # every FP_Q_STRIDE-th audio item is a query clip
FP_DT_M = FP_FANOUT + 1  # landmark packing: f1*BINS*DT_M + f2*DT_M + dt


def audio_landmarks(media: DataFrame) -> DataFrame:
    """Shazam-style constellation landmarks per audio item.

    Decode stub: the per-frame spectral peak is md5-derived from the
    payload fingerprint (``f(t) = md5(fp + ':pk:' + t) % FP_BINS``) -- a
    real FFT peak-picker replaces exactly that one line; the landmark
    construction (anchor frame paired with the next FP_FANOUT frames,
    hash = f_anchor * 1024 + f_target * 4 + dt -- time-offset FREE, which
    is what makes matching clip-invariant) and everything downstream is
    the real algorithm (Wang 2003).  Emits (media_id, t, dt, lm) rows
    from ONE Arrow-batched stage; ~3*FP_FRAMES rows per item.
    """
    src = media.where(F.col("kind") == "audio").select("media_id", "payload")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mids, ts, dts, lms = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                fp = hashlib.md5(payload).hexdigest()
                peaks = [
                    int(
                        hashlib.md5(f"{fp}:pk:{t}".encode()).hexdigest()[:15],
                        16,
                    )
                    % FP_BINS
                    for t in range(FP_FRAMES)
                ]
                for t in range(FP_FRAMES):
                    for dt in range(1, FP_FANOUT + 1):
                        if t + dt >= FP_FRAMES:
                            break
                        mids.append(mid)
                        ts.append(t)
                        dts.append(dt)
                        lms.append(
                            peaks[t] * FP_BINS * FP_DT_M
                            + peaks[t + dt] * FP_DT_M
                            + dt
                        )
            yield pd.DataFrame(
                {"media_id": mids, "t": ts, "dt": dts, "lm": lms}
            )

    return src.mapInPandas(
        batches, schema="media_id long, t long, dt long, lm long"
    )
