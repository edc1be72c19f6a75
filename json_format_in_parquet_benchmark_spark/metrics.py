"""Storage + timing metrics (O23/O24, SURVEY.md section 2.1).

The reference's published results are Parquet file size and compression
ratio (size / original NDJSON bytes) per format x NDV x row count
(/root/reference/scripts/benchmark_results.csv, README.md:16-19).  This
module reproduces those measurements for the Spark engine: write each
representation with the ZSTD writer, sum the output bytes from the
filesystem, and time each codec stage around triggered actions.

Output rows use the reference CSV's column vocabulary
(format / num_of_lines / parquet_file_size / compressed_rate / original)
so the two result sets are directly comparable.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .formats import FORMATS, get_format
from .formats.base import DOC_COL, PAGE_SIZE, ZSTD_LEVEL
from .runtime import free, track_persist


def dir_bytes(path: str) -> int:
    """Total bytes of parquet data files under an output dir (excluding
    _SUCCESS markers and checksums)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(root, f))
    return total


@dataclass
class StorageMetric:
    format: str
    num_of_lines: int
    original: int
    parquet_file_size: int
    compressed_rate: float

    # timing (seconds) of each codec stage around a triggered action
    encode_s: float = 0.0
    decode_s: float = 0.0
    flush_s: float = 0.0
    load_s: float = 0.0


def measure_format(
    spark: SparkSession,
    raw: DataFrame,
    fmt,
    out_dir: str,
    zstd_level: int = ZSTD_LEVEL,
    page_size: int = PAGE_SIZE,
) -> StorageMetric:
    """Round-trip one corpus through one format (name or instance),
    measuring size + stage times.  `raw` must have a string column ``doc``.
    ``zstd_level`` selects the writer arm: REF_ZSTD_LEVEL (parquet-rs
    default, the cross-framework-comparable headline) or the engine's
    tuned ZSTD_LEVEL.  All measurement arms write PAGE_SIZE data pages
    (bigger zstd context per page; never worse, measured round 10) --
    the page size is an engine writer choice, unlike the codec level,
    which is pinned per arm for like-for-likeness."""
    fmt = get_format(fmt) if isinstance(fmt, str) else fmt
    fmt_name = fmt.name
    raw = track_persist(raw)
    stats = raw.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.length(DOC_COL)).alias("chars")
    ).collect()[0]
    # original size counts newline separators, like the reference's on-disk
    # NDJSON corpus
    original = int(stats["chars"]) + int(stats["n"])

    t0 = time.perf_counter()
    encoded = fmt.encode(raw)
    track_persist(encoded).count()  # materialize the representation
    t1 = time.perf_counter()

    path = os.path.join(out_dir, f"{fmt_name}.parquet")
    fmt.flush(encoded, path, zstd_level=zstd_level, page_size=page_size)
    t2 = time.perf_counter()

    loaded = fmt.load(spark, path)
    track_persist(loaded).count()
    t3 = time.perf_counter()

    fmt.decode(loaded).select(F.max(F.length(DOC_COL))).collect()
    t4 = time.perf_counter()

    size = dir_bytes(path)
    metric = StorageMetric(
        format=fmt_name,
        num_of_lines=int(stats["n"]),
        original=original,
        parquet_file_size=size,
        compressed_rate=size / original if original else 0.0,
        encode_s=t1 - t0,
        flush_s=t2 - t1,
        load_s=t3 - t2,
        decode_s=t4 - t3,
    )
    for df in (encoded, loaded, raw):
        free(df)
    return metric


# Reference CSV format-name vocabulary: our plain_json is its "json"
# (scripts/benchmark_results.csv:2 uses `json,0.1,1024,...`).
_REFERENCE_FORMAT_NAMES = {"plain_json": "json"}

CSV_COLUMNS = (
    "format",
    "ndv",
    "num_of_lines",
    "parquet_file_size",
    "compressed_rate",
    "original",
)


def parse_events_corpus_name(path: str) -> float | None:
    """NDV fraction from an events corpus filename
    (``events_ndv_{ndv}_{rows}.json``), or None for non-events corpora."""
    base = os.path.basename(path)
    if not base.startswith("events_ndv_"):
        return None
    try:
        return float(base[len("events_ndv_"):].rsplit("_", 1)[0])
    except ValueError:
        return None


def sweep_corpora(
    spark: SparkSession,
    corpus_paths: list[str],
    out_dir: str,
    csv_path: str | None = None,
    zstd_level: int = ZSTD_LEVEL,
) -> list[dict]:
    """Reproduce the reference's full storage benchmark table: every corpus
    x every format -> rows in the exact column layout of
    /root/reference/scripts/benchmark_results.csv (so the reference's
    scripts/plot.py renders our results unmodified)."""
    import csv

    from .sources.ndjson import read_ndjson_raw

    rows: list[dict] = []
    for path in corpus_paths:
        ndv = parse_events_corpus_name(path)
        raw = read_ndjson_raw(spark, path)
        corpus_dir = os.path.join(
            out_dir, os.path.splitext(os.path.basename(path))[0]
        )
        for m in measure_all_formats(
            spark, raw, corpus_dir, zstd_level=zstd_level
        ):
            rows.append(
                {
                    "format": _REFERENCE_FORMAT_NAMES.get(m.format, m.format),
                    "ndv": ndv if ndv is not None else "",
                    "num_of_lines": m.num_of_lines,
                    "parquet_file_size": m.parquet_file_size,
                    "compressed_rate": m.compressed_rate,
                    "original": m.original,
                }
            )
    if csv_path:
        with open(csv_path, "w", newline="") as f:
            w = csv.DictWriter(f, fieldnames=list(CSV_COLUMNS))
            w.writeheader()
            w.writerows(rows)
    return rows


def measure_all_formats(
    spark: SparkSession,
    raw: DataFrame,
    out_dir: str,
    shred_ddl: str | None = None,
    zstd_level: int = ZSTD_LEVEL,
    page_size: int = PAGE_SIZE,
) -> list[StorageMetric]:
    """All four formats over one corpus; `shred_ddl` overrides the variant
    format's declared schema to match the corpus shape."""
    fmts = []
    for name in FORMATS:
        if name == "variant" and shred_ddl is not None:
            from .formats.variant_shred import VariantShredFormat

            fmts.append(VariantShredFormat(shred_ddl))
        else:
            fmts.append(get_format(name))
    return [
        measure_format(
            spark, raw, f, out_dir, zstd_level=zstd_level, page_size=page_size
        )
        for f in fmts
    ]
