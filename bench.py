#!/usr/bin/env python
"""Benchmark harness: prints ONE JSON line, full detail in
``results/bench_full.json``.

Times the headline queries (REGISTRY entries tagged bench=True) at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], then runs the measurement sections of
:data:`SECTIONS`: the reference's storage benchmark (Parquet size +
compression ratio per format, BASELINE.md) on the reference's own corpora
so the two result sets are directly comparable, and the three-way path
query bench.  A section whose declared inputs are absent is listed under
``unavailable`` with the missing paths; one that raises is listed under
``section_failures`` with its repr.  Either way its key reads null.

JSON shape (stdout):
  {"metric": "headline_queries_total", "value": <sec>, "unit": "sec",
   "queries": {name: sec, ...}, "cal": <sec>, "sf": <float>,
   "storage": {format: compressed_rate} | null, "path_query": {...} | null,
   "unavailable": [key, ...], "section_failures": [key, ...], ...}
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from collections.abc import Callable
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from json_format_in_parquet_benchmark_spark.formats.base import (
    PAGE_SIZE,
    REF_ZSTD_LEVEL,
    ZSTD_LEVEL,
)
from json_format_in_parquet_benchmark_spark.metrics import (
    StorageMetric,
    measure_all_formats,
    measure_format,
)
from json_format_in_parquet_benchmark_spark.plans import REGISTRY
from json_format_in_parquet_benchmark_spark.plans.queries_json import (
    GOLDEN_INPUTS,
    GOLDEN_PROBES,
)
from json_format_in_parquet_benchmark_spark.runtime import (
    REFERENCE_JSON_DIR,
    free,
    release_caches,
    scratch_dir,
    track_persist,
)
from json_format_in_parquet_benchmark_spark.session import get_spark
from json_format_in_parquet_benchmark_spark.sources.ndjson import read_ndjson_raw
from json_format_in_parquet_benchmark_spark.tables import (
    SMOKE_SF_DIR,
    load_table,
    table_path,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# The storage sections read only the reference's files, never the
# committed stand-ins: their numbers are compared with BASELINE.md.
STORAGE_CORPUS = os.path.join(REFERENCE_JSON_DIR, "events_ndv_0.1_8192.json")
# The reference's encode/flush benches loop every standard-doc corpus
# (benches/encode.rs:8-24 over consts.rs AVAILABLE_JSONS, plus the repo's
# logs/tags/trace corpora); time the same loop here.  These corpora have
# heterogeneous schemas, so only the 3 schema-agnostic formats run --
# exactly the reference's AVAILABLE_FORMATS (consts.rs:3).
CORPUS_LOOP = ("logs.json", "tags.json", "tags_with_time.json", "trace.json")
CORPUS_FORMATS = ("plain_json", "jsonb", "jsonc")
# Host-speed anchor for the calibration query below (r10 verdict item 9):
# the min-of-5 calibration seconds measured IN-BENCH (i.e. after the full
# warmup phase -- JIT state matters: the same query measured 0.1962s on a
# fresh JVM and 0.0916s post-warmup on the same quiet box) at r11.
# Cross-day totals here swing ~18% with machine load (bench_notes.md), so
# bench_full reports each headliner both raw and normalized by
# (calibration_s / CAL_BASELINE_S) -- a round-over-round comparison reads
# the normalized column and no longer re-litigates host noise.
CAL_BASELINE_S = 0.0916
# Stdout stays one short line; the detail is in results/bench_full.json.
COMPACT_MAX_CHARS = 1600


def _best_of(run, n: int) -> float:
    """Warm ``run`` once, then return the fastest of ``n`` timed calls (s)."""
    run()
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        run()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


_EXEC_METRIC_KEYS = {
    "shuffleBytesWritten": "shuffle_write_bytes",
    "localBytesRead": "shuffle_read_bytes",
    "remoteBytesRead": "shuffle_read_bytes",
    "filesSize": "scan_bytes",
    # Python boundary (timing metrics are in ms): boot = forking a worker,
    # init = per-task set-up before the first batch, total = the whole run
    "pythonBootTime": "python_boot_ms",
    "pythonInitTime": "python_init_ms",
    "pythonTotalTime": "python_total_ms",
}


def _exec_metrics(df) -> dict:
    """Aggregate executed-plan SQL metrics (post-collect): total shuffle
    write/read bytes, bytes scanned, exchange/broadcast node counts, and
    the Python-worker boot/init/total ms summed over the plan's Python
    nodes.  These quantify the shuffle-discipline claims mechanically -- a
    plan regression that doubles shuffled bytes shows up here even when
    wall time hides in machine noise."""
    acc = {"shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "scan_bytes": 0,
           "n_shuffles": 0, "n_broadcasts": 0, "python_boot_ms": 0,
           "python_init_ms": 0, "python_total_ms": 0}

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "ShuffleExchangeExec":
            acc["n_shuffles"] += 1
        elif cls == "BroadcastExchangeExec":
            acc["n_broadcasts"] += 1
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key = _EXEC_METRIC_KEYS.get(kv._1())
            if key:
                acc[key] += max(0, kv._2().value())
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return acc


def _run_headliners(spark, queries: dict, sf_dir: str) -> dict:
    """Time each query three times and keep the min, plus its row count
    and executed-plan metrics.  The min squeezes out GC / machine-load
    noise so round-over-round numbers track plan changes, not scheduler
    luck (criterion reports a statistical min the same way).

    Failures are loud and local: a query that raises is recorded in
    ``query_failures`` {name: repr(exc)} and the loop moves on to the next
    query; a metric read that raises lands in ``exec_metric_failures``
    instead of a placeholder value.  Returns one dict per
    ``bench_full.json`` key."""
    out: dict[str, dict] = {
        k: {}
        for k in (
            "queries", "queries_trials", "rows", "exec_metrics",
            "query_failures", "exec_metric_failures",
        )
    }
    for name, q in sorted(queries.items()):
        # Drop persisted intermediates left by the PREVIOUS query: Spark's
        # CacheManager substitutes canonically-matching cached fragments
        # into later plans, so without this a query's measured plan
        # depends on which queries ran before it.  The three iterations
        # of one query still share their own caches.
        release_caches()
        per_trial = []
        try:
            for _ in range(3):
                t0 = time.perf_counter()
                df = q.fn(spark, sf_dir)
                rows = df.collect()
                per_trial.append(round(time.perf_counter() - t0, 4))
        except Exception as exc:
            out["query_failures"][name] = repr(exc)
            continue
        # min is the headline (criterion's low-noise statistic); the raw
        # per-trial list is kept so a reader can see the spread/outliers
        # the same way criterion's sampled distributions do.
        out["queries"][name] = min(per_trial)
        out["queries_trials"][name] = per_trial
        out["rows"][name] = len(rows)
        try:
            out["exec_metrics"][name] = _exec_metrics(df)
        except Exception as exc:
            out["exec_metric_failures"][name] = repr(exc)
    return out


# --- measurement sections ------------------------------------------------


class Section(NamedTuple):
    key: str  # bench_full.json key of the result
    inputs: tuple[str, ...]  # files that must exist for the section to run
    run: Callable[[SparkSession], dict]


def _storage_row(m: StorageMetric) -> dict:
    return {
        "num_of_lines": m.num_of_lines,
        "parquet_file_size": m.parquet_file_size,
        "compressed_rate": round(m.compressed_rate, 4),
        **{k: round(getattr(m, k), 3)
           for k in ("encode_s", "flush_s", "load_s", "decode_s")},
    }


def _storage(spark: SparkSession, level: int, page: int) -> dict:
    """All four formats over the reference's events corpus (comparable to
    BASELINE.md ndv=0.1 / 8192 rows), written at zstd ``level`` with
    ``page``-byte data pages."""
    out_dir = scratch_dir(REFERENCE_JSON_DIR, f"storage_l{level}_p{page}")
    raw = read_ndjson_raw(spark, STORAGE_CORPUS)
    return {
        m.format: _storage_row(m)
        for m in measure_all_formats(
            spark, raw, out_dir, zstd_level=level, page_size=page
        )
    }


def _storage_by_corpus(spark: SparkSession) -> dict:
    """O24 breadth: the reference's per-corpus encode/decode/flush/load
    loop (benches/encode.rs, benches/flush.rs) over the real-world
    corpora, with the reference's own 3-format allowlist (consts.rs:3-4),
    at the reference-matched writer level (cross-framework comparable)."""
    out: dict[str, dict] = {}
    for corpus in CORPUS_LOOP:
        stem = corpus.split(".")[0]
        raw = read_ndjson_raw(spark, os.path.join(REFERENCE_JSON_DIR, corpus))
        cdir = scratch_dir(REFERENCE_JSON_DIR, f"corpus_{stem}")
        out[stem] = {
            fmt: _storage_row(
                measure_format(spark, raw, fmt, cdir, zstd_level=REF_ZSTD_LEVEL)
            )
            for fmt in CORPUS_FORMATS
        }
    return out


def _path_query(spark: SparkSession) -> dict:
    """Three-way path-query timing (the reference's query bench, E3 in
    SURVEY.md §3): per-row re-parse (get_json_object, the serde arm) vs
    pre-parsed variant access (the jsonb/jsonc arm) vs shredded column
    access -- same comparison, measured over the events table at SF."""
    events = load_table(spark, SF_DIR, "events")
    variant = track_persist(events.select(F.parse_json("props").alias("v")))
    shredded = track_persist(events.select(F.from_json("props", "k BIGINT").alias("s")))
    arms = {
        "reparse_get_json_object": lambda: events.select(
            F.get_json_object("props", "$.k").alias("k")
        ).agg(F.max("k")).collect(),
        "variant_get_preparsed": lambda: variant.select(
            F.variant_get("v", "$.k", "string").alias("k")
        ).agg(F.max("k")).collect(),
        "shredded_column_access": lambda: shredded.select(
            F.col("s.k").cast("string").alias("k")
        ).agg(F.max("k")).collect(),
    }
    variant.count(), shredded.count()  # materialize pre-parsed arms
    out = {arm: _best_of(run, 2) for arm, run in arms.items()}
    free(variant), free(shredded)
    return out


def _path_query_golden(spark: SparkSession) -> dict:
    """The reference's published query bench runs the same arms on the
    STANDARD documents (canada / citm_catalog / twitter -- the worst-case
    deep/nested docs, benches/query.rs:46-67).  criterion amortizes one
    get over thousands of iterations; the Spark analogue replicates the
    document into a column of N copies and times path access over it, so
    per-get cost dominates scheduling overhead the same way."""
    # Enough replicated bytes that per-get cost dominates scheduling,
    # few enough that canada.json (a 2.2 MB single doc) stays cheap:
    # ~32 MB of JSON per probe, clamped to [32, 2048] copies.
    target_bytes = 32 << 20
    out: dict[str, dict[str, float]] = {}
    for name, fpath, spath, _dpath, _expected in GOLDEN_PROBES:
        n_copies = max(32, min(2048, target_bytes // max(1, os.path.getsize(fpath))))
        doc = track_persist(
            spark.read.text(fpath)
            .distinct()
            .crossJoin(spark.range(n_copies))
            .select("value")
        )
        variant = track_persist(doc.select(F.parse_json("value").alias("v")))
        doc.count(), variant.count()
        arms = {
            "reparse": lambda d=doc, p=spath: d.select(
                F.get_json_object("value", p).alias("x")
            ).agg(F.count("x")).collect(),
            "variant_preparsed": lambda v=variant, p=spath: v.select(
                F.variant_get("v", p, "string").alias("x")
            ).agg(F.count("x")).collect(),
        }
        out[name] = {arm: _best_of(run, 2) for arm, run in arms.items()}
        free(doc), free(variant)
    return out


# The measurement sections, in run order.  The headline storage arm writes
# at REF_ZSTD_LEVEL (parquet-rs ZstdLevel::default() = 1, the reference
# writer's effective level) so the cross-framework ratio measures format
# representation, not a compression-knob asymmetry; the engine's tuned
# level-9 arm is storage_zstd9.  storage_default_pages is the strict
# like-for-like arm (ADVICE r10): reference level AND ~the reference
# writer's default 1 MiB data-page limit, so neither codec level nor page
# size favors this engine -- the ratio a skeptic should quote.
SECTIONS = (
    Section("storage", (STORAGE_CORPUS,),
            lambda spark: _storage(spark, REF_ZSTD_LEVEL, PAGE_SIZE)),
    Section("storage_zstd9", (STORAGE_CORPUS,),
            lambda spark: _storage(spark, ZSTD_LEVEL, PAGE_SIZE)),
    Section("storage_default_pages", (STORAGE_CORPUS,),
            lambda spark: _storage(spark, REF_ZSTD_LEVEL, 1 << 20)),
    Section("storage_by_corpus",
            tuple(os.path.join(REFERENCE_JSON_DIR, c) for c in CORPUS_LOOP),
            _storage_by_corpus),
    Section("path_query", (table_path(SF_DIR, "events"),), _path_query),
    Section("path_query_golden", GOLDEN_INPUTS, _path_query_golden),
)


def run_sections(spark, table) -> dict:
    """Run each section of ``table``: its result lands under its key; a
    section with absent inputs is skipped and listed under
    ``unavailable`` {key: [missing paths]}, one that raises under
    ``section_failures`` {key: repr(exc)}, and its key reads None."""
    out: dict = {"unavailable": {}, "section_failures": {}}
    for key, inputs, run in table:
        t0 = time.perf_counter()
        out[key] = None
        missing = [p for p in inputs if not os.path.exists(p)]
        if missing:
            out["unavailable"][key] = missing
            continue
        try:
            out[key] = run(spark)
        except Exception as exc:
            traceback.print_exc()
            out["section_failures"][key] = repr(exc)
        _phase(key, t0)
    return out


# --- output --------------------------------------------------------------


def infer_sf(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _phase(label: str, t0: float) -> float:
    """Stderr phase timer (stdout stays the one JSON line)."""
    now = time.perf_counter()
    print(f"[bench] {label}: {now - t0:.1f}s", file=sys.stderr)
    return now


def compact_line(full: dict) -> str:
    """The stdout line: queries, headline storage rates and the 3-way path
    bench.  If it would exceed COMPACT_MAX_CHARS, the full-results pointer
    goes first, then per-query timings, fastest first (their detail stays
    in results/bench_full.json) -- storage and path_query are the
    sections BASELINE.md compares against, so they are never dropped."""
    storage = full["storage"]
    compact = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": full["unit"],
        "queries": dict(full["queries"]),
        "cal": full["calibration"]["seconds"],
        "sf": full["sf"],
        "storage": storage and {k: v["compressed_rate"] for k, v in storage.items()},
        # rates above are written at the reference writer's effective zstd
        # level (parquet-rs default); the tuned arm is in the full file
        "storage_zstd_level": REF_ZSTD_LEVEL,
        "path_query": full["path_query"],
        "unavailable": sorted(full["unavailable"]),
        "section_failures": sorted(full["section_failures"]),
        "full": "results/bench_full.json",
    }
    if len(json.dumps(compact)) > COMPACT_MAX_CHARS:
        compact.pop("full")
    qd = compact["queries"]
    while len(json.dumps(compact)) > COMPACT_MAX_CHARS and len(qd) > 1:
        qd.pop(min(qd, key=qd.get))
        compact["queries_omitted"] = compact.get("queries_omitted", 0) + 1
    return json.dumps(compact)


def main() -> None:
    spark = get_spark(app_name="jfipb-bench")
    t_phase = time.perf_counter()

    bench_queries = {n: q for n, q in REGISTRY.items() if q.bench}

    # Warmup: run every headline query once at the smallest SF so measured
    # timings reflect the plan, not first-run codegen/JIT -- the same
    # warmup-then-measure discipline as the reference's criterion harness
    # (/root/reference/benches/encode.rs runs criterion warmup iterations).
    # A failed warm-up does not stop the bench; it is recorded, not hidden.
    warmup_failures: dict[str, str] = {}
    for name, q in bench_queries.items():
        try:
            q.fn(spark, SMOKE_SF_DIR).count()
        except Exception as exc:
            warmup_failures[name] = repr(exc)

    t_phase = _phase("warmup", t_phase)

    # Calibration: a FIXED pure-JVM whole-stage-codegen aggregate whose
    # plan never changes round over round -- a host-speed probe, timed
    # min-of-5 FIRST so every headliner below can be read normalized
    # (raw * CAL_BASELINE_S / calibration_s) as well as raw.
    def _calibration_run() -> None:
        spark.range(0, 50_000_000, 1, 32).selectExpr(
            "sum((id * 2654435761) % 1000003) as s"
        ).collect()

    calibration_s = _best_of(_calibration_run, 5)

    t_phase = _phase("calibration", t_phase)

    headliners = _run_headliners(spark, bench_queries, SF_DIR)
    timings = headliners["queries"]

    _phase("headline_queries", t_phase)

    measured = run_sections(spark, SECTIONS)
    release_caches()  # drop persisted dedup intermediates before exit

    full = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "calibration": {
            "seconds": calibration_s,
            "baseline_seconds": CAL_BASELINE_S,
            "host_factor": round(calibration_s / CAL_BASELINE_S, 4),
        },
        "queries_normalized": {
            n: round(t * CAL_BASELINE_S / calibration_s, 4)
            for n, t in timings.items()
        },
        "sf": infer_sf(SF_DIR),
        "warmup_failures": warmup_failures,
        **{k: v for k, v in headliners.items() if k != "queries"},
        "storage_page_size": PAGE_SIZE,
        **measured,
    }
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "results", "bench_full.json"
    )
    try:
        os.makedirs(os.path.dirname(full_path), exist_ok=True)
        with open(full_path, "w") as f:
            json.dump(full, f, indent=1)
    except OSError as exc:  # a read-only checkout must not sink the bench
        print(f"[bench] could not write {full_path}: {exc}", file=sys.stderr)

    spark.stop()
    # Printed LAST, after Spark shutdown, so nothing can land on stdout
    # after this line.
    print(compact_line(full))


if __name__ == "__main__":
    main()
