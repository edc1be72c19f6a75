#!/usr/bin/env python
"""Benchmark harness (driver contract: prints ONE JSON line).

Runs the headline queries (REGISTRY entries tagged bench=True) at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], then reproduces the reference's storage benchmark
(Parquet size + compression ratio per format, BASELINE.md) on the
reference's own events corpus so the two result sets are directly
comparable.

JSON shape:
  {"metric": "headline_queries_total", "value": <sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <float>,
   "storage": {format: {"parquet_file_size": B, "compressed_rate": r}},
   "rows": {name: n}}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from json_format_in_parquet_benchmark_spark.formats.base import (
    PAGE_SIZE,
    REF_ZSTD_LEVEL,
)
from json_format_in_parquet_benchmark_spark.plans import REGISTRY
from json_format_in_parquet_benchmark_spark.runtime import (
    plan_fingerprint,
    release_caches,
    scratch_dir,
)
from json_format_in_parquet_benchmark_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REFERENCE_JSON_DIR = "/root/reference/json"
STORAGE_CORPUS = f"{REFERENCE_JSON_DIR}/events_ndv_0.1_8192.json"
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
    """Time each query three times and keep the min, plus its row count,
    plan fingerprint and executed-plan metrics.  The min squeezes out GC /
    machine-load noise so round-over-round numbers track plan changes, not
    scheduler luck (criterion reports a statistical min the same way).

    Failures are loud and local: a query that raises is recorded in
    ``query_failures`` {name: repr(exc)} and the loop moves on to the next
    query; a fingerprint or metric read that raises lands in
    ``plan_hash_failures`` / ``exec_metric_failures`` instead of a
    placeholder value.  Returns one dict per ``bench_full.json`` key."""
    out: dict[str, dict] = {
        k: {}
        for k in (
            "queries", "queries_trials", "rows", "plan_hash", "exec_metrics",
            "query_failures", "plan_hash_failures", "exec_metric_failures",
        )
    }
    for name, q in sorted(queries.items()):
        # Drop persisted intermediates left by the PREVIOUS query: Spark's
        # CacheManager substitutes canonically-matching cached fragments
        # into later plans, so without this a query's measured plan (and
        # its fingerprint) depends on which queries ran before it.  The
        # three iterations of one query still share their own caches.
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
        for key, failures, read in (
            ("plan_hash", "plan_hash_failures", plan_fingerprint),
            ("exec_metrics", "exec_metric_failures", _exec_metrics),
        ):
            try:
                out[key][name] = read(df)
            except Exception as exc:
                out[failures][name] = repr(exc)
    return out


def _latest_compact_reported(repo_root: str) -> set[str]:
    """Query names that made the most recent driver-recorded compact bench
    line (BENCH_r*.json) -- the shed-first set for this round's rotation."""
    import glob
    import re

    best_round, names = -1, set()
    for p in glob.glob(os.path.join(repo_root, "BENCH_r*.json")):
        m = re.search(r"_r(\d+)\.json$", p)
        if not m or int(m.group(1)) <= best_round:
            continue
        try:
            with open(p) as f:
                data = json.load(f)
            # The driver wraps the parsed compact line under "parsed"
            # ({"n": .., "rc": .., "tail": .., "parsed": {...}}).
            parsed = data.get("parsed") or data
            qnames = set(parsed.get("queries", {}))
        except (OSError, json.JSONDecodeError, AttributeError):
            continue
        if qnames:
            best_round, names = int(m.group(1)), qnames
    return names


def infer_sf(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _phase(label: str, t0: float) -> float:
    """Stderr phase timer (stdout stays the one driver-parsed JSON line)."""
    now = time.perf_counter()
    print(f"[bench] {label}: {now - t0:.1f}s", file=sys.stderr)
    return now


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
            q.fn(spark, "/root/testdata/sf0.001").count()
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

    t_phase = _phase("headline_queries", t_phase)

    # Storage benchmark on the reference's own corpus (comparable to
    # BASELINE.md ndv=0.1 / 8192 rows).  The HEADLINE arm writes at
    # REF_ZSTD_LEVEL (parquet-rs ZstdLevel::default() = 1, the reference
    # writer's effective level) so the cross-framework ratio measures
    # format representation, not a compression-knob asymmetry; the
    # engine's tuned level-9 arm is reported separately as storage_zstd9.
    # A third, STRICT like-for-like arm (ADVICE r10): reference level AND
    # ~the reference writer's default 1 MiB data-page limit, so neither
    # codec level nor page size favors this engine -- the ratio a skeptic
    # should quote.  The 4 MiB-page arms stay the headline (the page size
    # is a legitimate writer tuning, now measured separately).
    storage: dict[str, dict] = {}
    storage_zstd9: dict[str, dict] = {}
    storage_default_pages: dict[str, dict] = {}
    try:
        from json_format_in_parquet_benchmark_spark.formats.base import (
            PAGE_SIZE as _TUNED_PAGE,
        )
        from json_format_in_parquet_benchmark_spark.formats.base import (
            ZSTD_LEVEL,
        )
        from json_format_in_parquet_benchmark_spark.metrics import measure_all_formats
        from json_format_in_parquet_benchmark_spark.sources.ndjson import (
            read_ndjson_raw,
        )

        raw = read_ndjson_raw(spark, STORAGE_CORPUS)
        for level, page, sink in (
            (REF_ZSTD_LEVEL, _TUNED_PAGE, storage),
            (ZSTD_LEVEL, _TUNED_PAGE, storage_zstd9),
            (REF_ZSTD_LEVEL, 1 << 20, storage_default_pages),
        ):
            out_dir = scratch_dir(REFERENCE_JSON_DIR, f"storage_l{level}_p{page}")
            for m in measure_all_formats(
                spark, raw, out_dir, zstd_level=level, page_size=page
            ):
                sink[m.format] = {
                    "num_of_lines": m.num_of_lines,
                    "parquet_file_size": m.parquet_file_size,
                    "compressed_rate": round(m.compressed_rate, 4),
                    "encode_s": round(m.encode_s, 3),
                    "flush_s": round(m.flush_s, 3),
                    "load_s": round(m.load_s, 3),
                    "decode_s": round(m.decode_s, 3),
                }
    except Exception as exc:  # storage bench must never sink the query bench
        storage = {"error": str(exc)[:200]}

    t_phase = _phase("storage_events", t_phase)

    # O24 breadth: the reference's per-corpus encode/decode/flush/load loop
    # (benches/encode.rs, benches/flush.rs) over the real-world corpora,
    # with the reference's own 3-format allowlist (consts.rs:3-4), at the
    # reference-matched writer level (cross-framework comparable).
    storage_by_corpus: dict[str, dict] = {}
    try:
        from json_format_in_parquet_benchmark_spark.metrics import measure_format
        from json_format_in_parquet_benchmark_spark.sources.ndjson import (
            read_ndjson_raw,
        )

        for corpus in CORPUS_LOOP:
            raw = read_ndjson_raw(spark, os.path.join(REFERENCE_JSON_DIR, corpus))
            cdir = scratch_dir(REFERENCE_JSON_DIR, f"corpus_{corpus.split('.')[0]}")
            per_fmt: dict[str, dict] = {}
            for fmt in CORPUS_FORMATS:
                m = measure_format(spark, raw, fmt, cdir, zstd_level=REF_ZSTD_LEVEL)
                per_fmt[fmt] = {
                    "num_of_lines": m.num_of_lines,
                    "parquet_file_size": m.parquet_file_size,
                    "compressed_rate": round(m.compressed_rate, 4),
                    "encode_s": round(m.encode_s, 3),
                    "flush_s": round(m.flush_s, 3),
                    "load_s": round(m.load_s, 3),
                    "decode_s": round(m.decode_s, 3),
                }
            storage_by_corpus[corpus.split(".")[0]] = per_fmt
    except Exception as exc:
        storage_by_corpus = {"error": str(exc)[:200]}

    t_phase = _phase("storage_by_corpus", t_phase)

    # Three-way path-query timing (the reference's query bench, E3 in
    # SURVEY.md §3): per-row re-parse (get_json_object, the serde arm) vs
    # pre-parsed variant access (the jsonb/jsonc arm) vs shredded column
    # access -- same comparison, measured over the events table at SF.
    path_query: dict[str, float] = {}
    try:
        from pyspark.sql import functions as F

        from json_format_in_parquet_benchmark_spark.tables import load_table

        events = load_table(spark, SF_DIR, "events")
        variant = events.select(F.parse_json("props").alias("v")).persist()
        shredded = events.select(
            F.from_json("props", "k BIGINT").alias("s")
        ).persist()
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
        for arm, run in arms.items():
            path_query[arm] = _best_of(run, 2)
        variant.unpersist(), shredded.unpersist()
    except Exception as exc:
        path_query = {"error": str(exc)[:200]}

    t_phase = _phase("path_query_events", t_phase)

    # The reference's published query bench runs the same three arms on the
    # STANDARD documents (canada / citm_catalog / twitter -- the worst-case
    # deep/nested docs, benches/query.rs:46-67).  criterion amortizes one
    # get over thousands of iterations; the Spark analogue replicates the
    # document into a column of N copies and times path access over it, so
    # per-get cost dominates scheduling overhead the same way.
    path_query_golden: dict[str, dict[str, float]] = {}
    try:
        from pyspark.sql import functions as F

        from json_format_in_parquet_benchmark_spark.plans.queries_json import (
            GOLDEN_PROBES,
        )

        # Enough replicated bytes that per-get cost dominates scheduling,
        # few enough that canada.json (a 2.2 MB single doc) stays cheap:
        # ~32 MB of JSON per probe, clamped to [32, 2048] copies.
        TARGET_BYTES = 32 << 20
        for name, fname, spath, _dpath, _expected in GOLDEN_PROBES:
            fpath = os.path.join(REFERENCE_JSON_DIR, fname)
            doc_bytes = max(1, os.path.getsize(fpath))
            n_copies = max(32, min(2048, TARGET_BYTES // doc_bytes))
            doc = (
                spark.read.text(fpath)
                .distinct()
                .crossJoin(spark.range(n_copies))
                .select("value")
                .persist()
            )
            variant = doc.select(F.parse_json("value").alias("v")).persist()
            doc.count(), variant.count()
            arms = {
                "reparse": lambda d=doc, p=spath: d.select(
                    F.get_json_object("value", p).alias("x")
                ).agg(F.count("x")).collect(),
                "variant_preparsed": lambda v=variant, p=spath: v.select(
                    F.variant_get("v", p, "string").alias("x")
                ).agg(F.count("x")).collect(),
            }
            path_query_golden[name] = {
                arm: _best_of(run, 2) for arm, run in arms.items()
            }
            doc.unpersist(), variant.unpersist()
    except Exception as exc:
        path_query_golden = {"error": str(exc)[:200]}

    t_phase = _phase("path_query_golden", t_phase)

    release_caches()  # drop persisted dedup intermediates before exit

    # The driver keeps only the LAST ~2000 chars of stdout and json-parses
    # the JSON line found there (round 2's full line outgrew the window and
    # the driver recorded parsed=null).  So: full detail goes to a file in
    # the repo, and stdout gets one COMPACT line that must stay well under
    # the window -- queries + headline storage rates + the 3-way path bench.
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
        "storage": storage,
        "storage_zstd9": storage_zstd9,
        "storage_default_pages": storage_default_pages,
        "storage_page_size": PAGE_SIZE,
        "storage_by_corpus": storage_by_corpus,
        "path_query": path_query,
        "path_query_golden": path_query_golden,
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

    compact = {
        "metric": "headline_queries_total",
        "value": full["value"],
        "unit": "sec",
        "queries": timings,
        "cal": calibration_s,
        "sf": full["sf"],
        "storage": {
            k: v.get("compressed_rate", v) if isinstance(v, dict) else v
            for k, v in storage.items()
        },
        # rates above are written at the reference writer's effective zstd
        # level (parquet-rs default); the tuned arm is in the full file
        "storage_zstd_level": REF_ZSTD_LEVEL,
        "path_query": path_query,
        "full": "results/bench_full.json",
    }
    # Belt-and-braces: if the compact line ever creeps toward the driver's
    # ~2000-char stdout window, shed detail rather than losing the parse.
    # Shed order: the full-results pointer first, then per-query timings
    # (their detail stays in results/bench_full.json) -- storage and
    # path_query are the sections BASELINE.md compares against, so they are
    # never dropped.  Which timings to shed ROTATES round over round:
    # queries that made the PREVIOUS round's compact line (read back from
    # the driver-written BENCH_r*.json) are dropped first, so with ~38 of
    # 61 headliners fitting, every headliner reaches a compact line at
    # least once every two rounds instead of a fixed 23 never appearing
    # (round-7 verdict item 5).  Within a tier, fastest first.
    if len(json.dumps(compact)) > 1600:
        compact.pop("full", None)
    reported_last = _latest_compact_reported(
        os.path.dirname(os.path.abspath(__file__))
    )
    omitted = 0
    while len(json.dumps(compact)) > 1600 and len(compact["queries"]) > 1:
        qd = compact["queries"]
        cands = [q for q in qd if q in reported_last] or list(qd)
        qd.pop(min(cands, key=qd.get))
        omitted += 1
        compact["queries_omitted"] = omitted

    spark.stop()
    # Printed LAST, after Spark shutdown, so nothing can land on stdout
    # after this line.
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
