"""Per-layer metrics of the traced run and their units.

Times of one operation are medians over the traced cycles; Spark and
Python-boundary counters are means per operation; stored bytes and file
counts are exact totals over one cycle; set-up phases are those of the
run's one cold set-up.  A metric of a layer a workload does not exercise
reads 0.

Which end-to-end metric each layer should move, and on which workload:

| layer metrics                               | should move                  | on          |
|---------------------------------------------|------------------------------|-------------|
| session.start_s, generator.corpus_s         | setup_s                      | both        |
| sources.ndjson.scan_s, .scan_bytes          | ingest_mb_s                  | both        |
| formats.<fmt>.ingest_s, .stored_bytes,      | ingest_mb_s,                 | events_jvm  |
|   .files, .decode_s, .path_s,               |   stored_bytes_ratio,        | (4 JVM fmts)|
|   .path_scan_bytes                          |   decode_mb_s,               | events_tape |
|                                             |   path_query_p50_s           | (jsonc)     |
| python.sent_bytes, .received_bytes,         | every events_tape metric,    | events_tape;|
|   .total_ms, .boot_ms                       |   headliner_total_s          | predicted 0 |
|                                             |                              | on jvm      |
| spark.planning_ms, .jobs, .stages, .tasks,  | headliner_total_s,           | both        |
|   .scheduler_delay_ms                       |   path_query_p50_s           |             |
| spark.executor_run_ms, .executor_cpu_ms,    | headliner_total_s,           | both        |
|   .gc_ms, .shuffle_write_bytes,             |   ingest_mb_s                |             |
|   .shuffle_fetch_wait_ms, .output_bytes     |                              |             |
| plans.<module>.wall_s (15 modules)          | headliner_total_s            | jvm: 10,    |
|                                             |                              | tape: 5     |
| trace.overhead.<metric>                     | (how much worse when traced) | both        |
"""

from __future__ import annotations

import statistics

import workloads

FORMATS = tuple(f for spec in workloads.SPECS.values() for f in spec.formats)
# The 15 plans modules that hold a headliner (module name without the
# ``queries_`` prefix).
PLAN_MODULES = (
    "dedup", "embedding_stats", "graph", "json", "multimodal", "pipeline",
    "relational", "search", "similarity", "sinks", "sketches", "streaming",
    "text", "timeseries", "tpch",
)
COUNTERS = (
    "python.sent_bytes", "python.received_bytes", "python.total_ms", "python.boot_ms",
    "spark.planning_ms", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.scheduler_delay_ms", "spark.executor_run_ms", "spark.executor_cpu_ms",
    "spark.gc_ms", "spark.shuffle_write_bytes", "spark.shuffle_fetch_wait_ms",
    "spark.output_bytes",
)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.mean(xs) if xs else 0.0


def per_layer(samples: list[dict], setup: dict, end_to_end) -> dict[str, float]:
    traced = [s for s in samples if s["traced"]]
    ops = [s for s in traced if s["kind"] != "scan"]
    m: dict[str, float] = {
        "session.start_s": setup["session.start_s"],
        "generator.corpus_s": setup["generator.corpus_s"],
    }
    scans = [s for s in traced if s["kind"] == "scan"]
    m["sources.ndjson.scan_s"] = _median(s["s"] for s in scans)
    m["sources.ndjson.scan_bytes"] = _mean(s["counters"].get("scan_bytes", 0) for s in scans)
    for fmt in FORMATS:
        mine = [s for s in traced if s["fmt"] == fmt]
        for kind in ("ingest", "decode", "path"):
            m[f"formats.{fmt}.{kind}_s"] = _median(s["s"] for s in mine if s["kind"] == kind)
        last = {s["key"]: s for s in mine if s["kind"] == "ingest"}
        m[f"formats.{fmt}.stored_bytes"] = sum(s["stored_bytes"] for s in last.values())
        m[f"formats.{fmt}.files"] = sum(s["files"] for s in last.values())
        m[f"formats.{fmt}.path_scan_bytes"] = _mean(
            s["counters"].get("scan_bytes", 0) for s in mine if s["kind"] == "path")
    for name in COUNTERS:
        m[name] = _mean(s["counters"].get(name, 0) for s in ops)
    for mod in PLAN_MODULES:
        m[f"plans.{mod}.wall_s"] = _median(
            s["s"] for s in ops if s["kind"] == "headliner" and s["module"] == mod)
    # Tracing overhead over the operations that ran both ways; an op id
    # ends in ".t" (traced) or ".u" (untraced).
    off = [s for s in samples if not s["traced"]]
    both = {s["op"][:-2] for s in off}
    on = end_to_end([s for s in ops if s["op"][:-2] in both])
    off = end_to_end(off)
    for k in on:  # how much worse tracing makes each number
        worse = off[k] - on[k] if k.endswith("_mb_s") else on[k] - off[k]
        m[f"trace.overhead.{k}"] = worse
    return m
