"""Benchmark entry point.

    python3 perfbench/run.py --workload events_jvm --seed 1 --seconds 5 --trace 0

Run from the repository root.  One driver process runs the engine on
``local[4]``; one client issues the operations of a workload in a closed
loop (the next one starts only after the previous one returned), in rounds
grouped into cycles (``workloads.CYCLE``), until ``--seconds`` have passed
and at least the workload's number of whole cycles ran.  Every operation's
output is checked; a failed or wrong operation counts in ``failed``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics with
``--trace 0``, the per-layer ones with ``--trace 1``.  A summary with the
sample counts goes to standard error.

With ``--trace 1`` every operation is traced, and those of the first round
of each cycle also run untraced: per-layer metrics come from the traced
runs, and ``trace.overhead.<metric>`` is each end-to-end timing of the
operations run both ways, traced minus untraced.
Spans, per-layer self times and all operation samples are written to
``.perfbench_out/``; everything else the run writes lives under
``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from collections import defaultdict

import layers

CPUS = 4


def end_to_end(samples: list[dict]) -> dict[str, float]:
    """End-to-end timings of one set of operation samples (whole cycles, so
    every operation key weighs the same).  Throughputs and the headliner
    pass are totals over the samples, which averages out the short speed
    swings of a shared machine better than a median of few samples."""

    def total(kind, field):
        return sum(s[field] for s in samples if s["kind"] == kind)

    head = [s for s in samples if s["kind"] == "headliner"]
    passes = len(head) / len({s["key"] for s in head})
    return {
        "ingest_mb_s": total("ingest", "nbytes") / 1e6 / total("ingest", "s"),
        "decode_mb_s": total("decode", "nbytes") / 1e6 / total("decode", "s"),
        "path_query_p50_s": statistics.median(
            s["s"] for s in samples if s["kind"] == "path"),
        "headliner_total_s": total("headliner", "s") / passes,
    }


def stored_bytes_ratio(samples: list[dict]) -> float:
    last = {s["key"]: s for s in samples if s["kind"] == "ingest"}
    return (sum(s["stored_bytes"] for s in last.values())
            / sum(s["nbytes"] for s in last.values()))


def run_op(op, tracer, counters, op_id: str) -> dict:
    """Run one operation (timed), then check its output (untimed).  With
    ``counters`` the operation is traced: spans on, Spark counters read."""
    tracer.enabled = counters is not None
    tracer.op_id = op_id
    op.prepare()
    if counters:
        counters.begin(op_id)
    t0 = time.perf_counter()
    with tracer.span(f"op.{op.kind}"):
        df, rows = op.run()
    sample = {"op": op_id, "kind": op.kind, "key": op.key, "fmt": op.fmt,
              "module": op.module, "nbytes": op.nbytes,
              "s": time.perf_counter() - t0, "traced": counters is not None}
    if counters:
        sample["counters"] = counters.end(op_id, df)
    tracer.enabled = False
    op.check(df, rows)
    sample.update(op.last)
    return sample


def measure(args, spec: dict, work: str, out_dir: str) -> dict:
    import spans
    import workloads

    tracer = spans.Tracer(enabled=bool(args.trace))  # set-up spans
    bench = workloads.Bench(args.workload, args.seed, work, tracer)
    attempted = failed = 0
    samples: list[dict] = []
    with spans.RssSampler() as rss:
        try:
            # One cold set-up, as a one-shot caller pays it (JVM start and
            # warm-up included); a repeat would reuse the running JVM.
            t0 = time.perf_counter()
            phases = bench.setup()
            setup_s = time.perf_counter() - t0
            bench.compute_truth()
            counters = spans.SparkCounters(bench.spark) if args.trace else None
            t_start = time.perf_counter()
            r = 0
            while r < workloads.CYCLE * bench.spec.cycles or r % workloads.CYCLE or (
                    time.perf_counter() - t_start < args.seconds):
                for seq, op in enumerate(bench.round_ops(r, traced=bool(args.trace))):
                    # Traced mode traces every operation; those of the first
                    # round also run untraced, in an order that alternates so
                    # that neither side is always the first run.
                    modes = [None]
                    if counters and (op.kind == "scan" or r % workloads.CYCLE):
                        modes = [counters]
                    elif counters:
                        modes = [None, counters] if seq % 2 == 0 else [counters, None]
                    for mode in modes:
                        attempted += 1
                        op_id = f"r{r}.{seq}.{op.kind}.{op.key}.{'t' if mode else 'u'}"
                        try:
                            samples.append(run_op(op, tracer, mode, op_id))
                        except Exception:
                            failed += 1
                            print(f"FAILED {op_id}:\n{traceback.format_exc()}", file=sys.stderr)
                r += 1
            measured_s = time.perf_counter() - t_start
        finally:
            bench.teardown()

    stem = f"{args.workload}-{args.seed}-t{args.trace}"
    with open(os.path.join(out_dir, f"samples-{stem}.json"), "w") as f:
        json.dump({"setup_s": setup_s, "setup_phases": phases, "samples": samples}, f)
    if args.trace:
        tracer.write(os.path.join(out_dir, f"spans-{stem}.jsonl"))
        with open(os.path.join(out_dir, f"self-{stem}.json"), "w") as f:
            json.dump(tracer.self_times(), f, indent=1, sort_keys=True)
        metrics = layers.per_layer(samples, phases, end_to_end)
    else:
        metrics = end_to_end(samples)
        metrics["stored_bytes_ratio"] = stored_bytes_ratio(samples)
        metrics["setup_s"] = setup_s
        metrics["peak_rss_mb"] = rss.peak_bytes / 2**20
    counts = defaultdict(int)
    for s in samples:
        counts[s["kind"]] += 1
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} rounds={r} "
          f"measured_s={measured_s:.1f} samples={dict(counts)} setup_s={setup_s:.2f} "
          f"setup_phases={ {k: round(v, 2) for k, v in phases.items()} }",
          file=sys.stderr)
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if set(metrics) != set(declared):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(declared))}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in declared.items()},
    }


def main(argv=None) -> int:
    import workloads

    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", required=True, choices=sorted(workloads.SPECS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "json_format_in_parquet_benchmark_spark")):
        print("engine package not found: run from the repository root", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(out_dir, exist_ok=True)
    # Everything the engine, Spark and the JVM write goes under the work dir.
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        # also reaches the short-lived JVM that spark-submit launches first
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            x for x in (root, os.environ.get("PYTHONPATH")) if x),
    })
    tempfile.tempdir = None
    sys.path.insert(1, root)
    try:
        result = measure(args, spec, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
