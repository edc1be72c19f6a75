"""Compare two sets of benchmark runs, metric by metric.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds one file per run, named ``<workload>-<seed>.json``,
containing that run's last line of standard output.  For every workload and
end-to-end metric in BENCHMARK.json the report prints each side's median and
quartiles and a verdict:

- better:     the change wins at least 9/10 of the seed-matched pairs (ties
              count for neither) and the medians differ by more than the
              parent's own quartile spread;
- worse:      the change's median is worse than the parent's by more than
              the metric's bound;
- unresolved: the parent's quartile spread is wider than the bound (unless
              every change run beats every parent run, which is better);
- same:       none of the above.
"""

from __future__ import annotations

import json
import os
import statistics
import sys


def load(dirname: str) -> dict[str, dict[str, dict]]:
    """{workload: {seed: metrics}}"""
    out: dict[str, dict[str, dict]] = {}
    for name in sorted(os.listdir(dirname)):
        if not name.endswith(".json"):
            continue
        workload, seed = name[:-5].rsplit("-", 1)
        with open(os.path.join(dirname, name)) as f:
            result = json.loads(f.read().strip().splitlines()[-1])
        if result["failed"]:
            print(f"note: {dirname}/{name} had {result['failed']} failed ops", file=sys.stderr)
        out.setdefault(workload, {})[seed] = {
            k: v["value"] for k, v in result["metrics"].items()}
    return out


def verdict(a: list[float], b: list[float], pairs, higher: bool, bound: float) -> str:
    sign = 1 if higher else -1
    ma, mb = statistics.median(a), statistics.median(b)
    qa = statistics.quantiles(a, n=4) if len(a) > 1 else [ma, ma, ma]
    spread = qa[2] - qa[0]
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    if pairs and wins >= 0.9 * len(pairs) and sign * (mb - ma) > spread:
        return "better"
    if sign * (ma - mb) > bound * abs(ma):
        return "worse"
    if spread > bound * abs(ma):
        every_run_better = min(b) > max(a) if higher else max(b) < min(a)
        return "better" if every_run_better else "unresolved"
    return "same"


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    parent, change = load(argv[0]), load(argv[1])
    print(f"{'workload':<12} {'metric':<20} {'parent median [q1, q3]':<34} "
          f"{'change median [q1, q3]':<34} verdict")
    for workload in sorted(set(parent) & set(change)):
        pa, ch = parent[workload], change[workload]
        for m in spec["end_to_end"]:
            name = m["name"]
            a = [r[name] for r in pa.values()]
            b = [r[name] for r in ch.values()]
            pairs = [(pa[s][name], ch[s][name]) for s in sorted(set(pa) & set(ch))]
            cells = []
            for xs in (a, b):
                q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
                cells.append(f"{statistics.median(xs):.4g} [{q[0]:.4g}, {q[2]:.4g}] n={len(xs)}")
            v = verdict(a, b, pairs, m["better"] == "higher", m["bound"])
            print(f"{workload:<12} {name:<20} {cells[0]:<34} {cells[1]:<34} {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
