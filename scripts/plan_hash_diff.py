#!/usr/bin/env python
"""Mechanical round-over-round plan-regression detector.

Compares per-query plan fingerprints between two bench detail files
(``results/bench_full.json`` schema: top-level ``plan_hash`` dict and
``queries`` timing dict) and prints a markdown section suitable for
appending to ``results/bench_notes.md``.

A changed hash is a changed plan (``runtime.plan_fingerprint`` masks what
differs between two runs of the same code), not automatically a
regression: every changed hash must be LOOKED AT, and a changed hash plus
a slower time is the signature worth chasing.

Usage: python scripts/plan_hash_diff.py PREV.json CURR.json
"""

from __future__ import annotations

import json
import sys


def diff(prev_path: str, curr_path: str) -> str:
    prev = json.load(open(prev_path))
    curr = json.load(open(curr_path))
    ph_prev: dict = prev.get("plan_hash", {})
    ph_curr: dict = curr.get("plan_hash", {})
    t_prev: dict = prev.get("queries", {})
    t_curr: dict = curr.get("queries", {})

    added = sorted(set(ph_curr) - set(ph_prev))
    removed = sorted(set(ph_prev) - set(ph_curr))
    changed = sorted(
        q for q in set(ph_curr) & set(ph_prev) if ph_curr[q] != ph_prev[q]
    )
    same = sorted(
        q for q in set(ph_curr) & set(ph_prev) if ph_curr[q] == ph_prev[q]
    )

    out = [f"Plan-hash diff: {prev_path} -> {curr_path}", ""]
    out.append(
        f"- unchanged: {len(same)}, changed: {len(changed)}, "
        f"new: {len(added)}, dropped: {len(removed)}"
    )
    if changed:
        out.append("- changed (old time -> new time, s):")
        for q in changed:
            tp, tc = t_prev.get(q), t_curr.get(q)
            flag = ""
            if tp is not None and tc is not None and tc > 1.5 * tp and tc - tp > 0.3:
                flag = "  **slower -- inspect**"
            out.append(f"  - `{q}`: {tp} -> {tc}{flag}")
    if added:
        out.append("- new this round: " + ", ".join(f"`{q}`" for q in added))
    if removed:
        out.append("- dropped: " + ", ".join(f"`{q}`" for q in removed))
    return "\n".join(out) + "\n"


if __name__ == "__main__":
    prev, curr = sys.argv[1], sys.argv[2]
    print(diff(prev, curr))
