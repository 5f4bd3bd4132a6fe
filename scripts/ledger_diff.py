#!/usr/bin/env python3
"""Per-op-kind, per-layer work-count deltas between two perfbench ledgers.

Usage: python3 scripts/ledger_diff.py <before/ledger.json> <after/ledger.json> [--all]

A ledger is what `python3 perfbench/run.py --workload W --seed N --trace 1`
leaves in `.bench_build/runs/<W>-s<N>-t1/ledger.json`. For every op kind
(an `analytics` query, an `ingest` step) and every count-valued layer key
(`exec.jobs`, `exec.tasks`, `exec.stages`, `catalyst.rule_runs`,
`exec.rows_read`, `sources.commit.files_written`, ...), it prints the
median per op on each side and the difference, one line per pair that
moved (all pairs with --all). Times, bytes and ratios are left out:
counts are the near-deterministic evidence, times are not. The last line
sums the deltas of each key over the op kinds both ledgers ran.
"""
import json
import statistics
import sys

NOT_COUNTS = ("_s", "_bytes", "bytes_read", "bytes_written", "bytes_rewritten",
              "_ratio", "_per_row_out")


def per_kind(path):
    """{op kind: {count key: median per op}} over the ledger's ops."""
    ops = json.load(open(path))["ops"]
    kinds = {}
    for op in ops:
        kinds.setdefault(op["kind"], []).append(op["layers"])
    out = {}
    for kind, layers in kinds.items():
        keys = {k for m in layers for k in m if not k.endswith(NOT_COUNTS)}
        out[kind] = {k: statistics.median(m.get(k, 0.0) for m in layers) for k in keys}
    return out


def main():
    args = [a for a in sys.argv[1:] if a != "--all"]
    if len(args) != 2:
        sys.exit(__doc__)
    show_all = "--all" in sys.argv
    before, after = per_kind(args[0]), per_kind(args[1])
    totals = {}
    for kind in sorted(set(before) | set(after)):
        if kind not in before or kind not in after:
            print(f"{kind:<32} only in {'after' if kind in after else 'before'}")
            continue
        for key in sorted(set(before[kind]) | set(after[kind])):
            b, a = before[kind].get(key, 0.0), after[kind].get(key, 0.0)
            totals[key] = totals.get(key, 0.0) + (a - b)
            if a != b or show_all:
                print(f"{kind:<32} {key:<34} {b:>12g} -> {a:<12g} {a - b:+g}")
    moved = {k: v for k, v in sorted(totals.items()) if v != 0}
    print("total: " + (", ".join(f"{k} {v:+g}" for k, v in moved.items()) or "no count moved"))


if __name__ == "__main__":
    main()
