#!/usr/bin/env python3
"""Steadiness check and baseline for the graft benchmark.

  python3 perfbench/steady.py run --workload W [--workload W2 ...] \
      --seeds 1-10 --out SET.json
      Runs the benchmark once per seed (untraced), seed by seed across the
      workloads, and stores every printed end-to-end value per workload in
      SET.json (extending it if present).
  python3 perfbench/steady.py spread SET.json
      Per workload and metric: median, quartiles and the spread (Q3 - Q1
      as a share of the median), flagged against the bound of each metric
      BENCHMARK.json gates.
  python3 perfbench/steady.py compare A.json B.json
      Compares two sets gated metric by gated metric. A metric whose spread exceeds
      its bound in either set is UNRESOLVED, never "unchanged"; otherwise
      it is unchanged when B's median is within the bound of A's, else
      better or worse.
  python3 perfbench/steady.py baseline SET.json
      Prints the medians and quartiles of SET.json as baseline JSON.

Quartiles are Python's statistics.quantiles(values, n=4). The bounds come
from BENCHMARK.json at the repository root.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# run.py prints each end-to-end metric as "[perfbench] <workload> <name> = <value> <unit>"
PRINTED = re.compile(r"^\[perfbench\] (\S+) (\S+) = (\S+) (\S+)$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    # an all-zero metric (fail_frac on correct runs) has no spread
    return {"median": med, "q1": q1, "q3": q3, "n": len(values),
            "spread": (q3 - q1) / med if med else 0.0}


def run(args):
    b = spec()
    saved = load(args.out) if os.path.exists(args.out) else {}
    data, units = saved.get("values", {}), saved.get("units", {})
    # seed-major order, so ambient drift over the series hits every workload
    for seed in seeds(args.seeds):
        for w in args.workload:
            t0 = time.monotonic()
            r = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(b["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=900)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                sys.stderr.write(r.stderr[-2000:])
                sys.exit(f"{w} seed {seed}: run failed")
            res = json.loads(lines[-1])
            if not res["correct"]:
                sys.exit(f"{w} seed {seed}: incorrect result {res}")
            # every printed end-to-end metric, gated or not
            for line in lines[:-1]:
                m = PRINTED.match(line)
                if m and m.group(1) == w:
                    data.setdefault(w, {}).setdefault(m.group(2), []).append(
                        float(m.group(3)))
                    units[m.group(2)] = m.group(4)
            print(f"{w} seed {seed} ({time.monotonic() - t0:.0f} s): " + ", ".join(
                f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
            with open(args.out, "w") as fh:
                json.dump({"values": data, "units": units}, fh, indent=1)


def load(path):
    with open(path) as fh:
        return json.load(fh)


def spread(args):
    """Gated metrics are checked against their bound; the rest are shown."""
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    worst = 0
    for w, metrics in load(args.set)["values"].items():
        for name, values in metrics.items():
            s = stats(values)
            bound = bounds.get(name)
            if bound is None:
                flag, bound = "not gated", "-"
            elif s["spread"] <= bound / 3:
                flag = "ok"
            else:
                flag = "WITHIN BOUND" if s["spread"] <= bound else "OVER BOUND"
                if s["spread"] > bound:
                    worst = 1
            print(f"{w:10s} {name:18s} median={s['median']:.4g} spread={s['spread']:.3f} "
                  f"bound={bound} (n={s['n']}) {flag}")
    return worst


def compare(args):
    e2e = {m["name"]: m for m in spec()["end_to_end"]}
    a, b = load(args.a)["values"], load(args.b)["values"]
    unresolved = 0
    for w in sorted(set(a) & set(b)):
        for name in sorted(set(a[w]) & set(b[w]) & set(e2e)):
            m = e2e[name]
            sa, sb = stats(a[w][name]), stats(b[w][name])
            ratio = sb["median"] / sa["median"] if sa["median"] else float("inf")
            spread_ok = max(sa["spread"], sb["spread"]) <= m["bound"]
            if not spread_ok:
                verdict = "UNRESOLVED (spread over bound)"
                unresolved += 1
            elif abs(ratio - 1) <= m["bound"]:
                verdict = "unchanged"
            else:
                lower = ratio < 1
                verdict = "better" if lower == (m["better"] == "lower") else "WORSE"
            print(f"{w:10s} {name:10s} A={sa['median']:.4g} B={sb['median']:.4g} "
                  f"B/A={ratio:.3f} spreads={sa['spread']:.3f}/{sb['spread']:.3f} "
                  f"bound={m['bound']}: {verdict}")
    return 1 if unresolved else 0


def baseline(args):
    saved = load(args.set)
    gated = {m["name"] for m in spec()["end_to_end"]}
    out = {w: {name: dict(stats(v), unit=saved["units"][name], gated=name in gated)
               for name, v in sorted(metrics.items())}
           for w, metrics in saved["values"].items()}
    print(json.dumps(out, indent=1, sort_keys=True))


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", action="append", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--out", required=True)
    s = sub.add_parser("spread")
    s.add_argument("set")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    bl = sub.add_parser("baseline")
    bl.add_argument("set")
    args = ap.parse_args()
    sys.exit({"run": run, "spread": spread, "compare": compare,
              "baseline": baseline}[args.cmd](args) or 0)


if __name__ == "__main__":
    main()
