#!/usr/bin/env python3
"""graft benchmark: one seeded workload, one timed closed loop, checked.

Usage (from the repository root):
  python3 perfbench/run.py --workload ingest|mor_read|analytics \
      --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --selftest

Builds the engine and the benchmark with sbt on first use (the build is
cached under .bench_build/, keyed by a hash of the sources), runs the
workload in one JVM, checks every result, and prints as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics; the full set, the per-workload metrics
and the traced run's ledger stay in the run directory. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170.0
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles engine + benchmark once per source hash; returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the engine sources (build.sbt, src/main/scala/graft) are not here")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, f"classpath-{source_hash()}.txt")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT, timeout=850)
    lines = open(log).read().splitlines()
    cp = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {log})")
    for old in os.listdir(BUILD):
        if old.startswith("classpath-"):
            os.remove(os.path.join(BUILD, old))
    with open(stamp, "w") as fh:
        fh.write(cp[-1].strip())
    return cp[-1].strip()


def generate(run_dir, seed):
    """Generates the analytics tables; returns (dir, seconds)."""
    d = os.path.join(run_dir, "data")
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), d, str(seed)],
                   check=True, timeout=120)
    return d, time.perf_counter() - t0


def oracle_check(data_dir, results_dir, row_counts):
    """Checks the analytics run against the DuckDB oracle SQL: every timed
    row count, and the written results value by value the way
    scripts/check.py compares them. Returns (mismatches, checks)."""
    import duckdb
    import pandas as pd
    from oracle import compare
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad = checks = 0
    for name, counts in sorted(row_counts.items()):
        if name not in oracle:
            continue
        want = con.sql(oracle[name]).df()
        for n in counts:
            checks += 1
            if n != len(want):
                print(f"[perfbench] oracle FAIL {name}: {n} rows, DuckDB {len(want)}",
                      file=sys.stderr)
                bad += 1
        qdir = os.path.join(results_dir, name)
        if os.path.isdir(qdir):
            files = sorted(f for f in os.listdir(qdir) if f.endswith(".parquet"))
            got = pd.concat([pd.read_parquet(os.path.join(qdir, f)) for f in files])
            why = compare(got, want)
            checks += 1
            if why:
                print(f"[perfbench] oracle FAIL {name}: {why}", file=sys.stderr)
                bad += 1
    return bad, checks


def java_cmd(cp, run_dir, args):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp] + opens +
            ["-cp", cp, "perfbench.Main"] + args)


def run_jvm(cp, run_dir, args, budget):
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(java_cmd(cp, run_dir, args), cwd=run_dir, stdout=fh,
                               stderr=subprocess.STDOUT, timeout=budget)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {budget:.0f} s (log: {log})")
    if r.returncode != 0:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"run failed with code {r.returncode} (log: {log})")


def declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)[kind]


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["ingest", "mor_read", "analytics"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    cp = build()
    # the build may take long on a fresh checkout; the run gets its own budget
    t_run = time.monotonic()
    name = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(BUILD, "runs", name)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if a.selftest:
        run_jvm(cp, run_dir, ["--selftest", "--out", run_dir], DEADLINE_S)
        print(open(os.path.join(run_dir, "jvm.log")).read().splitlines()[-1])
        shutil.rmtree(run_dir, ignore_errors=True)
        return
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", run_dir]
    data_dir = None
    if a.workload == "analytics":
        data_dir, gen_s = generate(run_dir, a.seed)
        args += ["--data", data_dir]
    t_jvm = time.monotonic()
    run_jvm(cp, run_dir, args, DEADLINE_S - (time.monotonic() - t_run))
    print(f"[perfbench] jvm {time.monotonic() - t_jvm:.1f} s, "
          f"total so far {time.monotonic() - t_start:.1f} s", file=sys.stderr)
    with open(os.path.join(run_dir, "result.json")) as fh:
        res = json.load(fh)
    failed = res["failed"]
    if data_dir:
        sys.path.insert(0, HERE)
        bad, n = oracle_check(data_dir, os.path.join(run_dir, "results"), res["row_counts"])
        print(f"[perfbench] analytics oracle: {n - bad}/{n} checks match DuckDB")
        failed += bad
        res["metrics"]["fail_frac"]["value"] = failed / res["attempted"]
        # data generation is the benchmark's, not graft's: printed, not gated
        res["metrics"]["gen_s"] = {"value": gen_s, "unit": "s"}
    for k, m in res["metrics"].items():
        print(f"[perfbench] {a.workload} {k} = {m['value']:.6g} {m['unit']}")
    source = res["metrics"] if a.trace == 0 else res["layers"]
    metrics = {}
    for m in declared("end_to_end" if a.trace == 0 else "per_layer"):
        got = source.get(m["name"])
        metrics[m["name"]] = {"value": got["value"] if got else 0.0, "unit": m["unit"]}
    with open(os.path.join(run_dir, "summary.json"), "w") as fh:
        json.dump(res, fh, indent=1)
    # keep result, ledger and log; drop tables, data and scratch
    for f in os.listdir(run_dir):
        p = os.path.join(run_dir, f)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
