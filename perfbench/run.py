#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the harness, makes the inputs
from the seed, runs one workload for a fixed time, checks its outputs and
prints the metrics.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 12 --trace 0

Run from the root of the repository. The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json, with
``--trace 1`` the per-layer ones. Everything the run writes stays under
``perfbench/.work``.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import checks  # noqa: E402

# the seed-42 sf0.1 tables that graft.Bench reads
TABLES = os.path.join(HERE, "data", "sf0.1")
CPUS = 4
JVM_HEAP = "3g"
CHILD_TIMEOUT_S = 160
# kind, the op_tail_s percentile, and the fewest ops a run
# holds. Registry runs hold whole passes over the query list, enough for 10
# samples beyond the tail percentile; an etl_daily run holds 10 days, too few
# for that, so its tail is the slowest day of the run.
WORKLOADS = {
    "etl_daily": {"kind": "etl", "tail_pct": 100, "min_ops": 10},
    "registry_sf0.1": {"kind": "registry", "tail_pct": 75, "min_ops": 40},
}
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(root, rels):
    """Hash of every regular file under the given repo-relative paths."""
    h = hashlib.sha256()
    for rel in rels:
        top = os.path.join(root, rel)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, work):
    """Compile the engine and the harness with sbt, once per source state;
    returns the runtime classpath."""
    srcs = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    key = tree_hash(root, srcs)
    cp_file = os.path.join(work, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["key"] == key:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building the engine and the harness with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspathAsJars"],
        cwd=os.path.join(root, "perfbench"), env=env, capture_output=True, text=True,
        timeout=840)
    with open(os.path.join(work, "build.log"), "w") as f:
        f.write(p.stdout + p.stderr)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"build failed (see {os.path.join(work, 'build.log')})")
    with open(cp_file, "w") as f:
        json.dump({"key": key, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def java_cmd(classpath, work, main, args):
    """The JVM command line. A fixed-size heap with fixed generation sizes
    keeps peak RSS steady; Derby does not sync its log to disk, so shared-disk
    latency stays out of the load times."""
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    flags = [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
             "-XX:-UseAdaptiveSizePolicy"]
    return (["java", *opens, *flags, f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", f"-Dderby.system.home={work}/derby",
             "-Dderby.system.durability=test",
             "-cp", classpath, main] + args)


def run_java(cmd, log_path, timeout):
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"timed out after {timeout}s (see {log_path})")


def ensure_etl_days(work, seed):
    """The etl_daily feed of ``seed``, made from the sf0.1 events."""
    out = os.path.join(work, "data", f"etl-{seed}")
    done = os.path.join(out, "_DONE.json")
    if not os.path.exists(done):
        # keep one feed on disk: drop those of other seeds
        for old in os.listdir(os.path.join(work, "data")):
            if old.startswith("etl-"):
                shutil.rmtree(os.path.join(work, "data", old))
        summary = gen.make_etl_days(os.path.join(TABLES, "events.parquet"), out, seed)
        with open(done, "w") as f:
            json.dump(summary, f)
    return out


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--probe", type=int, choices=(0, 1), default=0,
                    help="also time the engine's host calibration probe after the window")
    ap.add_argument("--record-counts", action="store_true",
                    help="write the registry row counts of this commit as the expected ones")
    a = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        raise SystemExit("run from the repository root: the engine sources are missing")
    work = os.path.join(root, "perfbench", ".work")
    for d in ("tmp", "derby", "data"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    wl = WORKLOADS[a.workload]

    classpath = build(root, work)
    run_dir = os.path.join(work, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "record.json")
    hargs = ["--work", run_dir, "--out", out, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace), "--cpus", str(CPUS),
             "--probe", str(a.probe), "--min-ops", str(wl["min_ops"])]
    expected = None
    if wl["kind"] == "etl":
        days = ensure_etl_days(work, a.seed)
        hargs += ["--workload", "etl", "--data", days]
    else:
        hargs += ["--workload", "registry", "--data", TABLES,
                  "--queries", os.path.join(HERE, "queries", f"{a.workload}.txt")]
        exp_file = os.path.join(HERE, "expected", f"{a.workload}.json")
        if not a.record_counts:
            with open(exp_file) as f:
                expected = json.load(f)
    log(f"running {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    rc = run_java(java_cmd(classpath, work, "perfbench.Harness", hargs),
                  os.path.join(run_dir, "harness.log"), CHILD_TIMEOUT_S)
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"harness failed with code {rc} (see {run_dir}/harness.log)")
    with open(out) as f:
        rec = json.load(f)

    if wl["kind"] == "etl":
        failures = checks.check_etl(rec, days)
        offered = checks.window_records(days)
    else:
        if a.record_counts:
            counts = {o["name"]: o["rows"] for o in rec["ops"] if o["ok"]}
            with open(exp_file, "w") as f:
                json.dump(dict(sorted(counts.items())), f, indent=1)
            log(f"recorded {len(counts)} row counts in {exp_file}")
            expected = counts
        failures = checks.check_registry(rec, expected)
        offered = None
    result = metrics.summarize(rec, failures, wl["tail_pct"], a.trace == 1, offered)
    for line in metrics.describe(result):
        print(line)
    print(json.dumps(result["line"]))


if __name__ == "__main__":
    main()
