#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload export_serial --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt) and caches the build
under perfbench/.work, keyed by a hash of the sources. Each run makes its
input tables from --seed with DuckDB, runs the workload in one JVM for
--seconds of timed iterations, checks every iteration's output, and prints
a report; the last line of stdout is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. See perfbench/README.md.
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
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

WORKLOADS = {
    # workload: (input tables, scale factor)
    "export_serial": (["lineitem"], 0.1),
    "export_partitioned": (["events"], 0.1),
    "graph_supersteps": (["lineitem", "orders", "customer", "supplier"], 0.01),
}
JVM_TIMEOUT_S = 170
# The heap is not pre-touched, so peak_rss_mb follows the memory the workload
# touches. The young generation has a fixed size: left adaptive, its size
# moved peak_rss_mb by up to 30% from run to run on the same inputs.
JVM_OPTS = ["-Xmx2g", "-Xmn512m"] + [
    opt
    for pkg in [
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    ]
    for opt in ("--add-opens", f"{pkg}=ALL-UNNAMED")
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")):
        for d, subdirs, files in os.walk(base):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            for f in sorted(files):
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compiles the program and the harness once per source tree; returns
    (classpath, directory of the graph rows' oracle SQL)."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    build_dir = os.path.join(WORK, "build", h.hexdigest()[:16])
    cp_file = os.path.join(build_dir, "classpath")
    if not os.path.exists(cp_file):
        if os.path.isdir(os.path.join(WORK, "build")):
            shutil.rmtree(os.path.join(WORK, "build"))
        os.makedirs(build_dir)
        log("building with sbt (first run in this checkout)")
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        sbt_opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx3g"]
        if os.path.exists(repos):
            sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(sbt_opts)
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=840)
        cps = [l for l in out.stdout.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
        if out.returncode != 0 or not cps:
            sys.stderr.write(out.stdout[-4000:])
            raise SystemExit(f"sbt build failed (exit {out.returncode})")
        classpath = cps[-1].strip()
        java(classpath, ["--dump-oracles", os.path.join(build_dir, "oracles")], timeout=120)
        with open(cp_file, "w") as f:
            f.write(classpath)
    with open(cp_file) as f:
        return f.read(), os.path.join(build_dir, "oracles")


def java(classpath, args, timeout):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", classpath, "perfbench.Main"] + args
    # Spark's scratch space stays inside the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"JVM did not finish within {timeout} s")
    if code != 0:
        raise SystemExit(f"JVM exited with {code}")


def run_one(a, workload, classpath, oracles):
    """Runs one workload, prints its report and returns its result line."""
    started = time.time()
    run_dir = os.path.join(WORK, "runs", f"{workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    expect = os.path.join(run_dir, "expect")
    try:
        import inputs
        tables, scale = WORKLOADS[workload]
        scale = a.scale or scale
        inputs.generate(data, tables, scale, a.seed)
        if workload == "graph_supersteps":
            os.makedirs(expect)
            for sql in os.listdir(oracles):
                with open(os.path.join(oracles, sql)) as f:
                    inputs.oracle(data, f.read(), os.path.join(expect, sql[:-4] + ".tsv"))
        result_file = os.path.join(run_dir, "result.json")
        spans = os.path.join(WORK, "spans", f"{workload}-{a.seed}.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        java(classpath, [
            "--workload", workload, "--data", data, "--expect", expect,
            "--work", run_dir, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(len(os.sched_getaffinity(0))), "--plant", a.plant,
            "--result", result_file, "--spans", spans], timeout=JVM_TIMEOUT_S)
        with open(result_file) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    host = res["host"]
    record = dict(workload=workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                  scale=scale, plant=a.plant, **res)
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")

    attempted, failed = res["attempted"], res["failed"]
    print(f"workload {workload}  seed {a.seed}  trace {a.trace}  "
          f"iterations {attempted}  failed {failed}  fail_ratio {failed / attempted:.4f}  "
          f"run {time.time() - started:.1f} s")
    print(f"host calib {host['calib_start_ms']:.1f} -> {host['calib_end_ms']:.1f} ms  "
          f"loadavg {host['loadavg_start']} -> {host['loadavg_end']}  "
          f"steal {100 * host['steal_share']:.1f}%  "
          f"host_suspect {str(host['host_suspect']).lower()}")
    for err in res["failures"]:
        print(f"FAILED {err}")
    for name, m in res["metrics"].items():
        print(f"  {name:<48} {m['value']:>16.6g} {m['unit']}")
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": res["metrics"]}


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float,
                   help="scale factor of every workload's tables, in place of the "
                        "workload's own (0.1 for the exports, 0.01 for the graph)")
    p.add_argument("--plant", default="none", choices=["none", "drop_row", "graph_value"],
                   help="plant a defect in the checked output (for the benchmark's tests)")
    a = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("no program sources at src/main/scala/graft: run from a checkout root")
    os.chdir(ROOT)
    classpath, oracles = build()
    if a.workload != "all":
        print(json.dumps(run_one(a, a.workload, classpath, oracles)))
        return
    # every workload in turn; the last line sums them, metrics keyed by workload
    results = {w: run_one(a, w, classpath, oracles) for w in WORKLOADS}
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }))


if __name__ == "__main__":
    main(sys.argv[1:])
