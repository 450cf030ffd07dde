#!/usr/bin/env python3
"""Run the gate benchmark on one or more workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark from source on first use (sbt, offline,
cached in .bench_build/ by a hash of the sources), then starts one JVM per
workload. Each JVM writes .bench_out/<workload>-seed<n>-trace<t>/result.json
(run stamp, every metric, per-gate medians, failures) and, when tracing,
spans.jsonl and selftime.json beside it. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}.

--workload takes a comma-separated list; with more than one workload the
metric names in the last line are prefixed with "<workload>.".
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
TMP = os.path.join(ROOT, ".bench_tmp")
OUT = os.path.join(ROOT, ".bench_out")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 170
# A fixed, pre-touched heap keeps the resident set from following the
# collector's heap sizing, so peak_rss_mb moves with native memory
# (metaspace, code cache, direct buffers, threads), not with GC timing.
JVM_HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
# The gated CPU metrics leave out the JIT compiler threads; with a fixed
# set of them, every thread's CPU time is counted from start to end.
JVM_JIT = ["-XX:-UseDynamicNumberOfCompilerThreads"]
LEAK_PREFIXES = ("graft-p", "spark-", "blockmgr-")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash() -> str:
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build() -> str:
    """Compile the program and the benchmark; return the runtime classpath.

    The compiled classes are copied into a jar named by the source hash, so
    a later compile in perfbench/target cannot change a classpath in use."""
    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "SparkEntry.scala")):
        fail(f"program sources not found under {PROGRAM_SRC}")
    stamp = source_hash()
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.isfile(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    lines = open(log).read().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {r.returncode}); log in {log}")
    classes, *deps = lines[-1].strip().split(os.pathsep)
    target = os.path.dirname(classes)
    jars = [j for j in os.listdir(target) if j.endswith(".jar")]
    if len(jars) != 1:
        fail(f"expected one packaged jar in {target}, found {jars}")
    jar = os.path.join(BUILD, f"perfbench-{stamp}.jar")
    shutil.copyfile(os.path.join(target, jars[0]), jar)
    cp = os.pathsep.join([jar] + deps)
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    return cp


def commit_id() -> str:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return f"src-{source_hash()}"


def leftovers() -> set:
    return {e for e in os.listdir(TMP) if e.startswith(LEAK_PREFIXES)}


def run_one(cp: str, workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = os.path.join(OUT, f"{workload}-seed{seed}-trace{trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    os.makedirs(TMP, exist_ok=True)
    before = leftovers()
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + JVM_HEAP + JVM_JIT + [f"-Djava.io.tmpdir={TMP}", "-cp", cp, "perfbench.Bench",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--data", os.path.join(HERE, "data"),
              "--out", out, "--expected", os.path.join(HERE, "expected.tsv"),
              "--commit", commit_id()])
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            status = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{workload}: JVM did not finish within {JVM_TIMEOUT_S}s; log in {log}")
    leaked = sorted(leftovers() - before)
    for e in leaked:  # counted above; removed so later runs start clean
        path = os.path.join(TMP, e)
        shutil.rmtree(path, ignore_errors=True) if os.path.isdir(path) else os.remove(path)
    res_file = os.path.join(out, "result.json")
    if not os.path.isfile(res_file):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"{workload}: no result (JVM exit {status}); log in {log}")
    res = json.load(open(res_file))
    res["stamp"]["exit_status"] = status
    res["leaked_tmp_dirs"] = leaked
    if trace:
        res["metrics"]["jvm.leaked_tmp_dirs"] = {"value": len(leaked), "unit": "count"}
    if status != 0:
        res["correct"] = False
        res["failures"].append(f"JVM exit status {status}")
    with open(res_file, "w") as f:
        json.dump(res, f)
    for line in open(log):
        if line.startswith("[perfbench]"):
            print(line.rstrip())
    print(f"[perfbench] failed_frac {res['failed_frac']:.4f} "
          f"({res['failed']}/{res['attempted']}); exit {status}; "
          f"leaked tmp dirs {len(leaked)}; result {os.path.relpath(res_file, ROOT)}")
    return res


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    names = a.workload.split(",")
    known = ("relational", "plan_bound")
    for n in names:
        if n not in known:
            fail(f"unknown workload {n}; known: {', '.join(known)}")
    if not os.path.isdir(os.path.join(HERE, "data")):
        fail("benchmark data missing")
    cp = build()
    results = [(n, run_one(cp, n, a.seed, a.seconds, a.trace)) for n in names]
    metrics = {}
    for n, r in results:
        for k, v in r["metrics"].items():
            metrics[k if len(results) == 1 else f"{n}.{k}"] = v
    print(json.dumps({
        "correct": all(r["correct"] for _, r in results),
        "attempted": sum(r["attempted"] for _, r in results),
        "failed": sum(r["failed"] for _, r in results),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
