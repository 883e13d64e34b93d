#!/usr/bin/env python3
"""Layer-attributed benchmark for the graft engine.

Usage (from the repository root):

    python3 layerbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source with sbt when the sources
changed since the last build (layerbench/target/bench/stamp), then runs
one workload in a fresh JVM with a fresh work directory and removes the
directory afterwards. The last line of stdout is the result object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones; a traced run also writes its spans to
layerbench/target/spans/<workload>-seed<n>.jsonl.

--record <file> writes the checksums of every checked query result to
<file> instead of comparing them with layerbench/expected.json, and
saves the results, with their oracle SQL, under
layerbench/target/record/<workload>/ for scripts/check_oracle.py.

artifact_cycle reads layerbench/lake/sf0.01: the documents and
embeddings tables of the engine's seed-42 sf0.01 test lake.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target", "bench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[layerbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every input of the build: sbt files and Scala sources."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src", "main", "scala")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt if the sources changed; return the classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    log("building engine + harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit(f"sbt build failed (exit {r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as c:
        return c.read()


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this kind of run."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--record")
    args = ap.parse_args()

    if not os.path.exists(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        raise SystemExit(f"engine sources not found under {ENGINE_SRC}")
    names = declared_metrics(args.trace == "1")
    classpath = build()

    os.makedirs(BUILD, exist_ok=True)
    work = tempfile.mkdtemp(prefix="work-", dir=BUILD)
    proc = None
    try:
        for sub in ("artifacts", "local", "tmp", "derby", "warehouse"):
            os.makedirs(os.path.join(work, sub))
        result = os.path.join(work, "result.json")
        spans = os.path.join(HERE, "target", "spans",
                             f"{args.workload}-seed{args.seed}.jsonl")
        cores = len(os.sched_getaffinity(0))
        env = dict(os.environ,
                   GRAFT_ARTIFACTS_DIR=os.path.join(work, "artifacts"),
                   SPARK_LOCAL_DIRS=os.path.join(work, "local"),
                   SPARK_GRAFT_CPUS=str(cores))
        cmd = ["java"]
        for m in ADD_OPENS:
            cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
        cmd += [
            "-Xmx3g",
            "-XX:-UsePerfData",  # no hsperfdata file outside the work dir
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby', 'derby.log')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "graft.layerbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--lake-root", os.path.join(HERE, "lake"), "--work", work,
            "--expected", os.path.join(HERE, "expected.json"),
            "--result", result,
        ]
        if args.trace == "1":
            cmd += ["--spans", spans]
        if args.record:
            cmd += ["--record", os.path.abspath(args.record),
                    "--record-dir", os.path.join(HERE, "target", "record", args.workload)]
        cmd += ["--t0-ns", str(time.time_ns())]
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=sys.stderr, stderr=sys.stderr)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
        if code != 0 or not os.path.exists(result):
            raise SystemExit(f"benchmark JVM failed (exit {code})")
        with open(result) as fh:
            out = json.load(fh)
        got = list(out["metrics"])
        if got != names:
            raise SystemExit(f"metrics {got} differ from BENCHMARK.json {names}")
        bad = [n for n, m in out["metrics"].items()
               if not isinstance(m["value"], (int, float))]
        if bad:
            raise SystemExit(f"no value measured for {bad}")
        print(json.dumps(out), flush=True)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
