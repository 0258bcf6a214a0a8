#!/usr/bin/env python3
"""The repo benchmark: one run of one workload.

Usage (from the repo root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

A run builds the engine and the harness from source with sbt (once per
source state; the classpath is kept under .bench/), generates the
workload's inputs from the seed, runs the harness in one JVM
(local[4], pinned heap) and checks every answer. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones of
BENCHMARK.json, with --trace 1 the per-layer ones (0 for a layer the
workload does not touch). The exit code is nonzero on a wrong answer,
a failed query or a metric the harness should have reported but did
not.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
STATE = os.path.join(ROOT, ".bench")
# The heap is pinned small enough that knn_exact's top-k cut spills. On
# JDK 17 a G1 humongous allocation (the sorter's 128 MB pointer array)
# throws OutOfMemoryError once two retries were blocked by the GC locker
# (JNI critical sections): one knn_exact run in about 25 did so before
# the retry count was raised.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UnlockDiagnosticVMOptions",
            "-XX:GCLockerRetryAllocationCount=100",
            # keep the JVM's files inside the checkout
            "-XX:-UsePerfData"]
# the harness JVM is killed after --seconds plus this allowance for
# session set-up, the warm-up pass, the last cycle's overrun and the
# traced extras
JVM_ALLOWANCE_S = 145
KEEP_INPUTS = 40
KEEP_RUNS = 6

# inputs per workload: (table set, size, embedding mode); size is a
# vector count for embeddings and a multiple of sf0.1 for tables
INPUTS = {
    "knn_exact": ("embeddings", 4000, "isotropic"),
    "ann_lifecycle": ("embeddings", 1000, "clustered"),
    "analytics_mix": ("tables", 0.5, None),
}

# JDK 17 module opens that spark-submit would otherwise add
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for pattern in ("project/*.sbt", "project/*.scala", "project/*.properties",
                    "src/main/**/*.scala", "src/main/**/*.java",
                    "perfbench/project/*.properties",
                    "perfbench/src/**/*.scala"):
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    h = hashlib.sha256()
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(deadline):
    """Compile the engine and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        sys.exit("perfbench: the engine's sources (build.sbt, src/main) "
                 f"are not in {ROOT}; run from a full checkout")
    out = os.path.join(STATE, "build")
    os.makedirs(out, exist_ok=True)
    # one stamp: the compiled classes on disk are those of the last build
    digest, stamp = source_digest(), os.path.join(out, "classpath")
    if os.path.exists(stamp):
        with open(stamp) as f:
            built, cp = f.read().split("\n", 1)
        if built == digest:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.offline=true -Xmx2g")
    sbt_log = os.path.join(out, "sbt.log")
    log("building engine and harness with sbt (first run of this source)")
    t0 = time.time()
    with open(sbt_log, "w") as f:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export perfbench/Runtime/fullClasspath"],
                         HERE, f, deadline - time.time(), env)
    with open(sbt_log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = next((l for l in reversed(lines) if not l.startswith("[")
               and os.pathsep in l), "")
    if rc != 0 or not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        sys.exit(f"perfbench: sbt build failed (exit {rc}), see {sbt_log}")
    log(f"build took {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        f.write(f"{digest}\n{cp}")
    return cp


def run_bounded(cmd, cwd, out, seconds, env=None):
    """Run `cmd` in its own process group; kill the group if it outlives
    `seconds`. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         env=env, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, seconds))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def prune(pattern, keep):
    dirs = sorted(glob.glob(pattern), key=os.path.getmtime)
    for d in dirs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


def inputs(workload, seed):
    """Generate (or reuse) the input set of a workload and seed."""
    import gen
    tables, size, mode = INPUTS[workload]
    d = os.path.join(STATE, "inputs", f"{workload}-{seed}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        gen.generate(d, seed, tables, size, mode or "isotropic")
        open(os.path.join(d, "_DONE"), "w").close()
        log(f"generated {os.path.basename(d)} in {time.time() - t0:.2f} s "
            "(not in any metric)")
    os.utime(d)
    prune(os.path.join(STATE, "inputs", "*"), KEEP_INPUTS)
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    deadline = start + 900  # a first run also builds

    cp = build(deadline)
    data = inputs(a.workload, a.seed)
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{int(start * 1000)}"
    out = os.path.join(STATE, "runs", run_id)
    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *JVM_OPTS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           *ADD_OPENS, "-cp", cp,
           "graft.perfbench.Main", "--workload", a.workload,
           "--data", data, "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--out", out,
           "--run-id", run_id]
    jvm_log = os.path.join(out, "jvm.log")
    with open(jvm_log, "w") as f:
        rc = run_bounded(cmd, ROOT, f, a.seconds + JVM_ALLOWANCE_S)
    shutil.rmtree(work, ignore_errors=True)
    result_file = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        with open(jvm_log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"perfbench: harness exited with {rc}, see {jvm_log}")
    with open(result_file) as f:
        res = json.load(f)
    for e in res["failures"]:
        log(f"FAILED {e}")

    import answers
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracles = json.load(f)
    t0 = time.time()
    n_checks, wrong, extra = answers.run(ROOT, a.workload, data, out,
                                         res["answers"], oracles, a.trace == 1)
    n_wrong = len({(kind, q) for kind, q, _ in wrong})
    log(f"answer check: {n_checks - n_wrong}/{n_checks} ok "
        f"in {time.time() - t0:.1f} s")
    for kind, q, e in wrong:
        log(f"WRONG {kind} {q}: {e}")
    prune(os.path.join(STATE, "runs", "*"), KEEP_RUNS)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    measured = {**res["metrics"], **extra}

    def touched(name):
        return not a.trace or any(name == p or name.startswith(p + ".")
                                  for p in res["layers"])
    metrics = {}
    for m in declared:
        v = measured.get(m["name"])
        if v is None:
            if touched(m["name"]):
                sys.exit(f"perfbench: harness did not report {m['name']}")
            v = 0.0  # a layer this workload does not touch
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    failed = res["failed"] + n_wrong
    print(json.dumps({"correct": failed == 0,
                      "attempted": res["attempted"] + n_checks,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
