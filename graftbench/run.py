#!/usr/bin/env python3
"""Run one workload of the graft benchmark.

    python3 graftbench/run.py --workload build|serve|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) into graftbench/target. Each run
works in .bench_work/ and removes it afterwards; logs and span files go to
.bench_out/. With --trace 1 an untraced run of the same seed is made first
in the same invocation, and the tracing overhead of every end-to-end metric
is the traced value minus the untraced one.

The last line of standard output is one JSON object with the keys correct,
attempted, failed and metrics: the end-to-end metrics of BENCHMARK.json
with --trace 0, its per-layer metrics with --trace 1. The exit code is 0
when every operation and correctness check passed, 1 when one failed, and
2 when the run could not be made (nothing is printed then).
"""
import argparse
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
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
OUT_DIR = os.path.join(ROOT, ".bench_out")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("build", "serve", "ingest")
# a whole invocation (an untraced and a traced run with --trace 1) ends
# within this many seconds, or fails; ingest, run by hand, takes longer
DEADLINE_S = {"build": 172, "serve": 172, "ingest": 600}
BUILD_TIMEOUT_S = 780
# Spark 4 on JDK 17 needs these outside spark-submit (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".properties", ".sbt"))
                      and "target" not in d.split(os.sep)]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def jar_path():
    d = os.path.join(HERE, "target", "scala-2.13")
    jars = sorted(f for f in os.listdir(d) if f.startswith("graftbench_") and f.endswith(".jar")) \
        if os.path.isdir(d) else []
    return os.path.join(d, jars[-1]) if jars else None


def java_cmd(spark_home, main_args, work):
    cmd = ["java", "-Xlog:disable", "-Xlog:all=error:stderr"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{jar_path()}{os.pathsep}{os.path.join(spark_home, 'jars', '*')}",
            "graftbench.Main"] + main_args
    return cmd


def run_proc(cmd, timeout, stdout, stderr, cwd=ROOT):
    """Runs cmd in its own process group; kills the group on timeout and
    always waits for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def ensure_built():
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = os.path.join(BUILD_DIR, "stamp")
    digest = sources_digest()
    jar = jar_path()
    if jar and os.path.exists(stamp) and open(stamp).read() == f"{digest} {os.path.getmtime(jar)}":
        return
    print("graftbench: building engine + harness with sbt", file=sys.stderr)
    rc, _ = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                     BUILD_TIMEOUT_S, sys.stderr, sys.stderr, cwd=HERE)
    if rc != 0 or not jar_path():
        fail(f"sbt build failed (exit {rc})")
    with open(stamp, "w") as f:
        f.write(f"{digest} {os.path.getmtime(jar_path())}")
    # write the build outputs back now, not during the run
    os.sync()


def fresh_work(name):
    os.makedirs(OUT_DIR, exist_ok=True)
    work = os.path.join(WORK_ROOT, f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def run_workload(spark_home, workload, seed, seconds, traced, deadline):
    """Runs one workload JVM; returns (exit code, parsed RESULT_JSON)."""
    work = fresh_work(workload)
    tag = f"{workload}-seed{seed}-{'traced' if traced else 'untraced'}"
    log_path = os.path.join(OUT_DIR, f"{tag}.log")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if traced else "0", "--work", work,
            "--spans", os.path.join(OUT_DIR, f"{tag}.spans.jsonl"),
            "--budget", str(int(deadline - time.time()) - 5)]
    try:
        with open(log_path, "w") as log:
            rc, out = run_proc(java_cmd(spark_home, args, work),
                               max(1.0, deadline - time.time()), subprocess.PIPE, log)
    except subprocess.TimeoutExpired:
        fail(f"{workload} run passed the {DEADLINE_S[workload]} s deadline (log: {log_path})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in out.decode("utf-8", "replace").splitlines():
        if line.startswith("RESULT_JSON "):
            result = json.loads(line[len("RESULT_JSON "):])
        else:
            print(line)
    if result is None:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        fail(f"{workload} run ended (exit {rc}) without a result; log tail:\n{tail}")
    return rc, result


def declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ([m["name"] for m in b["end_to_end"]], [m["name"] for m in b["per_layer"]])


def main():
    # a terminated run still stops the JVM it started (run_proc kills its
    # process group on any exception, SystemExit included)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a checkout of the repository")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark 4.x installation")
    e2e_names, layer_names = declared_metrics()
    ensure_built()

    deadline = time.time() + DEADLINE_S[a.workload]
    if a.trace:
        base_rc, base = run_workload(spark_home, a.workload, a.seed, a.seconds, False, deadline)
    t0 = time.time()
    rc, res = run_workload(spark_home, a.workload, a.seed, a.seconds, bool(a.trace), deadline)
    print(f"INFO run wall {time.time() - t0:.1f} s")
    if a.trace:
        metrics = dict(res["per_layer"])
        for k, v in res["end_to_end"].items():
            u = base["end_to_end"][k]["value"]
            metrics[f"overhead.{k}"] = {"value": v["value"] - u, "unit": v["unit"]}
            print(f"METRIC overhead.{k:<35} {v['value'] - u} {v['unit']}"
                  f"  (traced {v['value']} - untraced {u}, seed {a.seed})")
        names = layer_names
    else:
        metrics = res["end_to_end"]
        names = e2e_names
    missing = [n for n in names if n not in metrics]
    if missing:
        fail(f"run did not produce declared metrics: {missing}")
    runs = [(base_rc, base), (rc, res)] if a.trace else [(rc, res)]
    ok = all(r["correct"] and c == 0 for c, r in runs)
    out = {"correct": ok, "attempted": sum(r["attempted"] for _, r in runs),
           "failed": sum(r["failed"] for _, r in runs),
           "metrics": {n: metrics[n] for n in names}}
    print(json.dumps(out))
    sys.stdout.flush()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
