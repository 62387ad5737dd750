#!/usr/bin/env python3
"""Benchmark entry point: build the program from source, generate the
workload's seeded inputs, run the workload in one JVM, check its outputs
and print one JSON result line.

    python3 perfbench/run.py --workload serve_terms --seed 1 --seconds 10 --trace 0

Run from the repository root. See perfbench/README.md.
"""
import sys

sys.dont_write_bytecode = True

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
WORKLOADS = ("serve_terms", "ops_mix")
CORES = min(4, os.cpu_count() or 1)
HEAP = "3g"
JVM_TIMEOUT_S = 150
KEEP_INPUTS = 8

# Spark on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_tree(name, srcs, classpath):
    """Compile `srcs` into .bench_build/classes/<name>, unless the same
    sources were compiled there already."""
    h = hashlib.sha256()
    for p in srcs + classpath:
        h.update(p.encode())
        if os.path.isfile(p):
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(BUILD, "classes", name)
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = ":".join([os.path.join(SPARK_JARS, "*")] + classpath)
    t0 = time.time()
    r = subprocess.run(["java", "-Xmx2g", "-Xss16m", "-cp", cp, "scala.tools.nsc.Main",
                        "-usejavacp", "-nowarn", "-d", out, "@" + argfile],
                       capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], r.stderr[-4000:], file=sys.stderr)
        fail(f"compiling {name} failed")
    print(f"perfbench: compiled {name} in {time.time() - t0:.1f}s", file=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


def build():
    main_srcs = sources(MAIN_SRC)
    if not main_srcs:
        fail(f"no program sources under {MAIN_SRC}")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS}")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        main = compile_tree("main", main_srcs, [])
        bench = compile_tree("bench", sources(BENCH_SRC), [main])
    return [main, bench]


def prune_inputs(root, keep):
    dirs = sorted((os.path.join(root, d) for d in os.listdir(root)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def run_jvm(classes, args, work, trace):
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "report.json")
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xss16m", f"-Djava.io.tmpdir={work}/tmp"] + ADD_OPENS
           + ["-cp", ":".join(classes + [os.path.join(SPARK_JARS, "*")]), "perfbench.Run",
              "--workload", args.workload, "--inputs", args.inputs, "--work", work,
              "--seconds", str(args.seconds), "--trace", str(trace), "--cores", str(CORES),
              "--seed", str(args.seed), "--out", out])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also reached when this process is told to stop (SIGTERM)
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            print(lf.read()[-6000:], file=sys.stderr)
        fail(f"workload JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def end_to_end(rep):
    lat = [s for _, s in rep["ops"]]
    setup = rep["session_s"] + sum(median(v) for v in rep["setup_steps_s"].values())
    return {
        "setup_s": (setup, "s"),
        "op_p50_s": (median(lat), "s"),
        "ops_per_s": (len(lat) / rep["timed_wall_s"], "1/s"),
    }


def unit(metric):
    """Unit of a per-layer metric, from its name."""
    if metric.endswith(("_s", ".s")):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if "bytes" in metric and "per_input_byte" not in metric:
        return "bytes"
    if metric.endswith(("core_util", "per_input_byte", "dup_recall", "rows_per_result")):
        return "ratio"
    return "count"


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build()
    sys.path.insert(0, HERE)
    import gen
    import gates

    inputs_root = os.path.join(BUILD, "inputs")
    os.makedirs(inputs_root, exist_ok=True)
    t0 = time.time()
    args.inputs, summary = gen.inputs(inputs_root, args.workload, args.seed)
    os.utime(args.inputs)
    prune_inputs(inputs_root, KEEP_INPUTS)
    print(f"perfbench: inputs {summary} in {time.time() - t0:.1f}s", file=sys.stderr)

    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        rep = run_jvm(classes, args, work, args.trace)
        t1 = time.time()
        checked, wrong = gates.check(args.workload, args.inputs, rep, args.seed)
        print(f"perfbench: jvm {t1 - t0:.1f}s, gates {time.time() - t1:.1f}s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures = rep["failures"] + wrong
    attempted = len(rep["ops"]) + rep["checks"] + checked
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    e2e = end_to_end(rep)
    print(f"perfbench: session {rep['session_s']:.2f}s, set-up steps {rep['setup_steps_s']}, "
          f"op latencies {[round(s, 3) for _, s in rep['ops']]}", file=sys.stderr)
    print(f"perfbench: {args.workload} seed={args.seed} ops={len(rep['ops'])} "
          f"failed_frac={len(failures) / attempted:.4f} "
          + " ".join(f"{k}={v:.4f}" for k, (v, _) in e2e.items()), file=sys.stderr)
    if args.trace:
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in rep["layers"].items()}
        metrics.update({f"trace.{k}": {"value": v, "unit": u} for k, (v, u) in e2e.items()})
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    sys.exit(0 if not failures else 1)


if __name__ == "__main__":
    main()
