#!/usr/bin/env python3
"""Benchmark launcher: builds the program and the harness from source, runs
one workload in a fresh JVM with a private temp root, and prints the metrics
as one JSON object on the last line of stdout.

    python3 perfbench/run.py --workload ingest_otlp --seed 1 --seconds 16 --trace 0

Run it from the root of a checkout. See perfbench/README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest_otlp", "read_promread", "batch_fleet")
JAVA_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


CHILD = []


def on_signal(signum, _frame):
    """Stop the JVM (and wait for it) before the temp root is removed."""
    for p in CHILD:
        p.kill()
        p.wait()
    raise SystemExit(128 + signum)


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the first
    distribution with a bin/spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    fail("no Spark distribution found; set SPARK_HOME")


# the repo's own h2c gRPC client, which ingest_otlp sends its Exports with
GRPC_CLIENT = "src/test/scala/graft/transport/GrpcTestClient.scala"


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    client = os.path.join(root, GRPC_CLIENT)
    if not prog or not os.path.isfile(client):
        fail(f"no program sources under {root}/src/main/scala or no {GRPC_CLIENT}; "
             "run from a checkout root")
    return prog + [client] + sorted(glob.glob(os.path.join(BENCH, "scala", "*.scala")))


def build(root, jars):
    """Compile program + harness with scalac from the Spark distribution,
    once per distinct source tree (keyed by a hash of every source)."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:16]
    base = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(base, f"classes-{key}")
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes):
            return classes
        for stale in glob.glob(os.path.join(base, "building-*")):
            shutil.rmtree(stale, ignore_errors=True)
        tmp = tempfile.mkdtemp(prefix="building-", dir=base)
        try:
            compiler = [glob.glob(os.path.join(jars, f"{n}-2.13.*.jar"))[0]
                        for n in ("scala-compiler", "scala-library", "scala-reflect")]
            argfile = os.path.join(tmp, "sources.txt")
            with open(argfile, "w") as f:
                f.write("\n".join(srcs))
            out = os.path.join(tmp, "out")
            os.makedirs(out)
            t = time.time()
            p = subprocess.Popen(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                                  "-cp", ":".join(compiler), "scala.tools.nsc.Main", "-nowarn",
                                  "-d", out, "-classpath", os.path.join(jars, "*"), "@" + argfile],
                                 stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            CHILD.append(p)
            log, _ = p.communicate()
            CHILD.remove(p)
            if p.returncode != 0:
                print(log[-4000:], file=sys.stderr)
                fail("build failed")
            for old in glob.glob(os.path.join(base, "classes-*")):
                shutil.rmtree(old, ignore_errors=True)
            os.rename(out, classes)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        print(f"[perfbench] built {len(srcs)} sources in {time.time() - t:.1f}s", file=sys.stderr)
        return classes


def pct(xs, p):
    s = sorted(xs)
    r = p / 100.0 * (len(s) - 1)
    lo = int(r)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def tail(xs):
    """Highest of the usual percentiles with at least ten samples beyond it;
    a sample set too small for p50 reports its maximum."""
    n = len(xs)
    for p in (99.9, 99, 95, 90, 75, 50):
        if n * (100 - p) >= 1000 - 1e-6:
            return p, pct(xs, p)
    return 100, max(xs)


def metrics(res, spec, trace):
    """Result file -> (metrics, context) per BENCHMARK.json."""
    ctx = dict(res["context"])
    ctx["errors"] = res["errors"]
    values = {
        "setup_s": res["setup_s"],
        "ops_ok_frac": (res["attempted"] - res["failed"]) / max(res["attempted"], 1),
        "throughput_per_s": res["throughput_per_s"],
        "cpu_ms_per_op": res["cpu_ms_per_op"],
        "heap_peak_mb": res["heap_peak_mb"],
    }
    for name, key in (("latency", "latency_ms"), ("fresh", "fresh_ms")):
        xs = res[key]
        ctx[f"{name}_samples"] = len(xs)
        if xs:
            p, v = tail(xs)
            values[f"{name}_p50_ms"] = pct(xs, 50)
            values[f"{name}_tail_ms"] = v
            ctx[f"{name}_tail_pct"] = p
    group = "per_layer" if trace else "end_to_end"
    out, absent = {}, []
    for m in spec[group]:
        v = res["layers"].get(m["name"]) if trace else values.get(m["name"])
        if v is None:
            absent.append(m["name"])
            v = 0.0
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    if absent:
        ctx["not_measured_on_this_workload"] = absent
    return out, ctx


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="spans file of a traced run "
                    "(default perfbench/out/spans_<workload>.jsonl)")
    ap.add_argument("--corrupt", action="store_true",
                    help="perturb one observed output, to show the correctness gate fails")
    ap.add_argument("--record-fleet", action="store_true",
                    help="rewrite perfbench/fleet_expected.json from this run's warm pass")
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, on_signal)

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jars = spark_jars()
    classes = build(root, jars)
    par = min(4, os.cpu_count() or 1)

    runs = os.path.join(root, ".bench_build", "runs")
    os.makedirs(runs, exist_ok=True)
    tmp_root = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=runs)
    try:
        os.makedirs(os.path.join(tmp_root, "tmp"))
        out = os.path.join(tmp_root, "result.json")
        spans = a.spans or os.path.join(BENCH, "out", f"spans_{a.workload}.jsonl")
        expected = os.path.join(BENCH, "fleet_expected.json")
        cmd = ["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={tmp_root}/tmp", f"-Dderby.system.home={tmp_root}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += ["-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--root", tmp_root, "--out", out,
                "--spans", os.path.abspath(spans), "--parallelism", str(par),
                "--corrupt", "1" if a.corrupt else "0", "--expected", expected]
        if a.record_fleet:
            cmd += ["--record", expected]
        log = os.path.join(tmp_root, "jvm.log")
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=tmp_root, stdout=lf, stderr=subprocess.STDOUT)
            CHILD.append(proc)
            try:
                rc = proc.wait(timeout=JAVA_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = -9
        if rc != 0 or not os.path.exists(out):
            os.makedirs(os.path.join(BENCH, "out"), exist_ok=True)
            shutil.copy(log, os.path.join(BENCH, "out", f"failed_{a.workload}.log"))
            with open(log, errors="replace") as lf:
                lines = [l for l in lf.read().splitlines() if " INFO " not in l and " WARN " not in l]
            print("\n".join(lines[-40:]), file=sys.stderr)
            fail(f"{a.workload} run failed (exit {rc})")
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)

    values, ctx = metrics(res, spec, a.trace == 1)
    ctx.update(workload=a.workload, trace=a.trace)
    print(json.dumps({"context": ctx}, sort_keys=True))
    ok = bool(res["correct"]) and res["failed"] == 0
    print(json.dumps({"correct": ok, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": values}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
