#!/usr/bin/env python3
"""graft's benchmark: builds graft and the benchmark from source, runs
one workload, checks its answers and prints the figures.

    python3 perfbench/run.py --workload dash_small --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run it from the root of a graft checkout. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end list of BENCHMARK.json, measured
with tracing off; with --trace 1 they are its per-layer list, and the spans
are written under .bench_build/perfbench/spans/. --smoke runs every workload
once at a tiny size and checks the output names and the answers.

Needs a JDK 17 and a Spark 4 distribution (SPARK_HOME, or spark-submit on
PATH), whose jars include the Scala 2.13 compiler.
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
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_LIMIT_S = 170
JVM_OPTS = [
    # no hsperfdata file outside the checkout
    "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-2.13*.jar")):
        die(f"no Spark jars with a Scala 2.13 compiler at {jars!r}; set SPARK_HOME")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        die("no java found; set JAVA_HOME")
    return exe


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        die(f"no graft sources under {main!r}; run from the root of a graft checkout")
    srcs = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return srcs


def build(java, jars):
    """Compiles graft's main sources and the benchmark's own code into one
    class directory; skipped when the sources are unchanged."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp = os.path.join(OUT, "classes.stamp")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and open(stamp).read() == digest:
            return classes, digest
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        t0 = time.time()
        cmd = [java, "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            die(f"build failed (exit {r.returncode})")
        with open(stamp, "w") as f:
            f.write(digest)
        print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes, digest


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_workload(java, jars, classes, workload, seed, seconds, trace, smoke, deadline):
    """Runs one workload in its own JVM; returns the result dict."""
    tag = f"{workload}-seed{seed}-trace{trace}{'-smoke' if smoke else ''}"
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    spans = os.path.join(OUT, "spans", f"{tag}.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    cmd = [java] + JVM_OPTS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                               "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
                               "graftbench.Main", "--workload", workload, "--seed", str(seed),
                               "--seconds", str(seconds), "--trace", str(trace),
                               "--work", work, "--data", os.path.join(BENCH, "data"),
                               "--out", out, "--spans", spans]
    if smoke:
        cmd.append("--smoke")
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    # a stopped benchmark stops its JVM too
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"{workload} did not finish in time")
    try:
        if code != 0 or not os.path.exists(out):
            die(f"{workload} failed (exit {code})")
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["spans_file"] = os.path.relpath(spans, ROOT) if trace else None
    return res


def report(res, spec, trace, env_extra):
    """Human-readable figures on stdout: every metric with unit, direction,
    sample count and note."""
    print(f"== {res['workload']}  attempted={res['attempted']} failed={res['failed']} "
          f"correct={res['correct']}")
    env = dict(res["env"], **env_extra)
    print("   env: " + ", ".join(f"{k}={v}" for k, v in env.items()))
    for e in res["errors"]:
        print(f"   error: {e}")
    declared = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    for title, ms in (("end-to-end", res["end_to_end"]), ("per-layer", res["per_layer"])):
        if not ms or (title == "per-layer" and not trace):
            continue
        print(f"   {title}:")
        for name, m in ms.items():
            d = declared.get(name, {})
            print(f"     {name:36s} {m['value']:>16.6g} {d.get('unit', '-'):12s} "
                  f"{d.get('better', '-'):6s} n={m['n']:<5d} {m['note']}")
    if res.get("spans_file"):
        print(f"   spans: {res['spans_file']}")


def final_line(res, spec, trace):
    names = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {}
    for m in names:
        got = (res["per_layer"] if trace else res["end_to_end"]).get(m["name"])
        if got is None and not trace:
            die(f"end-to-end metric {m['name']} missing from {res['workload']}")
        # a per-layer metric of a layer the workload does not use reads 0
        metrics[m["name"]] = {"value": got["value"] if got else 0.0, "unit": m["unit"]}
    return {"correct": bool(res["correct"]) and res["failed"] == 0,
            "attempted": int(res["attempted"]), "failed": int(res["failed"]), "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found; run from the root of a graft checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    java, jars = java_bin(), spark_jars()
    classes, digest = build(java, jars)
    built = time.time()
    env_extra = {"git_commit": git_commit(), "source_sha256": digest[:16]}

    if a.smoke:
        reported = set()
        for w in workloads:
            res = run_workload(java, jars, classes, w, a.seed, 1, 1, True, time.time() + RUN_LIMIT_S)
            report(res, spec, 1, env_extra)
            # final_line refuses a result that lacks an end-to-end metric
            for trace in (0, 1):
                line = final_line(res, spec, trace)
                if not line["correct"] or line["failed"] or not line["attempted"]:
                    die(f"smoke: {w} answered wrongly: {res['errors']}")
            reported.update(res["per_layer"])
        missing = [m["name"] for m in spec["per_layer"] if m["name"] not in reported]
        if missing:
            die(f"smoke: no workload reported {missing}")
        print(json.dumps({"smoke": "ok", "workloads": workloads}))
        return

    if a.workload not in workloads:
        die(f"unknown workload {a.workload!r}; one of {workloads}")
    # the per-run limit starts after the build (only the first run in a
    # checkout builds)
    res = run_workload(java, jars, classes, a.workload, a.seed, a.seconds, a.trace, False,
                     built + RUN_LIMIT_S)
    report(res, spec, a.trace, env_extra)
    print(json.dumps(final_line(res, spec, a.trace)))


if __name__ == "__main__":
    main()
