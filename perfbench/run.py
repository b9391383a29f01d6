#!/usr/bin/env python3
"""Chess-store benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the program
(src/main/scala) and the harness (perfbench/scala) with the Scala
compiler that ships in Spark's jars directory into .bench_build/; later
runs reuse the classes while the sources are unchanged. The harness
JVM (perfbench.Main) generates the workload's inputs from the seed,
measures, checks its outputs and writes a result file; this script
adds the streaming oracle check and prints the result as the last line
of standard output. The exit code is 0 only when every check passed.

Workloads, metrics and the layer each metric belongs to are listed in
BENCHMARK.json and perfbench/METRICS.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import oracle  # noqa: E402
import streamdata  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
WORKLOADS = ("import", "serve", "batch_probe", "stream_stores")
JVM_TIMEOUT_S = 170
HEAP = "3g"
# no hsperfdata file under /tmp: a run writes only inside its checkout
NO_PERF_DATA = "-XX:-UsePerfData"
# the module openings Spark needs on JDK 17 outside spark-submit (the
# same list build.sbt passes to forked runs)
OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    if not program:
        fail("no program sources under src/main/scala; run from the repository root")
    if not harness:
        fail("no harness sources under perfbench/scala")
    return program + harness


def build():
    """Compile program and harness once per source state; returns the
    classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, ".ok")):
            return out
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(out)
        compiler = ":".join(os.path.join(SPARK_JARS, j) for j in (
            "scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar",
            "scala-reflect-2.13.17.jar"))
        cp = ":".join(sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar"))))
        t = time.time()
        r = subprocess.run(["java", NO_PERF_DATA, "-Xss8m", "-Xmx2g", "-cp", compiler,
                            "scala.tools.nsc.Main", "-nowarn", "-d", out,
                            "-classpath", cp] + srcs, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            shutil.rmtree(out, ignore_errors=True)
            fail("compilation failed", 1)
        open(os.path.join(out, ".ok"), "w").close()
        print(f"perfbench: compiled {len(srcs)} files in {time.time() - t:.1f} s",
              file=sys.stderr)
    return out


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b["end_to_end"], b["per_layer"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("no BENCHMARK.json; run from the repository root")
    end_to_end, per_layer = declared()
    classes = build()

    run = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    try:
        prep_s = 0.0
        if a.workload == "stream_stores":
            prep_s = streamdata.write_tables(os.path.join(run, "sf"),
                                             os.path.join(run, "sf-warm"), a.seed)
        cmd = (["java", NO_PERF_DATA] + OPENS + [
            # the whole heap is touched at start, so first use of a heap
            # page does not slow whichever operation happens to reach it
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={run}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.Main",
            a.workload, str(a.seed), str(a.seconds), str(a.trace), run, f"{prep_s:.6f}"])
        with open(os.path.join(run, "jvm.log"), "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            try:
                p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
        if p.returncode != 0 or not os.path.exists(os.path.join(run, "result.json")):
            with open(os.path.join(run, "jvm.log")) as log:
                sys.stderr.write(log.read()[-4000:])
            fail(f"harness exited with {p.returncode}", 1)
        with open(os.path.join(run, "result.json")) as f:
            res = json.load(f)
        if a.workload == "stream_stores":
            for name, ok, detail in oracle.check(os.path.join(run, "sf"),
                                                 os.path.join(run, "out")):
                res["facts"][f"digest.{name}"] = detail
                if not ok:
                    res["failed"] += 1
                    res["failures"].append(f"{name}: {detail}")

        if a.trace:
            want, got = per_layer, res["layer"]
        else:
            want, got = end_to_end, res["e2e"]
        metrics = {}
        for m in want:
            # a layer the workload does not use did no work: 0
            v = got.get(m["name"], {"value": 0.0})["value"]
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        correct = res["failed"] == 0 and not res["failures"]
        artifacts = os.path.join(BUILD, "artifacts")
        os.makedirs(artifacts, exist_ok=True)
        stem = os.path.join(artifacts, f"{a.workload}-seed{a.seed}-trace{a.trace}")
        with open(stem + ".json", "w") as f:
            json.dump(res, f, indent=1, sort_keys=True)
        if os.path.exists(os.path.join(run, "spans.json")):
            shutil.copy(os.path.join(run, "spans.json"), stem + ".spans.json")
        for msg in res["failures"]:
            print(f"perfbench: check failed: {msg}", file=sys.stderr)
        print(json.dumps({"correct": correct, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
        sys.stdout.flush()
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    main()
