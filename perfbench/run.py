#!/usr/bin/env python3
"""End-to-end benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Builds the program and the
benchmark from source (perfbench/build.sbt, once per source change),
writes the seed's inputs with perfbench/gen.py, runs one workload in one
JVM and prints, as the last stdout line, one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
The metric set is the one BENCHMARK.json declares: end_to_end with
--trace 0, per_layer with --trace 1.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
RUN_TIMEOUT_S = 170
HEAP = "3g"
BUILD_TIMEOUT_S = 840

# The JVM flags Spark needs on JDK 17 outside spark-submit (the root
# build.sbt passes the same set to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars the program builds and runs against: $SPARK_HOME/jars,
    else the directory the program's own build.sbt names as unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        fail("no Spark jars found: set SPARK_HOME")
    return jars


def stamp(*tops):
    """Hash of the files under the given paths (names and bytes)."""
    h = hashlib.sha256()
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(jars):
    stamp_file = os.path.join(BUILD, "build.stamp")
    sources = stamp(os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                    os.path.join(HERE, "build.sbt"))
    if os.path.isdir(CLASSES) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == sources:
                return
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_SPARK_JARS=jars)
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    print("perfbench: building (sbt compile)", file=sys.stderr)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.isdir(CLASSES):
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(sources)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail("unknown workload " + a.workload)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found — run from "
             "the root of a source checkout")

    jars = spark_jars()
    build(jars)

    # inputs and the outputs pinned for them are keyed by the generator's
    # own hash, so an edited generator never meets stale inputs or pins
    gen = stamp(os.path.join(HERE, "gen.py"))[:16]
    inputs = os.path.join(BUILD, "inputs", gen, "seed-%d" % a.seed)
    if not os.path.isdir(os.path.join(inputs, a.workload)):
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                        "--seed", str(a.seed), "--out", inputs,
                        "--workload", a.workload], check=True)
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)

    cmd = (["java"] + [x for p in ADD_OPENS
                       for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", CLASSES + os.pathsep + os.path.join(jars, "*"),
            "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--inputs", os.path.join(inputs, a.workload), "--work", work,
            "--pins", os.path.join(BUILD, "pins", gen)])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run exceeded %d s" % RUN_TIMEOUT_S)
    lines = out.splitlines()
    for line in lines:
        if not line.startswith("PERFBENCH_RESULT "):
            print(line, file=sys.stderr)
    results = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not results:
        fail("benchmark JVM exited %d without a result" % proc.returncode)
    res = json.loads(results[-1][len("PERFBENCH_RESULT "):])

    declared = spec["per_layer" if a.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(res["metrics"]) != set(units):
        fail("metric set differs from BENCHMARK.json: missing %s, extra %s" % (
            sorted(set(units) - set(res["metrics"])),
            sorted(set(res["metrics"]) - set(units))))
    res["metrics"] = {m["name"]: {"value": res["metrics"][m["name"]],
                                  "unit": m["unit"]} for m in declared}
    print(json.dumps(res, separators=(", ", ": ")))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
