#!/usr/bin/env python3
"""The graft benchmark: one command that builds the engine from source,
generates a workload's inputs from a seed, runs it in a closed loop and
prints its metrics.

    python3 perfbench/run.py --workload sketch_build --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. The engine (src/main/scala) and the
benchmark (perfbench/scala) are compiled with the Scala compiler that ships
with Spark into .bench_build/classes, and rebuilt only when a source changes.
Everything a run writes stays under .bench_build. The last line of standard
output is the result as one JSON object; see perfbench/NOTES.md.
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
CLASSES = os.path.join(BUILD, "classes")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")
WORKLOADS = ("sketch_build", "dashboard_live", "curation_batch")
# JVM start, set-up and the post-loop checks take well under this, on top
# of the measured loop
RUN_OVERHEAD_S = 150

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# engine's own build file).
ADD_OPENS = [
    a for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    ) for a in ("--add-opens", p + "=ALL-UNNAMED")
]


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, or next to spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("run.py: Spark not found; set SPARK_HOME")
    return os.path.join(home, "jars")


SPARK_JARS = spark_jars()


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile the engine and the benchmark unless the classes are current."""
    main, bench = sources(MAIN_SRC), sources(BENCH_SRC)
    if not main or not bench:
        sys.exit("run.py: no Scala sources under src/main/scala and perfbench/scala; "
                 "run it from the root of a full checkout")
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    for part, srcs, cp in (("main", main, ""), ("bench", bench, os.path.join(tmp, "main"))):
        out = os.path.join(tmp, part)
        os.makedirs(out)
        classpath = os.path.join(SPARK_JARS, "*") + (os.pathsep + cp if cp else "")
        subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", classpath,
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out] + srcs,
            check=True, stdout=sys.stderr)
    with open(os.path.join(tmp, "STAMP"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)


def declared_metrics(trace):
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    build()
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    trace_out = os.path.join(BUILD, "traces", "%s-seed%d.jsonl" % (args.workload, args.seed))
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp] + ADD_OPENS + [
        "-cp", os.pathsep.join([os.path.join(CLASSES, "bench"), os.path.join(CLASSES, "main"),
                                os.path.join(SPARK_JARS, "*")]),
        "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--trace-out", trace_out]
    log_path = os.path.join(logs, "%s-seed%d-trace%d.log" % (args.workload, args.seed, args.trace))
    limit = args.seconds + RUN_OVERHEAD_S
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=limit)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("run.py: the run exceeded %g s; log in %s" % (limit, log_path))
    shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(open(log_path).read()[-4000:])
        sys.exit("run.py: the benchmark exited with %d; log in %s" % (proc.returncode, log_path))
    result = json.loads(lines[-1])
    want = declared_metrics(args.trace == 1)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        sys.exit("run.py: metrics differ from BENCHMARK.json: missing %s, extra %s, units %s" % (
            sorted(set(want) - set(got)), sorted(set(got) - set(want)),
            sorted(k for k in set(want) & set(got) if want[k] != got[k])))
    for line in lines[:-1]:
        print(line)
    print(lines[-1])


if __name__ == "__main__":
    main()
