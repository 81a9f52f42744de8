#!/usr/bin/env python3
"""Run one benchmark workload against the graft library built from source.

    python3 perfbench/run.py --workload pgx_clinic --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the library sources
(src/main/scala) together with the benchmark's own Scala files into
.bench_build/; later runs reuse that build while the sources are unchanged.
Inputs are generated from --seed under .bench_work/ and removed afterwards.
The last line of standard output is the result as one JSON object.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["pgx_clinic", "pgx_cohort", "corpus_dedup", "stream_dedup"]
RUN_MARGIN_S = 165  # beyond --seconds: a run of BENCHMARK.json's 1 s ends within 180 s
RESULT = "PERFBENCH_RESULT "
BUILD_LIMIT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    build = os.path.join(root, "build.sbt")
    if os.path.isfile(build):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jars: set SPARK_HOME")


def heap_mb():
    """Driver heap: a quarter of physical memory, between 2 and 6 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2048, min(6144, total_kb // 4 // 1024))


def build(root, jars):
    """Compile library + benchmark sources once per source digest."""
    lib = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not lib:
        fail("library sources src/main/scala not found; run from the repository root")
    bench = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    digest = hashlib.sha256()
    for path in lib + bench:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    out_root = os.path.join(root, ".bench_build")
    classes = os.path.join(out_root, "classes-" + digest.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = f"{classes}.tmp{os.getpid()}"
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    try:
        run_step(["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                  "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + lib + bench,
                 root, "compile")
    except SystemExit:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    for old in glob.glob(os.path.join(out_root, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    print(f"# built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def run_step(cmd, cwd, what):
    try:
        r = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail(f"{what} timed out")
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-8000:])
        fail(f"{what} failed")


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    # SIGTERM unwinds through the finally blocks, so no child outlives us.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    jars = spark_jars(root)
    classes = build(root, jars)
    work = os.path.join(root, ".bench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    spans = os.path.join(root, ".bench_build", "spans", f"{args.workload}-seed{args.seed}.jsonl")
    # A fixed heap and young generation, so the collector's resizing does not
    # move peak RSS. Peak RSS then counts the young generation, the old
    # generation's highest occupancy (live data plus old garbage not yet
    # reclaimed) and native memory.
    heap = heap_mb()
    cmd = ["java"]
    for mod in ADD_OPENS:
        cmd += ["--add-opens", f"{mod}=ALL-UNNAMED"]
    cmd += [f"-Xms{heap}m", f"-Xmx{heap}m", f"-Xmn{heap // 4}m", "-XX:-UsePerfData",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--work", work, "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--spans", spans,
            "--launch-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE)
    try:
        out, _ = proc.communicate(timeout=RUN_MARGIN_S + args.seconds)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_MARGIN_S + args.seconds:.0f} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    lines = out.decode(errors="replace").splitlines()
    results = [l[len(RESULT):] for l in lines if l.startswith(RESULT)]
    for line in lines:
        if not line.startswith(RESULT):
            print(line)
    if proc.returncode != 0 or len(results) != 1:
        fail(f"benchmark process exited with code {proc.returncode}")
    check_metric_names(json.loads(results[0]), args.trace)
    print(results[0], flush=True)


def check_metric_names(result, trace):
    """The result must carry exactly the metrics this benchmark's
    BENCHMARK.json declares."""
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if not os.path.isfile(path):
        return
    with open(path) as f:
        spec = json.load(f)
    want = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = set(result["metrics"])
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(want - got)}, "
             f"extra {sorted(got - want)}")


if __name__ == "__main__":
    main()
