#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload build|search|nrt --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run compiles the library
(src/main/scala) and the benchmark (perfbench/src) with the Scala compiler
that ships in the Spark distribution, into .perfbench_build/. Each run then
starts one JVM on the compiled classes, reads its raw record document, checks
and derives the metrics, and prints them: one labelled line per metric with
its unit and sample count, then, as the last line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`. With --trace 1 the metrics
are the per-layer ones and the spans go to .perfbench_out/.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from bench import report  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".perfbench_build")
OUT = os.path.join(ROOT, ".perfbench_out")
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("build", "search", "nrt")
# Workloads listed in BENCHMARK.json must end within 180 s; `build` is run by hand.
JVM_TIMEOUT_S = {"build": 1800}
DEFAULT_JVM_TIMEOUT_S = 165
DRIVER_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark distribution found (set SPARK_HOME)")
    return home


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        die("no library sources under src/main/scala: run from the repository root")
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return main + bench


def build(jars_dir):
    """Compile library + benchmark once per source state; returns the classes
    directory, the jar executors load, and the hash of the sources."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    jar = os.path.join(BUILD, "graft-perfbench.jar")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(BUILD, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
                and os.path.exists(jar):
            return classes, jar, stamp
        compiler = glob.glob(os.path.join(jars_dir, "scala-compiler-*.jar"))
        if not compiler:
            die("no scala-compiler jar in the Spark distribution")
        version = os.path.basename(compiler[0])[len("scala-compiler-"):-len(".jar")]
        tool_cp = [compiler[0]] + [os.path.join(jars_dir, "scala-%s-%s.jar" % (n, version))
                                   for n in ("library", "reflect")]
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        # scalac does not expand classpath wildcards: list the jars
        spark_cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars_dir, "*.jar"))))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(tool_cp),
               "scala.tools.nsc.Main", "-nowarn", "-d", classes,
               "-classpath", spark_cp, "@" + argfile]
        t0 = time.time()
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
        if r.returncode != 0:
            sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
            die("compile failed")
        with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
            for dirpath, _, files in os.walk(classes):
                for name in files:
                    full = os.path.join(dirpath, name)
                    z.write(full, os.path.relpath(full, classes))
        os.replace(jar + ".tmp", jar)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        print("perfbench: compiled %d sources in %.1f s" % (len(srcs), time.time() - t0),
              file=sys.stderr)
        return classes, jar, stamp


def cpu_times():
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    return [int(x) for x in parts]


def host_context(stat0, stat1, load, wall):
    ctx = {"nproc": len(os.sched_getaffinity(0))}
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                ctx["mem_total_mb"] = int(line.split()[1]) // 1024
    d = [b - a for a, b in zip(stat0, stat1)]
    total = sum(d) or 1
    # /proc/stat columns: user nice system idle iowait irq softirq steal ...
    ctx["cpu_busy_frac"] = 1.0 - (d[3] + d[4]) / total
    ctx["iowait_frac"] = d[4] / total
    ctx["steal_frac"] = (d[7] / total) if len(d) > 7 else 0.0
    ctx["loadavg_mean"] = sum(load) / len(load) if load else 0.0
    ctx["wall_s"] = wall
    ctx["jdk"] = first_line(["java", "-version"])
    # a driver checkout is not a git repository; source_sha256 identifies it
    ctx["git_commit"] = first_line(["git", "rev-parse", "HEAD"])
    return ctx


def first_line(cmd):
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    except OSError:
        return "unknown"
    lines = r.stdout.decode(errors="replace").splitlines()
    return lines[0] if r.returncode == 0 and lines else "unknown"


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def spark_home_mirror(home, work):
    """A SPARK_HOME inside the work directory that links to the real
    distribution: local-cluster workers keep their application directories
    under SPARK_HOME/work, which must stay inside the checkout."""
    mirror = os.path.join(work, "spark-home")
    os.makedirs(os.path.join(mirror, "work"))
    for name in os.listdir(home):
        if name != "work":
            os.symlink(os.path.join(home, name), os.path.join(mirror, name))
    return mirror


def run_jvm(args, cpus, classes, jar, home, work, raw, extra):
    jars = os.path.join(home, "jars", "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx" + DRIVER_HEAP, "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + jars, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", raw, "--work", work, "--cpus", str(cpus), "--jar", jar] + extra
    scala = glob.glob(os.path.join(home, "jars", "scala-library-*.jar"))
    scala_version = ".".join(os.path.basename(scala[0])[len("scala-library-"):].split(".")[:2])
    # executor launch resolves the Scala version from the environment
    env = dict(os.environ, SPARK_HOME=spark_home_mirror(home, work),
               SPARK_SCALA_VERSION=scala_version,
               SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log_path = os.path.join(work, "jvm.log")
    load = []
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             cwd=ROOT, start_new_session=True)
        deadline = time.time() + JVM_TIMEOUT_S.get(args.workload, DEFAULT_JVM_TIMEOUT_S)
        try:
            while p.poll() is None:
                if time.time() > deadline:
                    raise TimeoutError("benchmark JVM ran past its time limit")
                load.append(loadavg())
                time.sleep(0.5)
        finally:
            # executor JVMs and any other child of the session end with it
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    return p.returncode, log_path, load


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main():
    # a terminated run still stops its JVM and the executors under it
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    home = spark_home()
    classes, jar, stamp = build(os.path.join(home, "jars"))
    work = os.path.join(WORK, "%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = len(os.sched_getaffinity(0))
    # build: one process per executor count, the order alternating by seed
    parts = [[]]
    if args.workload == "build":
        order = (1, cpus) if args.seed % 2 == 0 else (cpus, 1)
        parts = [["--executors", str(n)] for n in order]

    stat0, t0 = cpu_times(), time.time()
    docs, load = [], []
    for i, extra in enumerate(parts):
        part_work = os.path.join(work, str(i))
        os.makedirs(part_work)
        raw = os.path.join(part_work, "raw.json")
        code, log_path, part_load = run_jvm(args, cpus, classes, jar, home, part_work,
                                            raw, extra)
        load += part_load
        if code != 0 or not os.path.exists(raw):
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            die("benchmark JVM failed with exit code %d" % code)
        with open(raw) as f:
            docs.append(json.load(f))
    stat1, wall = cpu_times(), time.time() - t0
    doc = report.merge(docs)
    shutil.rmtree(work, ignore_errors=True)

    run = report.Run(doc)
    ctx = dict(doc["context"])
    ctx.update(host_context(stat0, stat1, load, wall))
    ctx["source_sha256"] = stamp
    attempted = len(run.ops)
    failed = sum(1 for o in run.ops if not o["ok"])

    for k, v in ctx.items():
        print("context %s = %s" % (k, v))
    for st in doc["setups"]:
        print("setup %s = %.3f s" % (st["name"], st["s"]))
    for o in run.ops:
        if not o["ok"]:
            print("failed op %s.%s #%d: %s" % (o["kind"], o["cls"], o["id"], o["error"]))
    e2e = report.end_to_end(run, args.workload, cpus)
    for name, (value, unit, n) in list(e2e.items()) + list(
            report.headline(run, args.workload, cpus).items()):
        print("metric %s = %.6g %s (n=%d)" % (name, value, unit, n))

    if args.trace:
        layers = report.per_layer(run, args.workload, cpus)
        for name, (value, unit) in layers.items():
            print("layer %s = %.6g %s" % (name, value, unit))
        os.makedirs(OUT, exist_ok=True)
        trace_path = os.path.join(OUT, "trace-%s-seed%d.json" % (args.workload, args.seed))
        with open(trace_path, "w") as f:
            json.dump({"context": ctx, "spans": report.with_self_times(
                           doc["spans"] + report.spark_spans(run)),
                       "per_layer": {k: v[0] for k, v in layers.items()},
                       "end_to_end": {k: v[0] for k, v in e2e.items()}}, f)
        print("spans written to %s" % os.path.relpath(trace_path, ROOT))
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
