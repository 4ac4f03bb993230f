#!/usr/bin/env python3
"""End-to-end benchmark of the engine's user workflows.

    python3 e2ebench/run.py --workload sync_hourly --seed 1 --seconds 10 --trace 0

Builds the engine plus the benchmark driver from source with sbt into
e2ebench/target (rebuilt from clean whenever any source changes), packs the
classes into a jar and trains a class-data-sharing archive for it, then runs
one workload in a fresh JVM with a pinned core count and heap. Prints each
metric with its unit and, as the last stdout line, the result JSON. See
e2ebench/README.md.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(REPO, "src", "main", "scala")
ENGINE_RES = os.path.join(REPO, "src", "main", "resources")
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
STAMP = os.path.join(TARGET, "e2ebench.stamp")
JAR = os.path.join(TARGET, "e2ebench.jar")
ARCHIVE = os.path.join(TARGET, "e2ebench.jsa")
RUNS = os.path.join(HERE, "runs")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("sync_hourly", "stream_backlog")
CORES = 4
HEAP = "2g"
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[e2ebench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, ENGINE_RES, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, f) for f in ("build.sbt", os.path.join("project", "build.properties"), "run.py")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def layer_list():
    """The per_layer metrics of BENCHMARK.json, as name=unit,...: the one
    list a traced run reports."""
    path = os.path.join(REPO, "BENCHMARK.json")
    if not os.path.isfile(path):
        sys.exit("e2ebench: BENCHMARK.json not found at the repository root")
    with open(path) as fh:
        return ",".join(f"{m['name']}={m['unit']}" for m in json.load(fh)["per_layer"])


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("e2ebench: no Spark installation found (set SPARK_HOME)")
    return home, jars


CHILD = None
RUN_ROOT = None


def run_child(cmd, **kw):
    """Starts `cmd` as the one child this process waits on; a SIGTERM or
    SIGINT to this process kills and reaps it before exiting."""
    global CHILD
    CHILD = subprocess.Popen(cmd, **kw)
    return CHILD


def on_signal(signum, _frame):
    if CHILD is not None and CHILD.poll() is None:
        CHILD.kill()
        CHILD.wait()
    if RUN_ROOT:
        shutil.rmtree(RUN_ROOT, ignore_errors=True)
    sys.exit(128 + signum)


def java_cmd(jars):
    """The JVM command line every run uses: pinned heap, no inherited JVM
    options, and a class path of the benchmark jar then Spark's jars in a
    fixed order (the class-data-sharing archive records it)."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cp = [JAR] + sorted(glob.glob(os.path.join(jars, "*.jar")))
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return cmd + ["-cp", os.pathsep.join(cp)]


def clean_env():
    # the launcher pins cores and heap; nothing is inherited from the
    # environment's Spark or JVM settings
    return {k: v for k, v in os.environ.items()
            if not k.startswith(("SPARK_DRIVER", "SPARK_GRAFT", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS"))}


def pack_jar():
    """Packs the compiled classes and resources into one jar, entries sorted:
    the JVM archives classes from jars only."""
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for d, dirs, fs in os.walk(CLASSES):
            dirs.sort()
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, CLASSES))


def train_archive(jars):
    """Dumps the class-data-sharing archive from one short session (see
    bench.ClassArchive). Without it runs still work, only start slower."""
    t0 = time.time()
    scratch = os.path.join(TARGET, "archive-run")
    cmd = java_cmd(jars)
    cmd[1:1] = [f"-XX:ArchiveClassesAtExit={ARCHIVE}", f"-Djava.io.tmpdir={os.path.join(TARGET, 'tmp')}"]
    with open(os.path.join(TARGET, "archive.log"), "w") as err:
        p = run_child(cmd + ["bench.ClassArchive", scratch], stdout=err, stderr=err, env=clean_env())
        try:
            rc = p.wait(timeout=120)
        except subprocess.TimeoutExpired:
            p.kill()
            rc = p.wait()
    shutil.rmtree(scratch, ignore_errors=True)
    if rc != 0 or not os.path.isfile(ARCHIVE):
        sys.exit(f"e2ebench: class archive training failed (exit {rc}); see {os.path.relpath(TARGET)}/archive.log")
    log(f"class archive trained in {time.time() - t0:.1f} s")


def build(spark_home, jars):
    digest = source_hash()
    if os.path.isfile(ARCHIVE) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    # always from a clean output directory: no class from an older tree loads
    for d in (TARGET, os.path.join(HERE, "project", "target"), os.path.join(HERE, "project", "project")):
        shutil.rmtree(d, ignore_errors=True)
    log("building (sbt Compile/products) ...")
    t0 = time.time()
    env = dict(os.environ, SPARK_HOME=spark_home)
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp)
    p = run_child(["sbt", "--batch", "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}", "Compile/products"],
                  cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = p.wait(timeout=700)
    except subprocess.TimeoutExpired:
        p.kill()
        rc = p.wait()
    if rc != 0:
        sys.exit(f"e2ebench: build failed (exit {rc})")
    log(f"compiled in {time.time() - t0:.1f} s")
    pack_jar()
    train_archive(jars)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="FILE",
                    help="also append {workload, seed, trace, elapsed_s, digest, result} to FILE (see compare.py)")
    a = ap.parse_args()
    t_start = time.time()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit(f"e2ebench: engine sources not found at {os.path.relpath(ENGINE_SRC)}")
    layers = layer_list()
    spark_home, jars = spark_jars()
    build(spark_home, jars)

    global RUN_ROOT
    root = RUN_ROOT = os.path.join(RUNS, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    logfile = os.path.join(RUNS, f"{a.workload}-{a.seed}-{os.getpid()}.log")
    env = clean_env()
    cmd = java_cmd(jars)
    cmd[1:1] = [f"-XX:SharedArchiveFile={ARCHIVE}", f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}"]
    cmd += ["bench.Main", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", root, "--out", OUT, "--layers", layers]
    result = None
    with open(logfile, "w") as err:
        p = run_child(cmd, stdout=subprocess.PIPE, stderr=err, env=env, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            out = ""
            log(f"run exceeded {RUN_TIMEOUT_S} s and was killed")
    shutil.rmtree(root, ignore_errors=True)
    for line in out.splitlines():
        if line.startswith("{"):
            result = json.loads(line)
    with open(logfile) as fh:
        bench_lines = [l.rstrip() for l in fh if l.startswith("[e2ebench]")]
    if p.returncode != 0 or result is None:
        with open(logfile) as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        sys.exit(f"e2ebench: run failed (exit {p.returncode}); log kept at {os.path.relpath(logfile)}")
    os.remove(logfile)
    for l in bench_lines:
        print(l)
    for k, m in result["metrics"].items():
        print(f"{a.workload} {k} = {m['value']:.6g} {m['unit']}")
    print(f"{a.workload} correct = {result['correct']} "
          f"(ops_attempted {result['attempted']}, ops_failed {result['failed']})")
    if a.record:
        digest = next((l.split("output digest: ", 1)[1] for l in bench_lines if "output digest: " in l), "")
        with open(a.record, "a") as fh:
            fh.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                                 "elapsed_s": round(time.time() - t_start, 3), "digest": digest,
                                 "result": result}) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
