#!/usr/bin/env python3
"""kafquack-spark benchmark: one command per workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the bench JVM (the
engine's sources plus perfbench/src) with sbt; later runs reuse the build
while the sources are unchanged. The run generates its inputs from the
seed (twice, to prove they are byte-identical), starts the JVM and warms
it up, measures for about S seconds (at least three passes), checks the
outputs with DuckDB and prints one JSON line: end-to-end metrics with
--trace 0, per-layer metrics of one traced pass with --trace 1. A failed
check or a failed operation exits non-zero. See README.md.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402

# The workloads BENCHMARK.json names.
WORKLOADS = ("ingest_backlog", "curation", "graph_reach")
# Input generation repeats this often; the copies must be byte-identical.
GEN_REPEATS = 2
ENGINE_SOURCES = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "bench.classpath")
STAMP_FILE = os.path.join(BUILD_DIR, "bench.stamp")
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SOURCES, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the bench with sbt when the sources changed; returns the
    runtime classpath."""
    if not os.path.isdir(ENGINE_SOURCES):
        die(f"engine sources not found under {ENGINE_SOURCES}; run from a "
            "checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required to build the bench")
    digest = source_digest()
    if os.path.exists(STAMP_FILE) and os.path.exists(CLASSPATH_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == digest:
                with open(CLASSPATH_FILE) as g:
                    return g.read().strip()
    log("building the bench (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [ln for ln in proc.stdout.splitlines()
             if os.path.join("target", "scala-2.13", "classes") in ln
             and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        die("bench build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP_FILE, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def generate(workload, seed, root):
    """Writes the inputs under root/in and root/warm; returns the sizes the
    metrics need. Same seed, same bytes."""
    p = gen.INGEST
    sizes = {}
    if workload == "ingest_backlog":
        with open(os.path.join(root, "max_files"), "w") as f:
            f.write(str(p["files"] // p["batches"]))
        counts = gen.ingest_files(seed, p["files"], p["rows_per_file"],
                                  os.path.join(root, "in"))
        gen.ingest_files(seed, p["warm_files"], p["rows_per_file"],
                         os.path.join(root, "warm"), stream=1)
        with open(os.path.join(root, "rows_total"), "w") as f:
            f.write(str(sum(counts)))
        sizes["rows"] = sum(counts)
    elif workload == "curation":
        sizes["truth"] = gen.curation_corpus(seed, os.path.join(root, "in"))
        gen.curation_corpus(seed + 1, os.path.join(root, "warm"), scale=0.1)
        sizes["rows"] = gen.corpus_rows(os.path.join(root, "in"))
    else:
        info = gen.graph_edges(seed, os.path.join(root, "in"))
        sizes["rows"] = info["edges"]
        gen.graph_edges(seed + 1, os.path.join(root, "warm"), scale=0.1)
    return sizes


def set_mtimes(in_dir):
    """Orders the event files for the file source, which lists by mtime."""
    base = time.time() - 60
    names = sorted(n for n in os.listdir(in_dir) if n.endswith(".parquet"))
    for i, n in enumerate(names):
        os.utime(os.path.join(in_dir, n), (base + i * 0.001,) * 2)


def run_jvm(classpath, args, work, seconds):
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.sql.streaming.numRecentProgressUpdates=100000",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={tmp}"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main", "--dir", work,
            "--cores", str(cores)] + args
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep its scratch
    # files in the work directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    launch = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=120 + 3 * seconds)
        except subprocess.TimeoutExpired:
            code = -1
        finally:
            # also on SIGTERM: no JVM outlives the run
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    return code, cores, launch


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code = measure(a, classpath, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


def measure(a, classpath, work):
    # Generate the inputs GEN_REPEATS times; every copy must be
    # byte-identical. The first copy is the one the engine reads. This is
    # the bench's own work, so setup_s leaves it out (gen.input_s).
    gen_s, sums = [], []
    for rep in range(GEN_REPEATS):
        root = os.path.join(work, f"gen-{rep}")
        os.makedirs(root)
        t0 = time.perf_counter()
        sizes = generate(a.workload, a.seed, root)
        gen_s.append(time.perf_counter() - t0)
        sums.append(gen.checksum(root))
    if len(set(sums)) != 1:
        die(f"generator is not deterministic: {sums}", 1)
    log(f"inputs sha256 {sums[0]}, generated in {stats.median(gen_s):.2f} s")
    for name in os.listdir(os.path.join(work, "gen-0")):
        os.rename(os.path.join(work, "gen-0", name), os.path.join(work, name))
    for rep in range(1, GEN_REPEATS):
        shutil.rmtree(os.path.join(work, f"gen-{rep}"))
    if a.workload == "ingest_backlog":
        set_mtimes(os.path.join(work, "in"))

    code, cores, launch = run_jvm(
        classpath, ["--workload", a.workload, "--seconds", str(a.seconds),
                    "--trace", str(a.trace)], work, a.seconds)
    log(f"bench JVM exited after {time.time() - launch:.1f} s")
    result_path = os.path.join(work, "result.json")
    if not os.path.exists(result_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"bench JVM exited with {code} and no result", 1)
    with open(result_path) as f:
        result = json.load(f)
    if result["error"]:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])

    out = {"correct": False, "attempted": max(1, result["attempted"]),
           "failed": result["failed"], "metrics": {}}
    try:
        if result["error"]:
            raise checks.CheckFailed(result["error"])
        check = run_checks(a.workload, work, result, sizes)
        if a.trace:
            found = metrics.per_layer(a.workload, result, check, cores,
                                      stats.median(gen_s))
        else:
            found, info = metrics.end_to_end(a.workload, result, launch,
                                             check, sizes)
            log(f"samples: {info}")
        out["metrics"] = {k: {"value": v, "unit": u}
                          for k, (v, u) in found.items()}
        out["correct"] = True
    except checks.CheckFailed as e:
        log(f"FAILED: {e}")
    log(f"outputs checked after {time.time() - launch:.1f} s")
    print(json.dumps(out))
    return 0 if out["correct"] else 1


def run_checks(workload, work, result, sizes):
    in_dir = os.path.join(work, "in")
    tmp = os.path.join(work, "tmp")
    if workload == "ingest_backlog":
        files = sorted(os.path.join(in_dir, n) for n in os.listdir(in_dir)
                       if n.endswith(".parquet"))
        runs = list(result["passes"]) + list(result.get("untraced", []))
        recalls = [checks.ingest(files, r, tmp) for r in runs]
        return {"recall": stats.median(recalls)}
    last = result["passes"][-1]
    if workload == "curation":
        return checks.curation(os.path.join(in_dir, "corpus.parquet"),
                               sizes["truth"], last["out"], tmp)
    return {"recall": checks.graph(in_dir, last["out"], tmp, gen.GRAPH["k"])}


if __name__ == "__main__":
    main()
