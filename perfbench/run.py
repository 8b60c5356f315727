#!/usr/bin/env python3
"""The repo benchmark: one command, two seeded closed-loop workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark driver from source (sbt, offline) into .bench_build/; later
runs reuse the build while the sources are unchanged. The tables are
the repo's sf0.01 fixtures in perfbench/data/sf0.01/; the word-count
corpus is made from the seed into .bench_build/inputs/. The driver
JVM runs the workload through the engine's public functions and checks
every output; registry rows are also compared with their DuckDB
oracles by tools/compare.py. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones
(names and units in BENCHMARK.json, definitions in perfbench/README.md).
Exit code 0 only when every output was correct.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
WORKLOADS = ("batch_jobs", "index_estate")
# which per-layer prefixes each workload exercises; the others report 0
LAYERS = {"batch_jobs": ("jobs.", "mr.", "registry.", "spark."),
          "index_estate": ("serve.", "index.", "spark.")}
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(f"{ROOT}/src/main/scala/**/*.scala", recursive=True) +
                   glob.glob(f"{HERE}/src/**/*.scala", recursive=True) +
                   [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + driver unless the same sources are built."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "build.stamp")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == stamp:
            return
        log("building engine and driver (sbt compile)")
        t0 = time.time()
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.forcestart=false", "compile"],
                           cwd=HERE, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           timeout=BUILD_LIMIT_S)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:])
            die("build failed")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        log(f"built in {time.time() - t0:.1f} s")


def corpus(seed):
    """The seeded word-count corpus, made once per seed."""
    sys.path.insert(0, HERE)
    import gen
    d = os.path.join(BUILD, "inputs", f"corpus-{seed}")
    if os.path.exists(os.path.join(d, "DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    gen.corpus(d, seed, n_files=8, tokens_per_file=20000)
    open(os.path.join(d, "DONE"), "w").close()
    return d


def oracle_compare(data, out):
    """Registry rows against their DuckDB oracles: (attempted, failures)."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare.py"),
                        data, out], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=120)
    lines = p.stdout.splitlines()
    rows = [l for l in lines if l[:4] in ("OK  ", "FAIL", "ERR ")]
    bad = [l for l in rows if not l.startswith("OK")]
    if p.returncode != 0 or not rows:
        bad.append(f"compare.py exited {p.returncode}: {p.stdout[-500:]}")
    return len(rows), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found next to perfbench/")
    if not os.path.exists(os.path.join(ROOT, "tools", "compare.py")):
        die("tools/compare.py not found")
    spark_jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(spark_jars):
        die("SPARK_HOME/jars not found")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    data = os.path.join(HERE, "data", "sf0.01")
    if not os.path.exists(os.path.join(data, "documents.parquet")):
        die("fixture tables (perfbench/data/sf0.01) not found")
    build()
    text = corpus(a.seed) if a.workload == "batch_jobs" else ""
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", *[x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={work}/spark-local",
           f"-Djava.io.tmpdir={work}/tmp",
           "-cp", f"{CLASSES}:{spark_jars}/*", "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--cores", str(cores), "--data", data, "--corpus", text,
           "--work", work, "--out", out]
    try:
        left = RUN_LIMIT_S - (time.time() - t_start)
        try:
            p = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE,
                               stderr=subprocess.PIPE, text=True, timeout=left)
        except subprocess.TimeoutExpired as e:
            sys.stderr.write((e.stderr or b"")[-3000:].decode(errors="replace"))
            die(f"driver JVM did not finish within {RUN_LIMIT_S} s")
        for line in p.stderr.splitlines():
            if line.startswith("perfbench:"):
                print(line, file=sys.stderr)
        if not os.path.exists(out):
            sys.stderr.write(p.stderr[-4000:])
            die(f"driver JVM exited {p.returncode} without a result")
        res = json.load(open(out))
        if p.returncode != 0:
            res["failed"] += 1
            res["failures"].append(f"driver JVM exited {p.returncode}")
        if a.workload == "batch_jobs":
            n, bad = oracle_compare(data, os.path.join(work, "verify"))
            res["attempted"] += n
            res["failed"] += len(bad)
            res["failures"] += bad
            res["info"]["oracle_rows_ok"] = n - len(bad)
        if res["failures"]:
            sys.stderr.write(p.stderr[-3000:])
        if a.trace and os.path.exists(os.path.join(work, "trace.json")):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"), os.path.join(
                BUILD, "traces", f"{a.workload}-{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    m = res["metrics"]
    attempted = max(int(res["attempted"]), 1)
    failed = int(res["failed"])
    m["failed_frac"] = {"value": failed / attempted, "unit": "ratio"}
    want = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics, missing = {}, []
    for w in want:
        name = w["name"]
        if name in m and m[name]["value"] is not None:
            metrics[name] = {"value": m[name]["value"], "unit": w["unit"]}
        elif a.trace and not name.startswith(LAYERS[a.workload]):
            metrics[name] = {"value": 0.0, "unit": w["unit"]}
        else:
            missing.append(name)
    correct = failed == 0 and not missing
    for k, v in res["info"].items():
        print(f"# {k}: {json.dumps(v)}")
    for f in res["failures"]:
        print(f"# FAILED: {f}")
    if missing:
        print(f"# MISSING METRICS: {missing}")
    for k, v in metrics.items():
        print(f"# {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
