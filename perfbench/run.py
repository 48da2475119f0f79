#!/usr/bin/env python3
"""graft benchmark: one workload per run, in a fresh JVM.

    python3 perfbench/run.py --workload dedup_mining --seed 42 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles src/main/scala and
the benchmark driver with the Scala compiler that ships in the Spark jars
(no sbt), into jars under $CARGO_TARGET_DIR (default .bench_build), and
records a class-data-sharing archive of the classes a set-up loads; later
runs reuse both while the sources are unchanged.

Set-up writes every table into the run's own directory: in the shipped row
order for seed 42, with the rows permuted by the seed otherwise. The same
rows in the same number of files, so the reference digests still hold. An
untraced run sets up SETUPS times (the last one starts the measured JVM)
and reports the median as setup_s.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). Every run also leaves a record, with each query's digest, in
<build>/records-<source hash>/ for perfbench/compare.py, plus the span file
of a traced run.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import compare

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
REFS = os.path.join(HERE, "refs.json")
RUN_LIMIT_S = 170.0
SETUPS = 3
HEAP = "3g"
# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the unmanagedBase that build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        path = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        path = m.group(1) if m else ""
    if not os.path.isdir(path):
        fail("no Spark jars: set SPARK_HOME")
    return path


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    driver = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    if not main:
        fail("no src/main/scala under the checkout root; nothing to benchmark")
    return main, driver


def scalac(java, jars, out, classpath, files):
    os.makedirs(os.path.dirname(out), exist_ok=True)
    cmd = [java, "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")


def build(build_dir, java, jars):
    """Compile graft and the driver once per source state.

    The build ends with one set-up-only JVM that dumps the classes it loaded
    into a class-data-sharing archive; every later JVM maps that archive,
    which halves the JVM and session start. Returns the java command, the
    classpath and the source hash. The newest other build is kept, so two
    source states run alternately compile once each.
    """
    main, driver = sources()
    h = hashlib.sha256()
    for p in main + driver:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    src_hash = h.hexdigest()[:16]
    out = os.path.join(build_dir, "classes-" + src_hash)
    if not os.path.exists(os.path.join(out, "OK")):
        others = sorted(glob.glob(os.path.join(build_dir, "classes-*")), key=os.path.getmtime)
        for old in others[:-1]:
            shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
    graft_jar, driver_jar = os.path.join(out, "graft.jar"), os.path.join(out, "driver.jar")
    cp = os.pathsep.join([graft_jar, driver_jar, jars])
    jsa = os.path.join(out, "setup.jsa")
    if not os.path.exists(os.path.join(out, "OK")):
        others = sorted(glob.glob(os.path.join(build_dir, "classes-*")), key=os.path.getmtime)
        for old in others[:-1]:
            shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.time()
        scalac(java, jars, graft_jar, jars, main)
        scalac(java, jars, driver_jar, graft_jar + os.pathsep + jars, driver)
        d = os.path.join(out, "dump")
        run_jvm([java, f"-XX:ArchiveClassesAtExit={jsa}"], cp,
                ["setup", d, os.path.join(d, "result.json")], d, time.time() + 600)
        shutil.rmtree(d, ignore_errors=True)
        open(os.path.join(out, "OK"), "w").close()
        print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    os.utime(out)
    return [java, f"-XX:SharedArchiveFile={jsa}"], cp, src_hash


def stage(seed, run_dir):
    """Writes every table into run_dir/data: shipped row order for seed 42,
    rows permuted by the seed otherwise."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    tables = sorted(glob.glob(os.path.join(DATA, "*.parquet")))
    if not tables:
        fail(f"no tables under {DATA}")
    out = os.path.join(run_dir, "data")
    os.makedirs(out)
    for path in tables:
        t = pq.read_table(path)
        idx = list(range(t.num_rows))
        if seed != 42:
            random.Random(seed).shuffle(idx)
        pq.write_table(t.take(pa.array(idx, type=pa.int64())),
                       os.path.join(out, os.path.basename(path)))
    return out


def run_jvm(jvm, classpath, args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = jvm + [f"-Xmx{HEAP}", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.GraftBench"] + args
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        t0 = time.time()
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    if rc != 0:
        with open(log_path, errors="replace") as f:
            print(f.read()[-4000:], file=sys.stderr)
        fail("JVM timed out" if rc is None else f"JVM exited with {rc}")
    return t0


def set_up(jvm, classpath, seed, run_dir, deadline, jvm_args=None):
    """Stages the tables and starts a JVM. Without jvm_args the JVM only sets
    up and exits. Returns (result path, set-up seconds, the JVM's result)."""
    t0 = time.time()
    data = stage(seed, run_dir)
    staging_s = time.time() - t0
    out = os.path.join(run_dir, "result.json")
    args = ["setup", run_dir, out] if jvm_args is None else jvm_args(data, out)
    launched = run_jvm(jvm, classpath, args, run_dir, deadline)
    with open(out) as f:
        r = json.load(f)
    setup_s = staging_s + (r["session_ready_ms"] / 1000.0 - launched) + r["warmup_s"]
    return out, setup_s, r


def run_once(a, trace, setups, jvm, classpath, src_hash, build_dir, records, deadline,
             untraced_wall=None):
    """One measured run (after setups - 1 set-up-only samples); saves and
    returns its record. A traced run's overhead is its wall minus
    untraced_wall."""
    start = time.time()
    stem = f"{a.workload}-seed{a.seed}-trace{trace}-{int(start)}-{os.getpid()}"
    run_dir = os.path.join(build_dir, "runs", stem)
    shutil.rmtree(run_dir, ignore_errors=True)
    samples = []
    try:
        for i in range(setups - 1):
            d = os.path.join(run_dir, f"setup{i}")
            samples.append(set_up(jvm, classpath, a.seed, d, deadline)[1])
            shutil.rmtree(d, ignore_errors=True)
        d = os.path.join(run_dir, "measured")
        out, setup_s, r = set_up(
            jvm, classpath, a.seed, d, deadline,
            lambda data, out: [a.workload, data, d, str(a.seconds), str(trace), REFS, out])
        samples.append(setup_s)
        if trace:
            shutil.copy(out + ".spans.jsonl", os.path.join(records, stem + ".spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    e2e = dict(r["end_to_end"])
    e2e["setup_s"] = statistics.median(samples)
    if trace:
        r["per_layer"]["trace.overhead_s"] = e2e["wall_s"] - untraced_wall
    attempted, failed = r["attempted"], r["failed"]
    record = {"workload": a.workload, "seed": a.seed, "trace": trace,
              "source_hash": src_hash, "seconds": a.seconds, "started": start,
              "passes": r["passes"], "pass_walls": r["pass_walls"],
              "attempted": attempted, "failed": failed,
              "failed_frac": failed / attempted, "failures": r["failures"],
              "setup_samples": samples, "warmup_s": r["warmup_s"],
              "end_to_end": e2e, "per_layer": r["per_layer"],
              "query_walls": r["query_walls"], "digests": r["digests"]}
    with open(os.path.join(records, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    return record


def main():
    ap = argparse.ArgumentParser()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S

    units = {m["name"]: m["unit"] for m in bench["per_layer" if a.trace else "end_to_end"]}
    if not os.path.isdir(DATA) or not os.path.exists(REFS):
        fail("benchmark data or refs.json missing")
    java = shutil.which("java") or fail("java not on PATH")
    jars = os.path.join(spark_jars(), "*")

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    jvm, classpath, src_hash = build(build_dir, java, jars)
    records = os.path.join(build_dir, "records-" + src_hash)
    os.makedirs(records, exist_ok=True)
    ctx = (jvm, classpath, src_hash, build_dir, records, deadline)

    if a.trace:
        # The overhead compares with untraced runs of the same sources (the
        # records directory is per source hash); with none, one is made first.
        untraced = [x["end_to_end"]["wall_s"] for x in compare.load(records)
                    if x["workload"] == a.workload and x["trace"] == 0]
        if not untraced:
            untraced = [run_once(a, 0, 1, *ctx)["end_to_end"]["wall_s"]]
        r = run_once(a, 1, 1, *ctx, untraced_wall=statistics.median(untraced))
        metrics = {k: {"value": r["per_layer"].get(k, 0.0), "unit": u}
                   for k, u in sorted(units.items())}
    else:
        r = run_once(a, 0, SETUPS, *ctx)
        metrics = {k: {"value": r["end_to_end"][k], "unit": u} for k, u in units.items()}
    attempted, failed = r["attempted"], r["failed"]
    for msg in r["failures"]:
        print(f"FAILED {msg}")
    print(f"workload {a.workload} seed {a.seed}: {r['passes']} timed passes, "
          f"{attempted} queries attempted, failed_frac {failed / attempted:.4f}")
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
