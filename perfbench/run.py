#!/usr/bin/env python3
"""Layered benchmark for graft: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload <curation_batch|ivm_index>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the program and the
benchmark's JVM entry point from source into `.bench_build/perfbench` (scalac from the
Spark distribution the repo's build.sbt points at); later runs reuse the
classes while the sources are unchanged. Each run generates its inputs from
the seed, starts one JVM, measures for `--seconds` of operation time,
checks the outputs, and prints every metric by name with its unit. The last
line of stdout is the JSON result. Exit code 0 = outputs correct.
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
sys.path.insert(0, HERE)
import analyze  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["curation_batch", "ivm_index"]
CORES = 4            # Spark runs as local[CORES]; pinned so runs compare
HEAP = "3g"
JVM_TIMEOUT_S = 165  # the JVM is killed past this; the run then fails
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else build.sbt's
    `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(root, "build.sbt")
    if not os.path.exists(sbt):
        fail("no build.sbt here; run from the repository root")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return m.group(1)


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail("no program sources under src/main/scala; run from the repository root")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build(root, out):
    """Compile the program and perfbench/src into `out/classes` unless the
    stamp matches."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes, jars, stamp, 0.0
    compiler = [j for n in ("compiler", "library", "reflect")
                for j in glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))]
    if len(compiler) != 3:
        fail(f"no scala 2.13 compiler/library/reflect jars in {jars}")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
         "-d", tmp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes, jars, stamp, time.time() - t0


def git_revision(root):
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "--short", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        return r.stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_jvm(cmd, log):
    """Run the JVM in its own process group; kill the group on timeout.
    SPARK_LOCAL_DIRS would override the run's own spark.local.dir."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True, env=env)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def duckdb_check(rec, data):
    """q124's oracle SQL over the generated oracle corpus, compared with the
    DAG's result over the same file the way tools/compare.py compares:
    columns by name, rows sorted, values as text."""
    import duckdb
    import pandas as pd

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1).astype(str)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(data, 'check', 'documents.parquet')}'")
    want = canon(con.execute(rec["q124_sql"]).df())
    got = canon(pd.DataFrame(rec["result_rows"], columns=rec["result_columns"]))
    if len(got) and got.equals(want):
        return None
    return f"q124 result differs from DuckDB: {len(got)} rows vs {len(want)}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classes, jars, stamp, build_s = build(root, out)

    run_dir = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    t0 = time.time()
    gen.generate(a.workload, a.seed, data, a.seconds)
    gen_s = time.time() - t0

    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
              "graft.perfbench.Main", "--workload", a.workload, "--data", data,
              "--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(CORES), "--out", os.path.join(run_dir, "record.json")])
    log = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{a.trace}.log")
    t0 = time.time()
    rc = run_jvm(cmd, log)
    jvm_s = time.time() - t0
    if rc != 0:
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"JVM {'timed out' if rc is None else f'exited {rc}'}; log: {log}")
    with open(os.path.join(run_dir, "record.json")) as f:
        rec = json.load(f)

    problems = list(rec["mismatches"])
    t0 = time.time()
    checked = rec["checked"]
    if a.workload == "curation_batch":
        p = duckdb_check(rec, data)
        checked += 1
        if p:
            problems.append(p)
    oracle_s = time.time() - t0
    if checked < 1:
        problems.append("no correctness check ran")
    shutil.rmtree(run_dir, ignore_errors=True)

    h = rec["host"]
    print(f"host: k={h['cores']} heap={h['heap_max_mb']:.0f}MB jdk={h['jdk']} "
          f"spark={h['spark']} rev={git_revision(root)} src={stamp} seed={a.seed}")
    print(f"not metrics: generate {gen_s:.1f} s, jvm {jvm_s:.1f} s, "
          f"session {rec['session_s']:.1f} s, "
          f"checks {rec['check_s']:.1f} s, oracle {oracle_s:.1f} s"
          + (f", build {build_s:.1f} s" if build_s else ""))
    print("timed op seconds (op/write/reads): " + " ".join(
        f"{o['kind']}={o['dur_s']:.2f}/{o['write_s']:.2f}/"
        + ",".join(f"{x:.2f}" for x in o["serves"]) for o in rec["ops"] if o["timed"]))
    for f in rec["failures"]:
        print(f"failed: {f}")
    for p in problems:
        print(f"MISMATCH: {p}")

    if a.trace:
        metrics = {k: (v, u, "") for k, (v, u) in analyze.per_layer(rec).items()}
    else:
        metrics = analyze.end_to_end(rec)
    for k, (v, u, note) in metrics.items():
        print(f"{k} {v:.6g} {u}" + (f"  ({note})" if note else ""))
    timed = [o for o in rec["ops"] if o["timed"]]
    result = {"correct": not problems, "attempted": max(len(timed), 1),
              "failed": sum(1 for o in timed if not o["ok"]),
              "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()}}
    print(json.dumps(result))
    sys.exit(0 if not problems else 1)


if __name__ == "__main__":
    main()
