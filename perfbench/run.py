#!/usr/bin/env python3
"""graft benchmark: three workloads, one timed or traced run at a time.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload sql_tpch --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (sbt, into .bench_build, or
$CARGO_TARGET_DIR when set), runs the workload in one JVM with one client
thread (after a separate JVM that writes the workload's seeded inputs, so
the measured one starts cold), checks every output, and prints as its last
line one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (BENCHMARK.json lists
both). Everything a run writes stays under the build directory, except
the sbt launcher's lock on its own boot directory.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import struct
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sql_tpch", "curation_100k", "iterative_5k")
# workloads with seeded inputs to write before the measured JVM starts;
# sql_tpch reads the checked-in fixture
GENERATED = {"curation_100k", "iterative_5k"}
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
# A run must end within 180 s; the first one in a checkout, which builds,
# within 900 s.
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "4g"
# The engine's own launcher flags for Spark on JDK 17 (build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# The SUM(double) in Q1 is evaluation-order dependent, so its float columns
# compare within a relative 1e-9; every other text is bit-exact by design.
ORDER_DEPENDENT = {"q_tpch_01"}
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, dirs, files in os.walk(r):
            dirs.sort()
            for f in sorted(files):
                yield os.path.join(d, f)


def build(bdir):
    """Compiles engine + benchmark unless the sources are unchanged since
    the last build; returns the runtime classpath."""
    out = os.path.join(bdir, "sbt")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(out, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(bdir, "build.log")
    # sbt's scratch files (sockets, native libraries) go under the build
    # directory too; only its own boot lock stays in the sbt installation
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "-batch", f"-Dperfbench.target={out}",
                            "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
                            f"-Djna.tmpdir={tmp}",
                            "compile", "writeClasspath"],
                           cwd=HERE, stdout=fh, stderr=subprocess.STDOUT,
                           env=dict(os.environ, TMPDIR=tmp, JAVA_TOOL_OPTIONS="-XX:-UsePerfData"),
                           timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (log: {log})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as fh:
        return fh.read().strip()


def cpu_ticks():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7] if len(f) > 7 else 0, sum(f)
    except OSError:
        return 0, 0


def java(cp, work, main_args, log, deadline):
    """Runs perfbench.Main in a JVM of its own; fails the run unless it
    exits with 0 before the deadline."""
    # no hsperfdata file in the system temp directory
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dgraft.engine.home={work}/engine",
            "-cp", cp, "perfbench.Main"] + main_args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    if code != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"{os.path.basename(log)}: JVM timed out" if code is None
             else f"{os.path.basename(log)}: JVM exited with {code}")


def run_jvm(cp, args, work, deadline):
    result = os.path.join(work, "result.json")
    common = ["--workload", args.workload, "--seed", str(args.seed), "--work", work]
    t0 = time.time()
    if args.workload in GENERATED:
        java(cp, work, ["--generate", "1"] + common, os.path.join(work, "generate.log"), deadline)
    t1 = time.time()
    steal0, total0 = cpu_ticks()
    java(cp, work, common + ["--seconds", str(args.seconds), "--trace", str(args.trace),
                             "--fixture", FIXTURE, "--out", result],
         os.path.join(work, "jvm.log"), deadline)
    steal1, total1 = cpu_ticks()
    steal = (steal1 - steal0) / max(total1 - total0, 1)
    if not os.path.exists(result):
        fail("benchmark JVM wrote no result")
    with open(result) as fh:
        res = json.load(fh)
    # CPU time the hypervisor gave to other guests: wall metrics inflate with it
    res["summary"].append(f"input generation {t1 - t0:.1f} s, measured jvm wall "
                          f"{time.time() - t1:.1f} s, cpu steal {100 * steal:.1f} %")
    return res


def canon(v):
    """Sort/compare key of one value: floats by bit pattern (which tells
    -0.0 from +0.0, as the driver's hash does), the rest by repr."""
    if isinstance(v, float):
        return ("f", struct.pack("<d", v))
    return ("v", repr(v))


def same_rows(a, b, tolerant):
    """Row multisets equal; with `tolerant`, floats within 1e-9 relative."""
    if len(a) != len(b):
        return False
    if not tolerant:
        return sorted(tuple(map(canon, r)) for r in a) == sorted(tuple(map(canon, r)) for r in b)

    def key(r):
        return tuple(("f", f"{v:.6e}") if isinstance(v, float) else canon(v) for v in r)
    for x, y in zip(sorted(a, key=key), sorted(b, key=key)):
        for u, v in zip(x, y):
            if isinstance(u, float) and isinstance(v, float):
                if not (u == v or math.isclose(u, v, rel_tol=1e-9)):
                    return False
            elif canon(u) != canon(v):
                return False
    return True


def check_sql(work, texts):
    """Each distinct SQL text's Spark result against DuckDB over the same
    fixture tables, the way tools/check_oracles.py compares: columns by
    name, rows sorted, floats bit-exact. Returns (attempted, failures)."""
    import duckdb
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{FIXTURE}/{t}.parquet')")
    failures = []
    for name, sql in sorted(texts.items()):
        res = os.path.join(work, "results", name)
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{res}/*.parquet')")
            gcols = [d[0] for d in got.description]
            grows = got.fetchall()
            exp = con.execute(sql)
            xcols = [d[0] for d in exp.description]
            xrows = exp.fetchall()
        except Exception as e:  # a query the oracle cannot run is a failure
            failures.append(f"{name}: {e}")
            continue
        if sorted(gcols) != sorted(xcols):
            failures.append(f"{name}: columns {gcols} vs {xcols}")
            continue
        order = sorted(range(len(gcols)), key=lambda i: gcols[i])
        xorder = sorted(range(len(xcols)), key=lambda i: xcols[i])
        grows = [tuple(r[i] for i in order) for r in grows]
        xrows = [tuple(r[i] for i in xorder) for r in xrows]
        if not same_rows(grows, xrows, name in ORDER_DEPENDENT):
            failures.append(f"{name}: {len(grows)} spark rows vs {len(xrows)} duckdb rows differ")
    return len(texts), failures


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "EngineContext.scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    declared = declared_metrics(args.trace)
    bdir = build_dir()
    cp = build(bdir)
    deadline = time.time() + RUN_TIMEOUT_S
    work = os.path.join(bdir, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, args, work, deadline)
        attempted, failed = res["attempted"], res["failed"]
        lines = list(res["summary"])
        if res["sql_texts"]:
            n, failures = check_sql(work, res["sql_texts"])
            attempted += n
            failed += len(failures)
            lines.append(f"check {'ok  ' if not failures else 'FAIL'} duckdb_oracle: "
                         f"{n - len(failures)}/{n} texts match")
            lines += [f"  mismatch {f}" for f in failures]
        if os.path.exists(os.path.join(work, "spans.jsonl")):
            os.makedirs(os.path.join(bdir, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
                bdir, "traces", f"{args.workload}-{args.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    got = res["metrics"]
    for name, unit in declared:
        if not NAME_RE.fullmatch(name):
            fail(f"invalid metric name {name!r}")
        if name not in got or got[name]["unit"] != unit or got[name]["value"] is None:
            fail(f"metric {name} ({unit}) missing from the run's output")
    for line in lines:
        print(line)
    metrics = {name: got[name] for name, _ in declared}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
