#!/usr/bin/env python3
"""Pipeline benchmark: build the program and the benchmark from source, run
one workload in its own JVM, print the result JSON as the last stdout line.

    python3 perfbench/run.py --workload batch_warm --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py compare A.trace.json B.trace.json

Run from the repository root. Build outputs, work files and trace files go
under .bench_build/ there. See perfbench/README.md for the workloads and
metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"

# Rows per workload input. Sized so a run (JVM start, set-up, warm-up,
# the timed loop) stays well inside the per-run time limit on 4 cores.
ROWS = {"batch_cold": 50_000, "batch_warm": 50_000, "stream_drain": 24_000}
# Spark master local[k]: the same k on every commit, capped by the machine.
CORES = min(4, os.cpu_count() or 1)
HEAP = "2g"
RUN_TIMEOUT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Digest of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += sorted(d.glob("*.properties")) + sorted(d.glob("*.sbt"))
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compile program + benchmark with sbt once per source tree; return the
    runtime classpath.

    sbt compiles into class directories that every source tree shares
    (target/ of the program and of the benchmark), so the stamp of a tree
    never names them: after a build their contents are copied to
    .bench_build/classes-<hash>/ and the stamp names the copies. A tree that
    comes back after another one was built runs its own classes."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit("perfbench: the program's sources (build.sbt, src/main/scala) are missing")
    digest = source_hash()
    stamp = BUILD / f"classpath-{digest}.txt"
    if not stamp.is_file():
        log("building program and benchmark with sbt ...")
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
        if r.returncode != 0:
            sys.exit(f"perfbench: build failed (sbt exit {r.returncode})")
        BUILD.mkdir(exist_ok=True)
        classes = BUILD / f"classes-{digest}"
        shutil.rmtree(classes, ignore_errors=True)
        entries = []
        for i, e in enumerate((BENCH / "target" / "bench-classpath.txt").read_text()
                              .strip().split(os.pathsep)):
            if Path(e).is_dir():
                shutil.copytree(e, classes / str(i))
                e = str(classes / str(i))
            entries.append(e)
        tmp = stamp.with_suffix(".tmp")
        tmp.write_text(os.pathsep.join(entries))
        tmp.replace(stamp)
    return stamp.read_text().strip()


def run(args):
    classpath = build()
    rows = args.rows or ROWS[args.workload]
    work = BUILD / "work" / f"{args.workload}-{os.getpid()}"
    result = work / "result.json"
    trace_file = BUILD / "traces" / f"{args.workload}-seed{args.seed}.json"
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    # a fixed-size heap, so peak RSS does not depend on when the heap grew
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.local.dir={work / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in JDK_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--rows", str(rows), "--cores", str(CORES),
            "--work", str(work / "data"), "--result", str(result),
            "--trace-file", str(trace_file)]
    env = dict(os.environ, SPARK_LOCAL_IP=os.environ.get("SPARK_LOCAL_IP", "127.0.0.1"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: stopped by signal {signum}")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: {args.workload} exceeded {RUN_TIMEOUT_S} s")
    try:
        if code != 0 or not result.is_file():
            sys.exit(f"perfbench: {args.workload} failed (JVM exit {code})")
        out = json.loads(result.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        log(f"trace file: {trace_file.relative_to(ROOT)}")
    print(json.dumps(out), flush=True)


def compare(a_path, b_path):
    """Layer-by-layer diff of two trace files: per-layer metric medians and
    self time per layer, with a move flagged when it exceeds both files'
    own spread (the distance between quartiles of the traced ops)."""
    def load(p):
        t = json.loads(Path(p).read_text())
        per_metric = {}
        for op in t["ops"]:
            if op["traced"]:
                for k, v in op["layers"].items():
                    per_metric.setdefault(k, []).append(v)
        ops = sorted({s["id"].split("/")[0] for s in t["spans"] if s["parent"] == ""})
        for s in t["spans"]:
            if s["layer"] != "op":
                key = f"self.{s['layer']}.s"
                per_metric.setdefault(key, [0.0] * len(ops))
                per_metric[key][ops.index(s["id"].split("/")[0])] += s["self_s"]
        return t["workload"], per_metric

    def quart(xs):
        xs = sorted(xs)
        def at(p):
            x = p * (len(xs) - 1)
            lo = int(x)
            hi = min(lo + 1, len(xs) - 1)
            return xs[lo] + (xs[hi] - xs[lo]) * (x - lo)
        return at(0.25), at(0.5), at(0.75)

    wa, ma = load(a_path)
    wb, mb = load(b_path)
    print(f"{'metric':32} {'A (' + wa + ')':>18} {'B (' + wb + ')':>18} {'B/A':>8}  flag")
    for k in sorted(set(ma) | set(mb)):
        qa, qb = quart(ma.get(k, [0.0])), quart(mb.get(k, [0.0]))
        noise = max(qa[2] - qa[0], qb[2] - qb[0])
        ratio = qb[1] / qa[1] if qa[1] else float("nan")
        flag = "MOVED" if abs(qb[1] - qa[1]) > noise and qa[1] != qb[1] else ""
        print(f"{k:32} {qa[1]:18.6g} {qb[1]:18.6g} {ratio:8.3f}  {flag}")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        if len(sys.argv) != 4:
            sys.exit("usage: run.py compare A.trace.json B.trace.json")
        return compare(sys.argv[2], sys.argv[3])
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(ROWS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rows", type=int, default=0, help="input rows (default: per workload)")
    run(p.parse_args())


if __name__ == "__main__":
    main()
