#!/usr/bin/env python3
"""The benchmark's own test: every workload at about 10k rows, plain and
traced. Asserts the result line's shape, that every metric BENCHMARK.json
names prints with its unit, that every op passed its checks, and that
`compare` reads the trace files. Run from the repository root:

    python3 perfbench/smoke_test.py
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN = ["python3", str(ROOT / "perfbench" / "run.py")]
# about 10k rows; the stream needs a multiple of 4 x its 12 files
WORKLOADS = {"batch_cold": 10_000, "batch_warm": 10_000, "stream_drain": 9_600}
SEED = 7


def run(workload, rows, trace):
    cmd = RUN + ["--workload", workload, "--seed", str(SEED), "--seconds", "1",
                 "--trace", str(trace), "--rows", str(rows)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, f"{workload} trace={trace} exit {p.returncode}:\n{p.stderr[-3000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def check(result, expected, label):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, label
    assert result["correct"] is True, f"{label}: checks failed: {result}"
    assert result["failed"] == 0 and result["attempted"] >= 1, label
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    assert got == expected, f"{label}: metrics/units differ: {set(got) ^ set(expected)}"
    for n, m in result["metrics"].items():
        assert set(m) == {"value", "unit"}, f"{label}: {n}"
        assert isinstance(m["value"], (int, float)), f"{label}: {n}"


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    traces = []
    for w, rows in WORKLOADS.items():
        r = run(w, rows, 0)
        check(r, e2e, f"{w} trace=0")
        assert r["metrics"]["ok_frac"]["value"] == 1.0
        check(run(w, rows, 1), layers, f"{w} trace=1")
        traces.append(ROOT / ".bench_build" / "traces" / f"{w}-seed{SEED}.json")
        print(f"ok {w}", flush=True)
    for t in traces:
        p = subprocess.run(RUN + ["compare", str(t), str(t)], cwd=ROOT,
                           capture_output=True, text=True, timeout=60)
        assert p.returncode == 0 and "MOVED" not in p.stdout, p.stdout + p.stderr
    print("smoke test passed")


if __name__ == "__main__":
    sys.exit(main())
