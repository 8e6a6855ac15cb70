#!/usr/bin/env python3
"""Self-test of the benchmark: every workload once, at a third of its
size, in both modes, with one timed call each.

    python3 perfbench/selftest.py

Exits 0 when every check holds; otherwise prints what failed and exits 1.
See README.md for the list of checks.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
KEYS = {"correct", "attempted", "failed", "metrics"}


def run(workload: str, rows: int, trace: int) -> dict:
    cmd = [
        sys.executable, str(HERE / "run.py"), "--workload", workload,
        "--seed", "1", "--seconds", "1", "--trace", str(trace), "--rows", str(rows),
    ]
    proc = subprocess.run(cmd, cwd=HERE.parent, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def problems(workload: str, trace: int, result: dict) -> list[str]:
    out = []
    if set(result) != KEYS:
        out.append(f"result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        out.append(f"correct={result['correct']} failed={result['failed']}")
    metrics = result["metrics"]
    spec = SPEC["per_layer" if trace else "end_to_end"]
    if set(metrics) != {m["name"] for m in spec}:
        out.append(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ {m['name'] for m in spec})}")
    for m in spec:
        got = metrics.get(m["name"], {}).get("unit")
        if got != m["unit"]:
            out.append(f"{m['name']}: unit {got!r}, expected {m['unit']!r}")
    if not trace:
        out += [f"{k} is {v['value']}" for k, v in metrics.items() if not v["value"] > 0]
        return out

    v = {k: m["value"] for k, m in metrics.items()}
    walls = sum(x for k, x in v.items() if k.endswith(".wall_s") and not k.startswith("trace."))
    if abs(walls + v["trace.residual_s"] - v["trace.total_s"]) > 1e-6:
        out.append(f"layer walls {walls} + residual {v['trace.residual_s']} != total {v['trace.total_s']}")
    expect = {
        "minhash.spark_jobs": workload != "job_write_large",
        "catalog.bytes_written": workload == "job_write_large",
        "job.spark_jobs": workload == "job_write_large",
        "banding.minhash.star_buckets": workload == "dup_flood",
        "banding.simhash.star_buckets": workload == "dup_flood",
        "exact.hashed_mb": True,
        "components.iterations": True,
    }
    out += [
        f"{k} = {v[k]}, expected it {'non-zero' if nz else 'zero'}"
        for k, nz in expect.items() if (v[k] > 0) != nz
    ]
    return out


def main() -> int:
    from workloads import WORKLOADS

    failures = []
    for wl in SPEC["workloads"]:
        name = wl["name"]
        rows = WORKLOADS[name].rows // 3
        for trace in (0, 1):
            try:
                found = problems(name, trace, run(name, rows, trace))
            except (RuntimeError, subprocess.TimeoutExpired, ValueError, KeyError, IndexError) as e:
                found = [repr(e)]
            print(f"{name} trace={trace}: {'ok' if not found else 'FAILED'}", flush=True)
            failures += [f"{name} trace={trace}: {p}" for p in found]
    for f in failures:
        print(f)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
