#!/usr/bin/env python3
"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

From the repository root, runs every workload of BENCHMARK.json once
untraced and once traced, on the smallest inputs (``--small``: sf 0.001
tables, a few SPEC scans) with a one-second loop, and asserts that:

- the last stdout line is the result object, with ``correct`` true and
  no failed op (an error rate of 0);
- the untraced run emits exactly the end-to-end metrics of
  BENCHMARK.json, each with its unit, and the traced run exactly the
  per-layer metrics;
- every span in the traced output has a parent that resolves to an
  enclosing span of the same op (or is a root op/oracle span);
- for every cold query op, build + plan + action account for its wall
  within 10%.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--small"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise AssertionError(f"{workload} trace={trace}: exit {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_result(res: dict, want: dict, label: str) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, label
    assert res["correct"] is True and res["failed"] == 0, f"{label}: {res}"
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, label
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"{label}: metrics/units differ: {sorted(set(got) ^ set(want))}"
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{label}: {k}"


def check_trace(path: str) -> None:
    with open(path) as fh:
        detail = json.load(fh)
    for op in detail["ops"]:
        if op["kind"] == "cold":
            assert 0.9 <= op["accounted"] <= 1.1, f"cold op {op['name']}: {op['accounted']}"
    spans = {s["id"]: s for s in detail["spans"]}
    assert spans, path
    for s in spans.values():
        assert s["end"] is not None and s["end"] >= s["start"], s
        p = s["parent"]
        if p is None:
            assert s["name"] in ("op", "oracle"), f"orphan span {s}"
            continue
        assert p in spans, f"span {s['id']} has unknown parent {p}"
        parent = spans[p]
        assert parent["op"] == s["op"], f"span {s['id']} crosses ops"
        eps = 1e-3
        assert parent["start"] - eps <= s["start"] and s["end"] <= parent["end"] + eps, (
            f"span {s['id']} ({s['name']}) outside its parent {p} ({parent['name']})")


def main() -> int:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for w in bench["workloads"]:
        name = w["name"]
        check_result(run(name, 0), e2e, f"{name} untraced")
        check_result(run(name, 1), layers, f"{name} traced")
        check_trace(os.path.join(".bench_out", f"trace-{name}-7.json"))
        print(f"selftest {name}: ok", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
