#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on the sf0.001 dataset.

From the repository root:

    python3 perfbench/smoke.py

For every workload in BENCHMARK.json it runs one untraced and one traced
run and checks that
  - every end-to-end (untraced) and per-layer (traced) metric is emitted,
    as short `workload metric value unit` lines and in the JSON result;
  - the run's outputs were correct;
  - the traced spans nest (each child lies within its parent) and every
    self time is >= 0;
and that the expected-count file covers every key and every seeded
template on every dataset. Exits non-zero on the first failed check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import oracle  # noqa: E402

DATA = "sf0.001"
SEED = 7


def check(cond, msg):
    if not cond:
        print(f"FAIL {msg}", file=sys.stderr)
        sys.exit(1)


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--data", DATA],
        cwd=ROOT, capture_output=True, text=True)
    check(p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}: {p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    short = {}
    for line in lines[:-1]:
        parts = line.split()
        check(len(parts) == 4 and parts[0] == workload, f"bad metric line {line!r}")
        short[parts[1]] = (float(parts[2]), parts[3])
    return result, short


def check_spans(workload):
    path = os.path.join(HERE, "out", f"{workload}_{DATA}_seed{SEED}_trace1.json")
    with open(path) as f:
        spans = {s["id"]: s for s in json.load(f)["spans"]}
    check(spans, f"{workload}: no spans")
    for s in spans.values():
        check(s["self_ms"] >= 0, f"{workload}: span {s['id']} {s['name']} self time {s['self_ms']} < 0")
        check(s["parent"] >= 0 or s["kind"] == "workload",
              f"{workload}: span {s['id']} {s['name']} has no parent")
        if s["parent"] >= 0:
            p = spans[s["parent"]]
            check(p["start_ms"] <= s["start_ms"] and s["end_ms"] <= p["end_ms"],
                  f"{workload}: span {s['id']} {s['name']} outside parent {p['id']} {p['name']}")
    kinds = {s["kind"] for s in spans.values()}
    check({"workload", "pass", "key", "phase", "job", "stage"} <= kinds,
          f"{workload}: span kinds {sorted(kinds)}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        name = w["name"]
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            result, short = run(name, trace)
            check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
                  f"{name} trace={trace}: result {result}")
            for m in bench[group]:
                check(m["name"] in result["metrics"], f"{name} trace={trace}: {m['name']} missing")
                check(result["metrics"][m["name"]]["unit"] == m["unit"], f"{name}: {m['name']} unit")
                check(m["name"] in short, f"{name} trace={trace}: no line for {m['name']}")
            extra = set(result["metrics"]) - {m["name"] for m in bench[group]}
            check(not extra, f"{name} trace={trace}: undeclared metrics {sorted(extra)}")
        check_spans(name)
        print(f"ok {name}")

    with open(os.path.join(HERE, "expected_counts.json")) as f:
        expected = json.load(f)
    oracles = oracle.emit_oracles()
    for data in sorted(os.listdir(os.path.join(HERE, "data"))):
        for group in ("keys", "templates"):
            missing = set(oracles[group]) - set(expected.get(data, {}).get(group, {}))
            check(not missing, f"expected counts for {data} miss {sorted(missing)[:5]}")
    print("ok expected counts")


if __name__ == "__main__":
    main()
