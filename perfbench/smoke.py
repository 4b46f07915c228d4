#!/usr/bin/env python3
"""The benchmark's own smoke test, at tiny sizes.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json plus eca_replay at --scale tiny,
untraced and traced, from the checkout root, and asserts that:
  - each run exits 0 and prints the result object last, correct, with
    attempted >= 1 and failed == 0;
  - every end-to-end metric (untraced) and every per-layer metric (traced)
    is printed with the unit BENCHMARK.json gives it;
  - the output checks ran and passed, including, on eca_rules, the
    reference evaluator agreeing with the engine on a fixture that
    spawns, churns and emits periodic windows (its coverage check fails
    when any of those never happened);
  - warehouse_ingest's gate verdicts equal the ones pinned in
    perfbench/gate_verdicts.json, and its query results, from the first
    pass and from the pass after the timed ones, equal the oracle's.
Exits non-zero on the first failure. Takes a few minutes.
"""
import json
import os
import subprocess
import sys

ROOT = os.getcwd()


def run(workload, trace, seed=7):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "2", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        sys.exit(f"FAIL {workload} trace={trace}: exit {p.returncode}")
    checks = {}
    for line in p.stderr.splitlines():
        if line.startswith('{"checks"'):
            checks = json.loads(line)["checks"]
    return json.loads(p.stdout.strip().splitlines()[-1]), checks


def expect(cond, what):
    if not cond:
        sys.exit(f"FAIL {what}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]] + ["eca_replay"]
    for w in workloads:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            res, checks = run(w, trace)
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{w}: result keys {sorted(res)}")
            expect(res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{w} trace={trace}: correct={res['correct']} failed={res['failed']}")
            expect(checks and all(v in ("ok", "yes") for v in checks.values()),
                   f"{w} trace={trace}: checks {checks}")
            for m in bench[kind]:
                got = res["metrics"].get(m["name"])
                expect(got is not None, f"{w}: metric {m['name']} missing")
                expect(got["unit"] == m["unit"],
                       f"{w}: {m['name']} unit {got['unit']} != {m['unit']}")
                expect(isinstance(got["value"], (int, float)), f"{w}: {m['name']} value")
            if w.startswith("eca"):
                expect("eca_coverage" in checks, f"{w}: no coverage check")
            if w == "warehouse_ingest":
                expect("gate_pinned" in checks and any(k.startswith("oracle.") for k in checks),
                       f"{w}: no gate or oracle check")
            print(f"ok   {w} trace={trace} ({len(res['metrics'])} metrics, "
                  f"{res['attempted']} requests, checks: {', '.join(sorted(checks))})")


if __name__ == "__main__":
    main()
