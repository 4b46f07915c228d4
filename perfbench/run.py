#!/usr/bin/env python3
"""graft closed-loop benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run compiles the
program (src/main/scala) and the harness (perfbench/scala) into
.bench_build/; later runs reuse that build while the sources are
unchanged. The harness JVM writes its raw result to a work directory
under .bench_build/, which is removed afterwards. The last line of
stdout is one JSON object: correct, attempted, failed, metrics.

Workloads: eca_rules, warehouse_ingest, eca_replay (see perfbench/README.md). Extra flags, for runs by hand:
--scale tiny (smoke sizes), --cores N (Spark local[N]).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("eca_rules", "warehouse_ingest", "eca_replay")
JVM_TIMEOUT_S = 170


def heap_size():
    """Tier-1's SPARK_DRIVER_MEM formula: half of RAM in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def tables(root, scale):
    """The warehouse tables, written once per checkout and scale: the corpus
    is drawn from a constant (gen.CORPUS_SEED), so every run reads the same
    bytes, and oracle.py caches its answers beside them."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(root, build.BUILD_DIR, f"tables-{scale}-{key}")
    if not os.path.isdir(d):
        tmp = f"{d}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_tables(tmp, gen.CORPUS_SEED, scale)
        os.rename(tmp, d)
    return d


def cpu_times():
    """The machine's CPU time counters (/proc/stat's first line), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave other guests between two
    readings (the "st" column of vmstat), for the run's log."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def gate_check(scale, work):
    """Compare each trigger's verdicts with the ones pinned for this scale in
    gate_verdicts.json (the corpus and the held-out stream do not depend on
    the seed, so neither do the verdicts). Returns the check's verdict and
    how many timed triggers differ."""
    with open(os.path.join(HERE, "gate_verdicts.json")) as f:
        pinned = json.load(f).get(scale, {})
    with open(os.path.join(work, "gate_verdicts.json")) as f:
        got = json.load(f)
    timed = {str(k) for k in got["timed"]}
    differ = [k for k, v in got["triggers"].items() if k in pinned and pinned[k] != v]
    for k in differ:
        print(f"trigger {k} verdicts {got['triggers'][k]} != pinned {pinned[k]}",
              file=sys.stderr)
    compared = [k for k in got["triggers"] if k in pinned]
    if differ or not compared:
        verdict = f"{len(differ)} of {len(compared)} pinned triggers differ"
        if not compared:
            print(f"no pinned verdicts for {scale}: {json.dumps(got['triggers'])}",
                  file=sys.stderr)
    else:
        verdict = "ok"
    return verdict, len(timed.intersection(differ))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="full", choices=("full", "tiny"))
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))  # nproc
    a = ap.parse_args()

    root = os.getcwd()
    classpath = build.ensure(root)  # exits non-zero when sources are missing
    work = os.path.join(root, build.BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data = ""
        if a.workload == "warehouse_ingest":
            data = tables(root, a.scale)
        out = os.path.join(work, "result.json")
        mem = heap_size()
        cmd = (["java", f"-Xms{mem}", f"-Xmx{mem}", "-Xss8m", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={work}/tmp"] + build.ADD_OPENS +
               ["-cp", classpath, "graftbench.Main",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", data, "--work", work, "--out", out,
                "--cores", str(a.cores), "--scale", a.scale])
        cpu0 = cpu_times()
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("harness JVM timed out")
        if rc != 0 or not os.path.exists(out):
            sys.exit(f"harness JVM failed (exit {rc})")
        st = steal_share(cpu0, cpu_times())
        if st is not None:
            print(f"cpu steal during the harness JVM: {st:.1%}", file=sys.stderr)
        with open(out) as f:
            res = json.load(f)
        checks = dict(res.get("checks", {}))
        failed = int(res["failed"])
        if a.workload == "warehouse_ingest":
            t0 = time.time()
            bad = oracle.check(data, os.path.join(work, "outputs"), checks)
            print(f"oracle check {time.time() - t0:.1f} s", file=sys.stderr)
            # a query whose result disagrees with the oracle fails every
            # timed request that ran it
            with open(os.path.join(work, "requests_by_query.json")) as f:
                per_query = json.load(f)
            failed = min(int(res["attempted"]),
                         failed + sum(per_query.get(q, 0) for q in bad))
            checks["gate_pinned"], differ = gate_check(a.scale, work)
            failed = min(int(res["attempted"]), failed + differ)
        correct = failed == 0 and all(v in ("ok", "yes") for v in checks.values())
        metrics = res["metrics"]
        kind = "per_layer" if a.trace else "end_to_end"
        listed = build.metrics(root, kind)
        missing = [m["name"] for m in listed if m["name"] not in metrics]
        if kind == "end_to_end" and missing:
            sys.exit(f"metrics missing from the harness result: {missing}")
        # a layer this workload never calls into reads 0
        metrics = {m["name"]: metrics.get(m["name"], {"value": 0, "unit": m["unit"]})
                   for m in listed}
        print(json.dumps({"checks": checks}), file=sys.stderr)
        print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
