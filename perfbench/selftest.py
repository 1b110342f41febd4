#!/usr/bin/env python3
"""Deterministic-count self-test of the benchmark.

Runs each workload twice, traced, at one seed with a fixed op count, and
fails unless the counts that depend only on the seed repeat exactly:
write and space amplification, jobs and Catalyst queries per op, the
pruning ratio, and the hash of every op's result. Run from the
repository root:

    python3 perfbench/selftest.py [--seed 7]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# ops per run: one full unit of each workload's loop
OPS = {"table_lifecycle": 16, "llm_pipeline": 8, "sql_analytic": 24}
EXACT = ["snapshot.write_amp", "snapshot.space_amp", "exec.jobs_per_op",
         "catalyst.queries_per_op", "sources.files_kept_ratio"]


def once(workload, seed):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--trace", "1",
           "--ops", str(OPS[workload])]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        raise SystemExit(f"selftest: {workload} run failed:\n{r.stdout}")
    bdir = os.path.abspath(os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    with open(os.path.join(bdir, "results",
                           f"{workload}-s{seed}-t1.json")) as fh:
        return json.load(fh)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=7)
    a = p.parse_args()
    failures = []
    for w in sorted(OPS):
        before = len(failures)
        first, second = once(w, a.seed), once(w, a.seed)
        for k in EXACT:
            x, y = first["per_layer"].get(k), second["per_layer"].get(k)
            if x != y:
                failures.append(f"{w}: {k} {x} != {y}")
        h1, h2 = first["result_hashes"], second["result_hashes"]
        for k in sorted(set(h1) | set(h2)):
            if h1.get(k) != h2.get(k):
                failures.append(f"{w}: result of {k} differs")
        if not h1:
            failures.append(f"{w}: no result hashes")
        print(f"{w}: {len(h1)} result hashes, "
              f"{'ok' if len(failures) == before else 'MISMATCH'}")
    for f in failures:
        print(f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
