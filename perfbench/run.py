#!/usr/bin/env python3
"""graft's benchmark: one seeded closed-loop workload per invocation.

    python3 perfbench/run.py --workload sql_analytic --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds graft and the harness from
source (perfbench/build.py), generates the seeded inputs
(perfbench/gen.py, cached per seed and size, outside every timing),
runs the workload in its own JVM (perfbench/src), checks the results
against DuckDB (perfbench/check.py) and prints, as the last line of
stdout, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 they are its per-layer ones. The full artifact (host
stamp, percentiles with sample counts, every mismatch) is written to
<build dir>/results/. The build dir is $CARGO_TARGET_DIR, else
.bench_build.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# input sizes: (relational scale factor, documents, embeddings)
SIZES = {
    "sql_analytic": (0.1, 5000, 2000),
    "table_lifecycle": (0.01, 500, 200),
    "llm_pipeline": (0.001, 8000, 8000),
}
HEAP = "2g"
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def pct(xs, p):
    """Percentile p (0-100) by linear interpolation, with the number of
    samples beyond it."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0], 0
    v = statistics.quantiles(s, n=100, method="inclusive")[p - 1]
    return v, sum(1 for x in s if x > v)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, work, data, a):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--ops", str(a.ops),
            "--data", data, "--work", work,
            "--out", out])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                           timeout=JVM_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-8000:])
        raise SystemExit(f"perfbench: harness exited with {r.returncode}")
    with open(out) as fh:
        return json.load(fh)


def verify(a, data, res):
    """(verdict, mismatches, figures, result hashes); a check that cannot
    run is 'unavailable', never a pass."""
    ops = res["ops"] + (res["checked_ops"] if a.trace else [])
    if a.workload != "sql_analytic":
        ops = res["checked_ops"]
    try:
        con = check.connect(data)
    except ImportError as e:
        return ("unavailable", [("check", f"duckdb not importable: {e}")],
                {}, {})
    try:
        bad, figures, hashes = check.CHECKS[a.workload](con, data, ops,
                                                         res["finish"])
    except Exception as e:
        return ("unavailable", [("check", f"check could not run: {e}")],
                {}, {})
    hashes.update({f'{o["name"]}#{o["i"]}': o["hash"]
                   for o in res["checked_ops"] if o.get("hash")})
    return ("pass" if not bad else "fail"), bad, figures, hashes


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--ops", type=int, default=0,
                   help="run exactly this many ops instead of --seconds")
    a = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bdir = os.path.abspath(os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    os.makedirs(bdir, exist_ok=True)
    clock = [time.time()]

    def lap():
        clock.append(time.time())
        return clock[-1] - clock[-2]
    classes = build.build(bdir)
    build_s = lap()
    sf, docs, embs = SIZES[a.workload]
    data = gen.ensure(os.path.join(
        bdir, "data", f"sf{sf:g}-d{docs}-e{embs}-s{a.seed}"),
        a.seed, sf, docs, embs)
    gen_s = lap()
    work = os.path.join(bdir, "work", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(classes, work, data, a)
    jvm_s = lap()
    verdict, bad, figures, hashes = verify(a, data, res)
    check_s = lap()

    ops = res["ops"]
    attempted_ops = ops + (res["checked_ops"] if a.trace else [])
    # a mismatch names an op (name#i) or every op of a name (a statement,
    # a stage); the others (final contents, check unavailable) fail the
    # verdict without being ops
    wrong = {n for n, _ in bad}

    def is_bad(o):
        return not o["ok"] or o["name"] in wrong or \
            f'{o["name"]}#{o["i"]}' in wrong
    bad = [(f'{o["name"]}#{o["i"]}', o["error"])
           for o in attempted_ops if not o["ok"]] + bad
    attempted = len(attempted_ops)
    failed = sum(1 for o in attempted_ops if is_bad(o))
    ok_ms = [o["ms"] for o in ops if o["ok"]]
    verified = sum(1 for o in ops if not is_bad(o))
    e2e = {"setup_s": (res["setup_s"], "s"),
           "ops_per_s": (verified / res["wall_s"], "ops/s")}
    beyond90 = None
    if ok_ms:
        p50, _ = pct(ok_ms, 50)
        p90, beyond90 = pct(ok_ms, 90)
        e2e.update({
            "latency_geomean_ms": (statistics.geometric_mean(ok_ms), "ms"),
            "latency_p50_ms": (p50, "ms"),
            "latency_p90_ms": (p90, "ms")})
    if verdict == "pass" and (failed or not ok_ms):
        verdict = "fail"

    def split(kind):
        ms = [o["ms"] for o in ops if o["ok"] and o["kind"] == kind]
        return ms and (pct(ms, 50)[0], pct(ms, 90)[0])
    layers = dict(res["layers"], **figures)
    layers["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    layers["jvm.heap_live_mb"] = res["heap_live_mb"]
    reads, writes = split("read"), split("write")
    if a.workload == "table_lifecycle" and reads and writes:
        layers.update({"workload.read_p50_ms": reads[0],
                       "workload.read_p90_ms": reads[1],
                       "workload.write_p50_ms": writes[0],
                       "workload.write_p90_ms": writes[1]})
    if a.workload == "llm_pipeline":
        n_stages = len(res["finish"]["stages"])
        layers["workload.docs_per_s"] = (
            res["finish"]["docs"] * (verified / n_stages) / res["wall_s"])

    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": units[n]}
                   for n in names}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]][0]),
                               "unit": m["unit"]}
                   for m in spec["end_to_end"] if m["name"] in e2e}
    result = {"correct": verdict == "pass", "attempted": attempted,
              "failed": failed, "metrics": metrics}

    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "clients": 1,
        "inputs": {"sf": sf, "documents": docs, "embeddings": embs},
        "host": dict(res["host"], git_commit=git_commit(),
                     source_sha256=open(os.path.join(
                         classes, ".source-sha256")).read()),
        "verdict": verdict, "mismatches": bad,
        "wall_s": {"build": build_s, "generate": gen_s, "jvm": jvm_s,
                   "check": check_s},
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "memory_mb": {"peak_rss": res["peak_rss_mb"],
                      "heap_live": res["heap_live_mb"]},
        "samples": {"ops": len(ok_ms), "p90_beyond": beyond90},
        "latency_ms_by_op": {f'{o["name"]}#{o["i"]}': o["ms"] for o in ops},
        "result_hashes": hashes,
        "per_layer": layers,
        "result": result,
    }
    rdir = os.path.join(bdir, "results")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, f"{a.workload}-s{a.seed}-t{a.trace}.json"),
              "w") as fh:
        json.dump(artifact, fh, indent=1)
    if a.trace:
        shutil.copyfile(os.path.join(work, "spans.tsv"), os.path.join(
            rdir, f"{a.workload}-s{a.seed}-t1-spans.tsv"))
    shutil.rmtree(work, ignore_errors=True)

    print(f"# {a.workload} seed={a.seed} nproc={res['host']['nproc']} "
          f"verdict={verdict} ops={len(ok_ms)} p90_beyond={beyond90}")
    for name, why in bad[:20]:
        print(f"# mismatch {name}: {why}")
    for k, (v, u) in e2e.items():
        print(f"# {k} = {v:.4f} {u}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
