#!/usr/bin/env python3
"""graft registry benchmark.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds graft and the benchmark from source (perfbench/build.py), runs the
workload's queries in a fresh JVM at local[nproc] over the generated sf0.1
tables, checks every result hash, and prints as its last stdout line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones
from a traced run of the same passes. Workloads, query lists and expected
hashes live in perfbench/workloads.json.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import layers  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_LIMIT_S = 175      # a run must end within 180 s
BUILD_RUN_LIMIT_S = 880  # the run that builds may take 900 s

UNITS = {"_s": "s", "_mb": "MB", "_frac": "ratio", "_ratio": "ratio", "overhead": "ratio"}


def unit_of(name):
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def du(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def check(raw, expected):
    """Marks each execution failed when it threw, its hash differs from the
    expected one, or its query returned different hashes across passes.
    Returns (failed count, {query: reason})."""
    seen = {}
    for e in raw["execs"]:
        seen.setdefault(e["query"], set()).add(e["hash"])
    problems = {}
    failed = 0
    for e in raw["execs"]:
        q = e["query"]
        reason = None
        if e["error"]:
            reason = "error: " + e["error"]
        elif len(seen[q]) > 1:
            reason = f"unstable: {len(seen[q])} distinct hashes across passes"
        elif q not in expected:
            reason = "no expected hash"
        elif e["hash"] != expected[q]["hash"]:
            reason = f"hash {e['hash'][:12]} != expected {expected[q]['hash'][:12]}"
        if reason:
            failed += 1
            problems.setdefault(q, reason)
    return failed, problems


def query_seconds(raw):
    """Per query: its cold-pass seconds and the median of its warm ones."""
    kind = {p["id"]: p["kind"] for p in raw["passes"]}
    out = {}
    for e in raw["execs"]:
        q = out.setdefault(e["query"], {"cold": 0.0, "warm": []})
        s = (e["end"] - e["start"]) / 1e3
        if kind[e["pass"]] == "cold":
            q["cold"] += s
        else:
            q["warm"].append(s)
    for q in out.values():
        q["warm"] = statistics.median(q["warm"]) if q["warm"] else None
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    workloads = load_workloads()
    if args.workload not in workloads["workloads"]:
        sys.exit(f"unknown workload {args.workload}; have {sorted(workloads['workloads'])}")
    wl = workloads["workloads"][args.workload]

    had_build = os.path.isdir(build.build_dir())
    try:
        classes, data = build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    limit = RUN_LIMIT_S if had_build and time.monotonic() - t_start < 30 else BUILD_RUN_LIMIT_S

    run_dir = os.path.join(build.build_dir(), f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, artifacts = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "artifacts")
    os.makedirs(tmp)
    os.makedirs(artifacts)
    raw_path = os.path.join(run_dir, "raw.json")
    log_path = os.path.join(run_dir, "jvm.log")
    cmd = (["java"] + build.jvm_options(tmp) +
           ["-cp", build.classpath(classes), "perfbench.Runner",
            "--data", data, "--out", raw_path, "--queries", ",".join(wl["queries"]),
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, GRAFT_ARTIFACT_DIR=artifacts)
    try:
        with open(log_path, "w") as log:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                cwd=build.ROOT,
                                timeout=max(30, limit - (time.monotonic() - t_start))).returncode
    except subprocess.TimeoutExpired:
        rc = "timeout"
    if rc != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(f"benchmark JVM failed ({rc})")
    with open(raw_path) as f:
        raw = json.load(f)
    artifact_bytes = du(artifacts)
    shutil.rmtree(run_dir, ignore_errors=True)

    failed, problems = check(raw, wl["expected"])
    attempted = len(raw["execs"])
    try:
        if args.trace:
            metrics, spans = layers.per_layer(raw, artifact_bytes)
            metrics["failed_frac"] = failed / attempted
        else:
            metrics = layers.end_to_end(raw, artifact_bytes)
            metrics["ok_frac"] = 1 - failed / attempted
            spans = None
    except layers.MetricError as e:
        sys.exit(f"metrics: {e}")

    # the run record: seed, the permutation of every pass, hashes, metrics
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": [{"kind": p["kind"], "traced": p["traced"],
                    "seconds": (p["end"] - p["start"]) / 1e3, "order": p["order"]}
                   for p in raw["passes"]],
        "setup_s": raw["setup_s"],
        "query_s": query_seconds(raw),
        "hashes": {e["query"]: {"hash": e["hash"], "rows": e["rows"]} for e in raw["execs"]},
        "problems": problems, "metrics": metrics,
    }
    out_dir = os.path.join(build.build_dir(), "records")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if spans is not None:
        with open(stem + ".spans.json", "w") as f:
            json.dump(spans, f)

    warm = [p for p in raw["passes"] if p["kind"] == "warm"]
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "warm_permutations": [p["order"] for p in warm],
                      "warm_samples": len(warm) * len(wl["queries"]),
                      "record": os.path.relpath(stem + ".json")}))
    for q, why in sorted(problems.items()):
        print(f"FAIL {q}: {why}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
