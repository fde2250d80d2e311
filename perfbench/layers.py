"""Metric arithmetic of the benchmark: percentiles, interval unions, span
trees and self time, and the end-to-end and per-layer metrics computed from
one raw run record (the JSON `perfbench.Runner` writes).

Times in a raw record are epoch milliseconds; metrics are in seconds, MB
(2^20 bytes) or counts.
"""
import bisect
import collections
import math
import statistics

MB = 1 << 20
STAGE_FIELDS = ("tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write", "shuffle_read",
                "fetch_wait_ms", "spill_disk", "spill_mem", "input")


class MetricError(Exception):
    pass


def percentile(samples, p, min_above=10):
    """Linear-interpolated p-quantile (0 < p < 1) of `samples`.

    Refuses to answer unless at least `min_above` samples lie above the
    interpolation point, so a p90 never rests on a handful of values.
    """
    xs = sorted(samples)
    if not xs:
        raise MetricError("no samples")
    pos = p * (len(xs) - 1)
    lo = math.floor(pos)
    above = len(xs) - 1 - lo
    if above < min_above:
        raise MetricError(f"p{round(p * 100)} of {len(xs)} samples has {above} above it, "
                          f"needs {min_above}")
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(start, end, jobs):
    """Query wall time not covered by any of its jobs (jobs clipped to it)."""
    clipped = [(max(s, start), min(e, end)) for s, e in jobs]
    return (end - start) - union_length(clipped)


def self_times(spans, root):
    """Self time of every span in the tree under `root`.

    `spans` maps id -> {"parent", "start", "end"}. Children are clipped to
    their parent. A span's self time is the part of its wall time that no
    child covers; where several children run at once they split the shared
    wall time equally, so the self times of a tree sum exactly to the
    root's duration.
    """
    children = {}
    for sid, s in spans.items():
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(sid)
    out = {}

    def assign(sid, lo, hi, pieces):
        # pieces: [(a, b, weight)] covering [lo, hi] in order
        kids = []
        for c in children.get(sid, []):
            a, b = max(spans[c]["start"], lo), min(spans[c]["end"], hi)
            if b > a:
                kids.append((c, a, b))
        cuts = sorted({p for c, a, b in kids for p in (a, b)} |
                      {p for a, b, _ in pieces for p in (a, b)})
        own = 0.0
        got = {c: [] for c, _, _ in kids}
        k = 0
        for x, y in zip(cuts, cuts[1:]):
            while pieces[k][1] <= x:
                k += 1
            w = pieces[k][2]
            active = [c for c, a, b in kids if a <= x and b >= y]
            if active:
                for c in active:
                    got[c].append((x, y, w / len(active)))
            else:
                own += w * (y - x)
        out[sid] = own
        for c, a, b in kids:
            assign(c, a, b, got[c])

    s = spans[root]
    if s["end"] > s["start"]:
        assign(root, s["start"], s["end"], [(s["start"], s["end"], 1.0)])
    else:
        out[root] = 0.0
    for sid in spans:
        out.setdefault(sid, 0.0)
    return out


def pass_median(per_pass):
    return statistics.median(per_pass) if per_pass else 0.0


def end_to_end(raw, artifact_bytes):
    """Metrics a user sees, from an untraced run record."""
    passes = raw["passes"]
    execs = raw["execs"]
    cold = [p for p in passes if p["kind"] == "cold"]
    warm = [p for p in passes if p["kind"] == "warm"]
    warm_ids = {p["id"] for p in warm}
    lat = [(e["end"] - e["start"]) / 1e3 for e in execs if e["pass"] in warm_ids]
    return {
        "setup_s": raw["setup_s"],
        "cold_pass_s": sum((p["end"] - p["start"]) / 1e3 for p in cold),
        "warm_pass_s": statistics.median((p["end"] - p["start"]) / 1e3 for p in warm),
        "query_p50_s": percentile(lat, 0.5),
        "query_p90_s": percentile(lat, 0.9),
        "cached_peak_mb": max(e["cached_bytes"] for e in execs) / MB,
        "artifact_mb": artifact_bytes / MB,
    }


def spans_of(raw):
    """Named span tree of a traced run record.

    Levels: pass > query > call / plan / execute > job > stage. Each span is
    {"id", "name", "kind", "start", "end", "parent", "query"}; `query` is the
    id of the query span above it. Jobs hang under the phase their start
    falls in; a stage hangs under the job that lists it.
    """
    spans = []
    for p in raw["passes"]:
        spans.append({"id": f"p{p['id']}", "name": f"{p['kind']}:{p['id']}", "kind": "pass",
                      "start": p["start"], "end": p["end"], "parent": None, "query": None})
    for i, e in enumerate(raw["execs"]):
        qid = f"q{i}"
        spans.append({"id": qid, "name": e["query"], "kind": "query", "start": e["start"],
                      "end": e["end"], "parent": f"p{e['pass']}", "query": qid})
        for kind, a, b in (("call", e["start"], e["call_end"]),
                           ("plan", e["call_end"], e["plan_end"]),
                           ("execute", e["plan_end"], e["end"])):
            spans.append({"id": f"{qid}.{kind}", "name": kind, "kind": kind, "start": a,
                          "end": b, "parent": qid, "query": qid})
    owner = owner_of(raw["execs"])
    stage_job = {}
    for j in raw.get("jobs", []):
        i = owner(j["start"])
        if i is None:
            continue
        e = raw["execs"][i]
        phase = ("call" if j["start"] < e["call_end"] else
                 "plan" if j["start"] < e["plan_end"] else "execute")
        end = j["end"] if j["end"] >= 0 else e["end"]
        spans.append({"id": f"j{j['id']}", "name": f"job {j['id']}", "kind": "job",
                      "start": j["start"], "end": end, "parent": f"q{i}.{phase}",
                      "query": f"q{i}"})
        for sid in j["stages"]:
            stage_job.setdefault(sid, (j["id"], f"q{i}"))
    for s in raw.get("stages", []):
        if s["id"] in stage_job and s["start"] >= 0 and s["end"] >= 0:
            job, q = stage_job[s["id"]]
            spans.append({"id": f"s{s['id']}", "name": f"stage {s['id']}", "kind": "stage",
                          "start": s["start"], "end": s["end"], "parent": f"j{job}",
                          "query": q})
    return spans, stage_job


def owner_of(execs):
    """Maps an epoch-ms time to the index of the query execution whose wall
    interval holds it (None outside every query). The load is a closed
    loop, so at most one query is running at any time.
    """
    order = sorted(range(len(execs)), key=lambda i: execs[i]["start"])
    starts = [execs[i]["start"] for i in order]

    def owner(t):
        k = bisect.bisect_right(starts, t) - 1
        if k < 0 or t > execs[order[k]]["end"]:
            return None
        return order[k]
    return owner


def per_layer(raw, artifact_bytes):
    """Layer metrics from a traced run record. Every module the runner
    knows gets a `registry.<module>.warm_s` metric (0 where unused)."""
    execs = raw["execs"]
    passes = {p["id"]: p for p in raw["passes"]}
    cold = [p["id"] for p in raw["passes"] if p["kind"] == "cold"]
    traced = [p["id"] for p in raw["passes"] if p["kind"] == "warm" and p["traced"]]
    plain = [p["id"] for p in raw["passes"] if p["kind"] == "warm" and not p["traced"]]
    spans, stage_job = spans_of(raw)
    by_id = {s["id"]: s for s in spans}

    # per-execution sums of the listener records attributed to it
    owner = owner_of(execs)
    acc = [collections.Counter() for _ in execs]
    job_iv = [[] for _ in execs]
    for s in spans:
        if s["kind"] == "job":
            i = int(s["query"][1:])
            acc[i]["jobs"] += 1
            job_iv[i].append((s["start"], s["end"]))
    for st in raw.get("stages", []):
        if st["id"] in stage_job:
            a = acc[int(stage_job[st["id"]][1][1:])]
            a["stages"] += 1
            a.update({k: st[k] for k in STAGE_FIELDS})
    for ph in raw.get("phases", []):
        i = owner(ph["start"])
        if i is not None:
            acc[i].update({k: ph[k] for k in ("analysis_ms", "optimization_ms", "planning_ms")})
    for b in raw.get("batches", []):
        i = owner(b["start"])
        if i is not None:
            acc[i].update(batches=1, batch_ms=b["ms"])

    # self time per query tree
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    self_t = {}
    worst = 0.0
    for i, e in enumerate(execs):
        qid = f"q{i}"
        tree = {sid: by_id[sid] for sid in _subtree(kids, qid)}
        st = self_times(tree, qid)
        self_t.update(st)
        worst = max(worst, abs(sum(st.values()) - (e["end"] - e["start"])))

    def per_pass(ids, f):
        """Median over passes `ids` of the per-pass sum of f(exec index)."""
        vals = []
        for pid in ids:
            vals.append(sum(f(i) for i, e in enumerate(execs) if e["pass"] == pid))
        return pass_median(vals)

    def wall(i):
        return (execs[i]["end"] - execs[i]["start"]) / 1e3

    def call(i):
        return (execs[i]["call_end"] - execs[i]["start"]) / 1e3

    warm_execs = [i for i, e in enumerate(execs) if e["pass"] in traced]
    n_warm = max(1, len(warm_execs))
    self_by_exec = {}
    for s in spans:
        if s["query"] is not None:
            i = int(s["query"][1:])
            self_by_exec.setdefault((i, s["kind"]), 0.0)
            self_by_exec[(i, s["kind"])] += self_t.get(s["id"], 0.0)

    def pass_wall(ids):
        return pass_median([(passes[p]["end"] - passes[p]["start"]) / 1e3 for p in ids])

    run_s = per_pass(traced, lambda i: acc[i]["run_ms"] / 1e3)
    cpu_s = per_pass(traced, lambda i: acc[i]["cpu_ns"] / 1e9)
    m = {
        "sessions.create_s": raw["create_s"],
        "registry.call_s": per_pass(cold, call),
        "registry.call_warm_s": per_pass(traced, call),
    }
    m["caches.build_s"] = m["registry.call_s"] - m["registry.call_warm_s"]
    m["caches.cached_mb"] = max(e["cached_bytes"] for e in execs) / MB
    m["caches.cached_blocks"] = max(e["cached_blocks"] for e in execs)
    m["caches.artifact_mb"] = artifact_bytes / MB
    for mod in raw["module_names"]:
        m[f"registry.{mod}.warm_s"] = per_pass(
            traced, lambda i, mod=mod: wall(i) if raw["modules"][execs[i]["query"]] == mod else 0)
    m.update({
        "catalyst.plan_s": per_pass(traced, lambda i: (execs[i]["plan_end"] - execs[i]["call_end"]) / 1e3),
        "catalyst.analysis_s": per_pass(traced, lambda i: acc[i]["analysis_ms"] / 1e3),
        "catalyst.optimization_s": per_pass(traced, lambda i: acc[i]["optimization_ms"] / 1e3),
        "catalyst.planning_s": per_pass(traced, lambda i: acc[i]["planning_ms"] / 1e3),
        "codegen.compiles": per_pass(traced, lambda i: execs[i]["compiles"]),
        "codegen.compile_s": per_pass(traced, lambda i: execs[i]["compile_ns"] / 1e9),
        "codegen.cold_compiles": per_pass(cold, lambda i: execs[i]["compiles"]),
        "codegen.cold_compile_s": per_pass(cold, lambda i: execs[i]["compile_ns"] / 1e9),
        "scheduler.jobs": sum(acc[i]["jobs"] for i in warm_execs) / n_warm,
        "scheduler.stages": sum(acc[i]["stages"] for i in warm_execs) / n_warm,
        "scheduler.tasks": sum(acc[i]["tasks"] for i in warm_execs) / n_warm,
        "scheduler.driver_gap_s": per_pass(traced, lambda i: driver_gap(
            execs[i]["start"], execs[i]["end"], job_iv[i]) / 1e3),
        "streaming.batches": per_pass(traced, lambda i: acc[i]["batches"]),
        "streaming.batch_s": per_pass(traced, lambda i: acc[i]["batch_ms"] / 1e3),
        "executor.run_s": run_s,
        "executor.cpu_s": cpu_s,
        "executor.gc_s": per_pass(traced, lambda i: acc[i]["gc_ms"] / 1e3),
        "executor.cpu_ratio": cpu_s / run_s if run_s > 0 else 0.0,
        "shuffle.write_mb": per_pass(traced, lambda i: acc[i]["shuffle_write"] / MB),
        "shuffle.read_mb": per_pass(traced, lambda i: acc[i]["shuffle_read"] / MB),
        "shuffle.fetch_wait_s": per_pass(traced, lambda i: acc[i]["fetch_wait_ms"] / 1e3),
        "spill.disk_mb": per_pass(traced, lambda i: acc[i]["spill_disk"] / MB),
        "spill.mem_mb": per_pass(traced, lambda i: acc[i]["spill_mem"] / MB),
        "tables.input_mb": per_pass(traced, lambda i: acc[i]["input"] / MB),
        "result.rows": per_pass(traced, lambda i: execs[i]["rows"]),
    })
    for kind in ("call", "plan", "execute", "job", "stage"):
        m[f"span.{kind}.self_s"] = per_pass(
            traced, lambda i, kind=kind: self_by_exec.get((i, kind), 0.0) / 1e3)
    m["span.self_err_s"] = worst / 1e3
    m["trace.overhead"] = pass_wall(traced) / pass_wall(plain) if plain else 0.0
    return m, spans


def _subtree(kids, root):
    out, todo = [], [root]
    while todo:
        x = todo.pop()
        out.append(x)
        todo.extend(kids.get(x, []))
    return out
