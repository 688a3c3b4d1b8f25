"""Per-layer metrics of a traced run, and the span file it leaves.

Layers are this repository's modules: `tables` (graft.Tables / Catalog),
`ops` (the work a query function or Graft call does before it returns),
`plans` (Catalyst planning of the QueryExecution that then runs), `exec`
(the action's jobs, stages and tasks), `sources` (the output path) and
`api` (graft.api.Graft, per call). Every figure is a per-pass total over
the timed passes, reported as the median over passes.
"""
import json
import statistics
import sys

API_FNS = ("dedupClusters", "tfidf", "knnCosine")

UNITS = {
    "tables.register_ms": "ms",
    "ops.build_ms": "ms", "ops.build_jobs": "count",
    "ops.pin_reuse": "ratio", "ops.pin_base": "count",
    "plans.plan_ms": "ms", "plans.exchanges": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.ms_per_job": "ms", "exec.task_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.gc_ms": "ms", "exec.core_busy": "ratio",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "exec.scan_mb": "MB", "exec.failed_tasks": "count",
    "sources.write_ms": "ms", "sources.write_mb": "MB", "sources.files": "count",
    **{f"api.{fn}.{m}": u for fn in API_FNS
       for m, u in (("call_ms", "ms"), ("run_ms", "ms"), ("jobs", "count"))},
    "api.dedup.cand_per_doc": "count", "api.docs_per_s": "1/s",
    "trace.suite_s": "s", "trace.reconcile_gap": "ratio", "trace.jobs_outside": "ratio",
}
MB = 2.0 ** 20


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _zero():
    return dict(jobs=0, stages=0, tasks=0, failed_tasks=0, task_ms=0, cpu_ns=0,
                gc_ms=0, shuffle_write=0, shuffle_read=0, spill=0, scan=0)


def _sum_groups(groups, names):
    t = _zero()
    for g in names:
        for k in t:
            t[k] += groups.get(g, {}).get(k, 0)
    return t


def per_layer(res, spans_path, kind, docs, modules, suite_s):
    groups, cpus = res["groups"], res["cpus"]
    timed = [o for o in res["ops"] if o["kind"] == "timed"]
    passes = sorted({o["pass"] for o in timed})
    per_pass = []
    for p in passes:
        ops = [o for o in timed if o["pass"] == p]
        if kind == "catalog":
            exec_groups = [f"{o['qid']}|exec" for o in ops]
            exec_wall = sum(o["exec_ms"] for o in ops)
            plan = sum(o["plan_ms"] for o in ops)
            exchanges = sum(o["exchanges"] for o in ops)
        else:
            exec_groups = [g for o in ops for g in o["write_groups"]]
            exec_wall = sum(o["write_exec_ms"] for o in ops)
            plan = sum(o["write_plan_ms"] for o in ops)
            exchanges = sum(o["write_exchanges"] for o in ops)
        ex = _sum_groups(groups, exec_groups)
        build = _sum_groups(groups, [f"{o['qid']}|ops" for o in ops])
        m = {
            "ops.build_ms": sum(o["ops_ms"] for o in ops),
            "ops.build_jobs": build["jobs"],
            "plans.plan_ms": plan,
            "plans.exchanges": exchanges,
            "exec.jobs": ex["jobs"], "exec.stages": ex["stages"], "exec.tasks": ex["tasks"],
            "exec.ms_per_job": exec_wall / ex["jobs"] if ex["jobs"] else 0.0,
            "exec.task_ms": ex["task_ms"], "exec.task_cpu_ms": ex["cpu_ns"] / 1e6,
            "exec.gc_ms": ex["gc_ms"],
            "exec.core_busy": ex["task_ms"] / (exec_wall * cpus) if exec_wall else 0.0,
            "exec.shuffle_write_mb": ex["shuffle_write"] / MB,
            "exec.shuffle_read_mb": ex["shuffle_read"] / MB,
            "exec.spill_mb": ex["spill"] / MB, "exec.scan_mb": ex["scan"] / MB,
            "exec.failed_tasks": ex["failed_tasks"],
        }
        if kind == "api":
            m["sources.write_ms"] = sum(
                max(0.0, o["run_ms"] - o["write_plan_ms"] - o["write_exec_ms"]) for o in ops)
            m["sources.write_mb"] = sum(o["write_bytes"] for o in ops) / MB
            m["sources.files"] = sum(o["files"] for o in ops)
            for fn in API_FNS:
                for o in ops:
                    if o["name"] == fn:
                        m[f"api.{fn}.call_ms"] = o["ops_ms"]
                        m[f"api.{fn}.run_ms"] = o["run_ms"]
                        m[f"api.{fn}.jobs"] = sum(
                            groups.get(g, {}).get("jobs", 0)
                            for g in [f"{o['qid']}|ops"] + o["write_groups"])
                    if o["name"] == "dedupClusters" and ":candPerDoc=" in o.get("route", ""):
                        m["api.dedup.cand_per_doc"] = float(
                            o["route"].split(":candPerDoc=")[1].split(":")[0])
        per_pass.append(m)

    out = {k: 0.0 for k in UNITS}
    for k in out:
        out[k] = _med([m[k] for m in per_pass if k in m])
    out["tables.register_ms"] = res["register_ms"]
    out["trace.suite_s"] = suite_s
    if kind == "api" and suite_s:
        out["api.docs_per_s"] = docs / suite_s

    # queries that ran build jobs in the set-up pass, and how many ran none when timed
    setup = {o["name"]: o["qid"] for o in res["ops"] if o["kind"] == "setup"}
    first = {o["name"]: o["qid"] for o in timed if o["pass"] == passes[0]} if passes else {}
    base = [n for n, q in setup.items() if groups.get(f"{q}|ops", {}).get("jobs", 0) > 0]
    reused = [n for n in base if n in first
              and groups.get(f"{first[n]}|ops", {}).get("jobs", 0) == 0]
    out["ops.pin_base"] = len(base)
    out["ops.pin_reuse"] = len(reused) / len(base) if base else 0.0

    spans = _load_spans(spans_path)
    out["trace.reconcile_gap"], out["trace.jobs_outside"] = _reconcile(
        spans, {o["qid"] for o in timed}, groups)
    _module_rollup(timed, groups, modules, kind)
    return {k: (v, UNITS[k]) for k, v in out.items()}, spans


def _load_spans(path):
    with open(path) as f:
        spans = [json.loads(l) for l in f if l.strip()]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        # self time: the span's duration less what its children cover
        iv = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                    for c in kids.get(s["id"], []))
        covered, end = 0.0, float("-inf")
        for a, b in iv:
            if b <= a:
                continue
            if a >= end:
                covered += b - a
                end = b
            elif b > end:
                covered += b - end
                end = b
        s["dur_ms"] = round(s["end_ms"] - s["start_ms"], 3)
        s["self_ms"] = round(max(0.0, s["dur_ms"] - covered), 3)
    return spans


def _reconcile(spans, timed_qids, groups):
    """How well the trace accounts for the timed queries, as two shares.

    - reconcile gap: the largest share of a query's wall time (its own
      clock reads, around the whole operation) that its layer spans (each
      timed by its own clock reads) leave uncovered or cover twice.
    - jobs outside: the share of job time, as the scheduler reports it to
      the listener, that lies outside the layer span its job group names,
      with untagged jobs counted whole. It checks the attribution against
      a clock the harness does not read.
    """
    by_id = {s["id"]: s for s in spans}
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    gap = 0.0
    for s in spans:
        if s["layer"] == "query" and s["qid"] in timed_qids and s["dur_ms"] > 0:
            parts = sum(c["dur_ms"] for c in by_parent.get(s["id"], []))
            gap = max(gap, abs(s["dur_ms"] - parts) / s["dur_ms"])
    job_ms = outside = 0.0
    for j in spans:
        if j["layer"] != "job" or j["qid"] not in timed_qids:
            continue
        p = by_id[j["parent"]]
        inside = max(0.0, min(j["end_ms"], p["end_ms"]) - max(j["start_ms"], p["start_ms"]))
        job_ms += j["dur_ms"]
        outside += j["dur_ms"] - inside
    untagged = groups.get("untagged", {}).get("job_wall_ms", 0.0)
    total = job_ms + untagged
    return gap, (outside + untagged) / total if total else 0.0


def _module_rollup(timed, groups, modules, kind):
    """Per ops-module totals over the timed passes, printed to stderr."""
    roll = {}
    for o in timed:
        mod = modules.get(o["name"], "api")
        r = roll.setdefault(mod, dict(n=0, ops_ms=0.0, exec_ms=0.0, build_jobs=0, exec_jobs=0))
        r["n"] += 1
        r["ops_ms"] += o["ops_ms"]
        r["exec_ms"] += o["exec_ms"] if kind == "catalog" else o["run_ms"]
        r["build_jobs"] += groups.get(f"{o['qid']}|ops", {}).get("jobs", 0)
        r["exec_jobs"] += sum(groups.get(g, {}).get("jobs", 0) for g in (
            [f"{o['qid']}|exec"] if kind == "catalog" else o["write_groups"]))
    print("perfbench: module        runs    ops_ms   exec_ms  build_jobs  exec_jobs", file=sys.stderr)
    for mod, r in sorted(roll.items(), key=lambda kv: -(kv[1]["ops_ms"] + kv[1]["exec_ms"])):
        print(f"perfbench: {mod:<14}{r['n']:>5}{r['ops_ms']:>10.0f}{r['exec_ms']:>10.0f}"
              f"{r['build_jobs']:>12}{r['exec_jobs']:>11}", file=sys.stderr)


def write_spans(spans, path):
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
