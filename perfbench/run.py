#!/usr/bin/env python3
"""The repository benchmark: one client in a closed loop on local[4].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (perfbench/harness); later runs reuse the
build while the sources are unchanged. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the per-layer ones, and the spans go to
.perfbench/traces/<workload>.seed<n>.jsonl.

Workloads (why each exists is in BENCHMARK.json):
  catalog_floor   a fixed, cost-balanced set of SparkEntry queries on the
                  sf0.001 fixtures, each pass in an order drawn from the
                  seed (perfbench/catalog.py)
  api_curation    graft.api.Graft dedupClusters -> tfidf -> knnCosine on a
                  corpus generated from the seed, outputs written to parquet

A run is one JVM: a set-up (Spark session, table registration and the
first untimed pass, which fills the session pins), a fixed number of
further untimed passes while the JIT warms up, and then timed passes over
the same operations. suite_s is the median timed pass; query_p50_ms the median
of every successful timed operation.

Every operation's output is checked: catalogue results against the
reference digests in perfbench/reference, the API pipeline against the
corpus's planted truth. An operation that throws or mismatches counts as
failed, and its time is left out of every latency.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import catalog  # noqa: E402
import layers  # noqa: E402
from jvm import build, die, run_harness  # noqa: E402

API = dict(docs=800, tokens=40, probes=1200)
API_PASS_S = 5.0           # one api_curation pass on 4 cores, for the pass count
MIN_PASSES = 3
# workload -> (kind, untimed passes after the set-up pass). With a fixed
# heap on 4 cores, pass times level off after about that many passes; the
# catalogue's still fall ~10% over its timed passes, by the same amount in
# every run. More passes do not fit the time budget.
WORKLOADS = {"catalog_floor": ("catalog", 3), "api_curation": ("api", 2)}

# ---- statistics ------------------------------------------------------------

def tail(values):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, sample count). Below 21 samples that percentile
    is the median or lower, so the maximum is reported instead."""
    v = sorted(values)
    n = len(v)
    if n <= 20:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def passes(seconds, pass_s):
    """Timed passes in a run: enough to fill `seconds` at the reference
    pace, and at least MIN_PASSES. The count comes from reference times,
    never from the run's own speed, so a faster program keeps its sample
    size."""
    return max(MIN_PASSES, math.ceil(seconds / pass_s))


def med(xs):
    return statistics.median(xs) if xs else 0.0


# ---- run -------------------------------------------------------------------

def timed_runs(res):
    """Wall times of the successful timed operations; a failed one has no
    latency."""
    return [o["wall_ms"] for o in res["ops"] if o["kind"] == "timed" and o["ok"]]


def suite_s(res):
    return med([p["wall_s"] for p in res["passes"]])


def end_to_end(res):
    return {
        "setup_s": (res["setup_s"], "s"),
        "suite_s": (suite_s(res), "s"),
        "query_p50_ms": (med(timed_runs(res)), "ms"),
    }


def query_tail(res):
    runs = timed_runs(res)
    t, pct, n = tail(runs) if runs else (0.0, 0.0, 0)
    print(f"perfbench: query_tail_ms is p{pct:.2f} of {n} timed runs "
          f"({len(res['passes'])} passes)", file=sys.stderr)
    return t


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "perfbench/harness/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"{need} not found: run from the root of a repository checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    kind, warm = WORKLOADS[a.workload]

    state = os.path.join(root, ".perfbench")
    work = os.path.join(state, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cp, src = build(root, state)

    if kind == "catalog":
        sf_dir = os.path.join(catalog.fixture_root(root), catalog.SF)
        if not os.path.isdir(sf_dir):
            die(f"fixture directory {sf_dir} not found")
        queries = catalog.sample(root)
        qfile, efile = os.path.join(work, "queries.txt"), os.path.join(work, "expect.tsv")
        with open(qfile, "w") as f:
            f.write("\n".join(queries) + "\n")
        ref = catalog.reference()
        with open(efile, "w") as f:
            f.writelines(f"{q}\t{ref[q]['digest']}\n" for q in queries)
        ref_pass_s = sum(float(ref[q]["ms"]) for q in queries) / 1e3
        params = dict(mode="catalog", sf=sf_dir, queries=qfile, expect=efile, seed=a.seed,
                      warm=warm,
                      passes=passes(a.seconds, ref_pass_s))
        docs = 0
    else:
        params = dict(mode="api", seed=a.seed, work=os.path.join(work, "data"), warm=warm,
                      passes=passes(a.seconds, API_PASS_S), **API)
        docs = API["docs"]

    t0 = time.time()
    steal0, total0 = cpu_ticks()
    res = run_harness(cp, work, params, a.trace)
    steal1, total1 = cpu_ticks()
    steal = (steal1 - steal0) / max(1, total1 - total0)
    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if not o["ok"])
    for o in res["ops"]:
        if not o["ok"]:
            print(f"perfbench: FAILED {o['qid']}: {o['err']}", file=sys.stderr)

    if a.trace:
        modules = catalog.module_map(root) if kind == "catalog" else {}
        metrics, spans = layers.per_layer(
            res, os.path.join(work, "spans.jsonl"), kind, docs, modules, suite_s(res))
        metrics["failed_frac"] = (failed / attempted, "ratio")
        metrics["tmp_left_mb"] = (res["tmp_left_bytes"] / 2**20, "MB")
        metrics["jvm.rss_peak_mb"] = (res["rss_hwm_kb"] / 1024.0, "MB")
        metrics["query_tail_ms"] = (query_tail(res), "ms")
        metrics["host.steal_frac"] = (steal, "ratio")
        os.makedirs(os.path.join(state, "traces"), exist_ok=True)
        layers.write_spans(spans, os.path.join(state, "traces", f"{a.workload}.seed{a.seed}.jsonl"))
    else:
        metrics = end_to_end(res)

    env = {"src_hash": src, "git_sha": git_sha(root), "cpus": res["cpus"],
           "jvm": res["jvm"], "spark": res["spark"], "heap_mb": res["heap_mb"],
           "seed": a.seed, "workload": a.workload, "seconds": a.seconds,
           "trace": a.trace, "wall_s": round(time.time() - t0, 3),
           "warm_s": res["warm_s"], "pass_s": [p["wall_s"] for p in res["passes"]],
           "steal_frac": round(steal, 4)}
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    os.makedirs(os.path.join(state, "results"), exist_ok=True)
    with open(os.path.join(state, "results",
                           f"{a.workload}.seed{a.seed}.trace{a.trace}.json"), "w") as f:
        json.dump(dict(out, env=env), f, indent=1)
    shutil.copy(os.path.join(work, "result.json"), os.path.join(
        state, "results", f"{a.workload}.seed{a.seed}.trace{a.trace}.harness.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


def git_sha(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except OSError:
        return "none"


if __name__ == "__main__":
    main()
