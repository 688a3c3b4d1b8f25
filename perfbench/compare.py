#!/usr/bin/env python3
"""A/B comparison of two checkouts with the repository benchmark.

    python3 perfbench/compare.py A_DIR B_DIR [--pairs 10] [--seed0 1]
                                 [--workloads w1,w2] [--out results.json]

Runs `perfbench/run.py` of each checkout (normally the parent commit as A
and the change as B) in alternating pairs with identical settings: pair i
uses seed seed0+i on both sides, and which side runs first alternates.
It prints one row per workload and end-to-end metric: each side's median
and quartiles, the pairs B won (ties count for neither side), and a
verdict by the rules of the benchmark:

  gain         B won at least 9/10 of the pairs and the medians differ by
               more than A's quartile spread
  regression   B's median is worse than A's by more than the metric's bound
  unresolved   A's own quartile spread is wider than the bound
  same         none of the above

Every result is stored with the environment it ran in (git sha, source
hash, cpus, JVM, Spark version, heap, seed); results whose environments
differ are not compared.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ENV_KEYS = ("cpus", "jvm", "spark", "heap_mb", "seconds")


def run(checkout, workload, seed, seconds):
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{checkout}: {workload} seed {seed} exited with {r.returncode}")
    path = os.path.join(checkout, ".perfbench", "results",
                        f"{workload}.seed{seed}.trace0.json")
    with open(path) as f:
        return json.load(f)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    with open(os.path.join(args.b, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]]
    results = {w: {"a": [], "b": []} for w in workloads}
    for i in range(args.pairs):
        seed = args.seed0 + i
        for w in workloads:
            sides = ("a", "b") if i % 2 == 0 else ("b", "a")
            got = {s: run(getattr(args, s), w, seed, bench["run_seconds"]) for s in sides}
            ea, eb = got["a"]["env"], got["b"]["env"]
            diff = [k for k in ENV_KEYS if ea[k] != eb[k]]
            if diff or ea["seed"] != eb["seed"]:
                raise SystemExit(f"environments differ in {diff or ['seed']}: {ea} vs {eb}")
            for s in ("a", "b"):
                results[w][s].append(got[s])
            print(f"pair {i + 1}/{args.pairs} {w}: done", file=sys.stderr)

    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)

    print(f"{'workload':<16}{'metric':<16}{'A median [q1, q3]':>30}"
          f"{'B median [q1, q3]':>30}{'B won':>8}  verdict")
    for w in workloads:
        a_runs, b_runs = results[w]["a"], results[w]["b"]
        for m in bench["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            av = [r["metrics"][name]["value"] for r in a_runs]
            bv = [r["metrics"][name]["value"] for r in b_runs]
            wins = sum(1 for x, y in zip(av, bv) if (y < x if lower else y > x))
            (a1, am, a3), (b1, bm, b3) = quartiles(av), quartiles(bv)
            worse = (bm - am) / am if lower else (am - bm) / am
            if wins >= 0.9 * len(av) and abs(bm - am) > a3 - a1:
                verdict = "gain"
            elif worse > m["bound"]:
                verdict = "regression"
            elif (a3 - a1) / am > m["bound"]:
                verdict = "unresolved"
            else:
                verdict = "same"
            if any(not r["correct"] for r in a_runs + b_runs):
                verdict += " (outputs failed)"
            print(f"{w:<16}{name:<16}{f'{am:.4g} [{a1:.4g}, {a3:.4g}]':>30}"
                  f"{f'{bm:.4g} [{b1:.4g}, {b3:.4g}]':>30}{f'{wins}/{len(av)}':>8}  {verdict}")
    for s in ("a", "b"):
        e = results[workloads[0]][s][0]["env"]
        print(f"{s.upper()}: git {e['git_sha']} src {e['src_hash'][:12]} cpus {e['cpus']} "
              f"jvm {e['jvm']} spark {e['spark']} heap {e['heap_mb']} MB", file=sys.stderr)


if __name__ == "__main__":
    main()
