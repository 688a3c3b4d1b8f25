"""Inputs of the catalogue workloads.

- The query -> ops-module map, read from SparkEntry's source text.
- The per-query reference (perfbench/reference/sf0.001.tsv): row count and
  order-independent content digest of every query's full result, plus
  its materialized time (a timed pass after the set-up pass, one JVM,
  4 cores), its time in the set-up pass (`warm_ms`, the first, not yet
  compiled run) and its build-job count.
- The workload's query set: one fixed, cost-balanced draw.

Regenerate the reference, only from a commit whose Verify dump passes
tools/preverify.py:

    python3 perfbench/catalog.py --make-reference
"""
import math
import os
import random
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ENTRY = "src/main/scala/graft/SparkEntry.scala"
SF = "sf0.001"
SAMPLE = 10
CANDIDATES = 1000
DRAW = 0
COLUMNS = ("query", "module", "rows", "digest", "ms", "warm_ms", "build_jobs")


def module_map(root):
    """query name -> the ops object its SparkEntry function lives in."""
    with open(os.path.join(root, ENTRY)) as f:
        text = f.read()
    pairs = re.findall(r'"(q_\w+)"\s*->\s*\(?\s*(?:\w+\.)*(\w+)\.\w+\s*_', text)
    declared = set(re.findall(r'"(q_\w+)"\s*->', text))
    found = dict(pairs)
    missing = declared - set(found)
    if missing:
        raise SystemExit(f"no module found for {sorted(missing)} in {ENTRY}")
    return found


def fixture_root(root):
    """Directory holding the sf* fixture dirs: the one SparkEntry.entry
    names for its flagship query, unless PERFBENCH_FIXTURES is set."""
    if os.environ.get("PERFBENCH_FIXTURES"):
        return os.environ["PERFBENCH_FIXTURES"]
    with open(os.path.join(root, ENTRY)) as f:
        m = re.search(r'"([^"]+)/sf0\.001"', f.read())
    if not m:
        raise SystemExit(f"no fixture path in {ENTRY}")
    return m.group(1)


def reference():
    with open(os.path.join(HERE, "reference", f"{SF}.tsv")) as f:
        rows = [l.rstrip("\n").split("\t") for l in f if not l.startswith("#")]
    head, body = rows[0], rows[1:]
    return {r[0]: dict(zip(head, r)) for r in body}


def _stats(ms):
    """Total, median and upper quartile of reference times."""
    s = sorted(ms)
    k = len(s)
    return sum(s), s[k // 2], s[(3 * k) // 4]


def sample(root):
    """The workload's SAMPLE queries: one balanced draw, stratified by cost.

    Queries are cut into SAMPLE strata of adjacent reference time,
    and a candidate takes one query from each stratum at random. Of
    CANDIDATES such draws the sample is the one whose total, median
    and upper quartile, of both the steady reference time and the first
    (not yet compiled) run, sit closest to the whole catalogue's, with a
    small preference for drawing each ops module at most once.

    The draw is fixed (DRAW), not taken from the workload seed: samples
    that match on reference times still differed by ~20% in measured
    median per-query time from seed to seed on a 4-core host, which
    would drown the changes the benchmark exists to show. The seed picks
    the order the queries run in, a new one each pass.
    """
    modules = module_map(root)
    ref = reference()
    n = SAMPLE
    names = sorted(q for q in modules if q in ref)
    cost = {q: float(ref[q]["ms"]) for q in names}
    first = {q: float(ref[q]["warm_ms"]) for q in names}
    ranked = sorted(names, key=lambda q: (cost[q], q))
    bounds = [round(i * len(names) / n) for i in range(n + 1)]
    strata = [ranked[bounds[i]:bounds[i + 1]] for i in range(n)]
    targets = []
    for c in (cost, first):
        total, median, upper = _stats(c.values())
        targets.append((c, (total * n / len(names), median, upper)))
    rng = random.Random(DRAW)
    best = None
    for _ in range(CANDIDATES):
        picked = [rng.choice(st) for st in strata]
        score = 0.01 * (n - len({modules[q] for q in picked}))
        for c, target in targets:
            score += sum(w * abs(math.log(a / b)) for w, a, b in
                         zip((3, 2, 2), _stats([c[q] for q in picked]), target))
        if best is None or score < best[0]:
            best = (score, picked)
    return best[1]


def make_reference(root):
    import jvm
    state = os.path.join(root, ".perfbench")
    cp, _ = jvm.build(root, state)
    modules = module_map(root)
    names = sorted(modules)
    work = os.path.join(state, "reference")
    os.makedirs(work, exist_ok=True)
    qfile = os.path.join(work, "queries.txt")
    with open(qfile, "w") as f:
        f.write("\n".join(names) + "\n")
    res = jvm.run_harness(cp, work, dict(
        mode="catalog", sf=os.path.join(fixture_root(root), SF), queries=qfile, seed=0,
        warm=0, passes=1), trace=1, limit_s=None, heap="6g")
    ops = {}
    for o in res["ops"]:
        ops.setdefault(o["name"], {})[o["kind"]] = o
    build_jobs = {}
    for g, agg in res["groups"].items():
        qid, layer = g.rsplit("|", 1)
        if layer == "ops" and qid.startswith("s0."):
            build_jobs[qid[3:]] = agg["jobs"]
    lines = ["\t".join(COLUMNS)]
    bad = []
    for q in names:
        w, t = ops[q]["setup"], ops[q]["timed"]
        if not (w["ok"] and t["ok"]) or w["digest"] != t["digest"]:
            bad.append(f"{q}: {w['err'] or t['err'] or 'digest differs between passes'}")
            continue
        lines.append("\t".join(str(x) for x in (
            q, modules[q], t["digest"].split(":")[0], t["digest"],
            f"{t['wall_ms']:.1f}", f"{w['wall_ms']:.1f}", build_jobs.get(q, 0))))
    with open(os.path.join(HERE, "reference", f"{SF}.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")
    for b in bad:
        print(f"left out {b}", file=sys.stderr)


if __name__ == "__main__":
    if sys.argv[1:] != ["--make-reference"]:
        raise SystemExit(__doc__)
    make_reference(os.getcwd())
