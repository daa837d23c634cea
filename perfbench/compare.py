"""Compare a parent run set with a change run set.

    python3 perfbench/compare.py PARENT CHANGE

PARENT and CHANGE are result files (JSON lines as run.py appends them to
$CARGO_TARGET_DIR/results/<workload>.jsonl) or directories of them. For
every workload and metric it prints each side's median and quartiles,
the fraction of pairs the change wins (pairs are matched by seed, else by
order; ties count for neither side), and a verdict:

  improved    the change wins at least 9 in 10 pairs and the medians
              differ by more than the parent's own quartile spread
  regressed   the change's median is worse than the parent's by more
              than the metric's bound
  unresolved  either side's quartile spread, as a share of its median,
              exceeds the bound, and not every change run beats every
              parent run
  same        none of the above

Per-layer metrics have no bound; they get the same statistics and only
the improved/same verdicts, as counts or times, never as a gain claim on
their own.
"""
import glob
import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    files = (sorted(glob.glob(os.path.join(path, "*.jsonl")))
             if os.path.isdir(path) else [path])
    runs = []
    for f in files:
        with open(f) as fh:
            runs += [json.loads(l) for l in fh if l.strip()]
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def series(runs, workload, trace, key, metric):
    rs = [r for r in runs if r["workload"] == workload and r["trace"] == trace
          and metric in r[key]]
    return [(r["seed"], r[key][metric]) for r in rs]


def pairs(parent, change):
    pseeds = [s for s, _ in parent]
    cseeds = [s for s, _ in change]
    if len(set(pseeds)) == len(pseeds) and set(pseeds) == set(cseeds):
        p, c = dict(parent), dict(change)
        return [(p[s], c[s]) for s in pseeds]
    return list(zip([v for _, v in parent], [v for _, v in change]))


def verdict(ps, cs, better, bound):
    """The comparison of one metric on one workload, as a dict; ps and cs
    are the (seed, value) runs of each side."""
    sign = 1 if better == "higher" else -1
    pv, cv = [v for _, v in ps], [v for _, v in cs]
    pq1, pmed, pq3 = quartiles(pv)
    cq1, cmed, cq3 = quartiles(cv)
    pr = pairs(ps, cs)
    wins = sum(1 for p, c in pr if sign * (c - p) > 0)
    win_frac = wins / len(pr) if pr else 0.0
    gain = sign * (cmed - pmed)
    p_spread = (pq3 - pq1) / abs(pmed) if pmed else float("inf")
    c_spread = (cq3 - cq1) / abs(cmed) if cmed else float("inf")
    all_better = all(sign * (c - p) > 0 for c in cv for p in pv)
    if win_frac >= 0.9 and gain > (pq3 - pq1):
        v = "improved"
    elif bound is not None and -gain > bound * abs(pmed):
        v = "regressed"
    elif (bound is not None and max(p_spread, c_spread) > bound
          and not all_better):
        v = "unresolved"
    else:
        v = "same"
    return {"parent": (pmed, pq1, pq3), "change": (cmed, cq1, cq3),
            "n": (len(pv), len(cv)), "win_frac": win_frac,
            "spread": (p_spread, c_spread), "verdict": v}


def compare(parent_runs, change_runs, bench):
    rows = []
    workloads = sorted({r["workload"] for r in parent_runs} &
                       {r["workload"] for r in change_runs})
    for w in workloads:
        for key, trace in (("end_to_end", 0), ("per_layer", 1)):
            for m in bench[key]:
                ps = series(parent_runs, w, trace, key, m["name"])
                cs = series(change_runs, w, trace, key, m["name"])
                if not ps or not cs:
                    continue
                r = verdict(ps, cs, m["better"], m.get("bound"))
                rows.append(dict(r, workload=w, metric=m["name"],
                                 unit=m["unit"], bound=m.get("bound")))
    return rows


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    rows = compare(load(argv[0]), load(argv[1]), bench)
    by_w = defaultdict(list)
    for r in rows:
        by_w[r["workload"]].append(r)
    for w, rs in by_w.items():
        print(f"== {w}")
        print(f"  {'metric':<28} {'parent med [q1,q3]':>30} "
              f"{'change med [q1,q3]':>30} {'wins':>5} {'bound':>6}  verdict")
        for r in rs:
            p, c = r["parent"], r["change"]
            b = "-" if r["bound"] is None else f"{r['bound']:.2f}"
            print(f"  {r['metric']:<28} {p[0]:>12.4g} [{p[1]:.4g},{p[2]:.4g}]"
                  f"{'':>2} {c[0]:>12.4g} [{c[1]:.4g},{c[2]:.4g}]"
                  f"{'':>2} {r['win_frac']:>5.2f} {b:>6}  {r['verdict']}")
    return 1 if any(r["verdict"] == "regressed" for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
