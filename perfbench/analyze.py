"""Turns one harness output (calls, spans, setup times) into the
benchmark's end-to-end and per-layer metrics."""
import statistics
from collections import defaultdict

READ_KINDS = {"olap", "lookup", "colocated_join", "history"}


def quantile(xs, q):
    """Linear-interpolated quantile; 0 for an empty list (a run in which
    every call failed, which the result already reports as not
    correct)."""
    s = sorted(xs)
    if not s:
        return 0.0
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _dur(c):
    return c["end"] - c["start"]


def setup_median_s(out):
    """Median set-up repetition; 0 when the workload has none."""
    reps = out.get("setup_reps_s") or []
    return statistics.median(reps) if reps else 0.0


def stored_bytes_ratio(out):
    """Warehouse bytes of the distributed tables per source parquet byte."""
    if not out.get("stored_bytes"):
        return 0.0
    return (sum(out["stored_bytes"].values())
            / sum(out["source_bytes"].values()))


def end_to_end(out):
    """End-to-end metrics over the timed calls of one run."""
    timed = [c for c in out["calls"] if c["timed"]]
    reads = [_dur(c) for c in timed if c["kind"] in READ_KINDS and c["ok"]]
    writes = [_dur(c) for c in timed if c["kind"] == "merge" and c["ok"]]
    wall = (max(c["end"] for c in timed) - min(c["start"] for c in timed)) / 1e3
    m = {
        "latency_p50_ms": quantile(reads, 0.5),
        "throughput_qps": sum(c["ok"] for c in timed) / wall,
        "setup_s": out["session_s"] + setup_median_s(out),
    }
    extra = {"latency_p90_ms": quantile(reads, 0.9),
             "read_samples": len(reads), "timed_calls": len(timed),
             "timed_wall_s": wall, "peak_rss_mb": out["peak_rss_mb"],
             "heap_after_gc_peak_mb": out["heap_after_gc_peak_mb"]}
    by_name = defaultdict(list)
    for c in timed:
        if c["ok"]:
            by_name[c["name"]].append(_dur(c))
    for name in sorted(by_name):
        extra[f"p50.{name}_ms"] = quantile(by_name[name], 0.5)
    if writes:
        extra.update(write_p50_ms=quantile(writes, 0.5),
                     write_p90_ms=quantile(writes, 0.9),
                     write_samples=len(writes))
    if out.get("stored_bytes"):
        extra["stored_bytes_ratio"] = stored_bytes_ratio(out)
    return m, extra


# ---------------------------------------------------------------- spans

def call_trees(out):
    """[(call, [spans of its subtree with 'depth'])] for every call, with
    each child clamped into its parent's interval."""
    spans = out["spans"]
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    roots = sorted((s for s in kids[0] if s["name"].startswith("call.")),
                   key=lambda s: s["start"])
    calls = sorted(out["calls"], key=lambda c: c["start"])
    if len(roots) != len(calls):
        raise ValueError(f"{len(roots)} call spans for {len(calls)} calls")
    trees = []
    for call, root in zip(calls, roots):
        sub = []

        def walk(s, depth, lo, hi):
            c = dict(s, depth=depth, start=min(max(s["start"], lo), hi),
                     end=max(min(s["end"], hi), lo))
            sub.append(c)
            for k in kids[s["id"]]:
                walk(k, depth + 1, c["start"], c["end"])

        walk(root, 0, root["start"], root["end"])
        trees.append((call, sub))
    return trees


def self_times(sub):
    """Self time per span id: each instant of the root's interval goes to
    the deepest span open at that instant (the latest-started one among
    equals), so the self times of a call add up to its duration. Where
    siblings do not overlap this is a span's duration minus the part its
    children cover."""
    live = [s for s in sub if s["end"] > s["start"] or s["depth"] == 0]
    cuts = sorted({t for s in live for t in (s["start"], s["end"])})
    own = defaultdict(float)
    for a, b in zip(cuts, cuts[1:]):
        open_ = [s for s in live if s["start"] <= a and s["end"] >= b]
        if open_:
            top = max(open_, key=lambda s: (s["depth"], s["start"], s["id"]))
            own[top["id"]] += b - a
    return own


def layer_of(name):
    return name.split(".", 1)[0]


# layers that hold spans inside a call ("call" is the harness's own glue)
LAYER_ORDER = ["call", "queries", "sql", "catalyst", "exec", "dml"]


def per_layer(out, cores):
    """Per-layer metrics of a traced run, per timed call unless named
    otherwise."""
    trees = [(c, sub) for c, sub in call_trees(out) if c["timed"]]
    n = max(1, len(trees))
    tot = defaultdict(float)
    selfs = defaultdict(float)
    exec_wall = 0.0
    lookups = []
    merges = []
    for call, sub in trees:
        own = self_times(sub)
        for s in sub:
            selfs[layer_of(s["name"])] += own.get(s["id"], 0.0)
            tot["dur." + s["name"]] += s["end"] - s["start"]
            tot["n." + s["name"]] += 1
            for k, v in s["counts"].items():
                tot[k] += v
        jobs = sorted((s["start"], s["end"]) for s in sub
                      if s["name"] == "exec.job")
        covered, reach = 0.0, None
        for a, b in jobs:  # union of job intervals
            if reach is None or a > reach:
                covered += b - a
                reach = b
            elif b > reach:
                covered += b - reach
                reach = b
        exec_wall += covered
        if call["kind"] == "lookup":
            lookups.append(sum(s["counts"].get("files_read", 0.0) for s in sub))
        if call["kind"] == "merge":
            merges.append((call, sum(s["counts"].get("output_bytes", 0.0)
                                     for s in sub)))
    setup_med = setup_median_s(out)
    m = {
        "queries.build_ms": tot["dur.queries.build"] / n,
        "sql.translate_ms": tot["dur.sql.translate"] / n,
        "sql.pgsql_ms": tot["dur.sql.pgsql"] / n,
        "catalyst.analysis_ms": tot["dur.catalyst.analysis"] / n,
        "catalyst.optimization_ms": tot["dur.catalyst.optimization"] / n,
        "catalyst.planning_ms": tot["dur.catalyst.planning"] / n,
        "exec.ms": exec_wall / n,
        "exec.jobs": tot["n.exec.job"] / n,
        "exec.stages": tot["n.exec.stage"] / n,
        "exec.tasks": tot["tasks"] / n,
        "exec.task_run_ms": tot["task_run_ms"] / n,
        "exec.task_cpu_ms": tot["task_cpu_ms"] / n,
        "exec.sched_delay_ms": tot["sched_delay_ms"] / n,
        "exec.gc_ms": tot["gc_ms"] / n,
        "exec.core_busy_ratio": (tot["task_run_ms"] / (exec_wall * cores)
                                 if exec_wall else 0.0),
        "scan.input_bytes": tot["input_bytes"] / n,
        "scan.input_rows": tot["input_rows"] / n,
        "scan.files_read": tot["files_read"] / n,
        "shuffle.write_bytes": tot["shuffle_write_bytes"] / n,
        "shuffle.read_bytes": tot["shuffle_read_bytes"] / n,
        "shuffle.fetch_wait_ms": tot["shuffle_fetch_wait_ms"] / n,
        "shuffle.spill_bytes": tot["spill_bytes"] / n,
        "cache.build_s": setup_med if out["workload"] == "olap-pinned" else 0.0,
        "cache.bytes": float(out.get("cache_bytes", 0)),
        "catalog.layout_s": (setup_med if out["workload"] == "tenant-router"
                             else 0.0),
        "catalog.files_per_lookup": (statistics.mean(lookups)
                                     if lookups else 0.0),
        "catalog.join_exchanges": float(out.get("join_exchanges", 0)),
        "catalog.stored_bytes_ratio": stored_bytes_ratio(out),
        "dml.merge_ms": (statistics.median(_dur(c) for c, _ in merges)
                         if merges else 0.0),
        "dml.bytes_written": (statistics.mean(b for _, b in merges)
                              if merges else 0.0),
        "dml.write_amp": 0.0,
        "jvm.peak_rss_mb": out["peak_rss_mb"],
        "jvm.heap_after_gc_peak_mb": out["heap_after_gc_peak_mb"],
    }
    if merges:
        # bytes written per byte of the rows a merge changed, at the
        # stored size of an orders row
        row_bytes = out["stored_bytes"]["orders"] / out["orders_rows"]
        m["dml.write_amp"] = (m["dml.bytes_written"]
                              / (out["merge_keys"] * row_bytes))
    for layer in LAYER_ORDER:
        m[f"self.{layer}_ms"] = selfs[layer] / n
    return m
