"""Benchmark entry point.

    python3 perfbench/run.py --workload olap-pinned --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the root of a source checkout. Builds the engine and the harness
(perfbench/build.py), generates the input tables once (perfbench/gen_data.py),
runs one harness JVM, checks every output against DuckDB, and prints a
report whose last line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones from a traced run. `--workload all` runs every workload
untraced and traced and also prints the tracing overhead. Build outputs,
data and run files go to $CARGO_TARGET_DIR (default .bench_build).
"""
import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analyze  # noqa: E402
import build  # noqa: E402
import checks  # noqa: E402
import gen_data  # noqa: E402

# The workloads the benchmark definition lists, plus one more that the
# `all` command runs (see perfbench/README.md for why it is left out of
# the definition).
WORKLOADS = ["olap-pinned", "tenant-router", "olap-parquet"]
HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def benchmark_def():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# units of the report-only numbers, by name suffix
SUFFIX_UNITS = {"_ms": "ms", "_s": "s", "_mb": "MB", "_ratio": "ratio",
                "_samples": "count", "_calls": "count"}


def units():
    bench = benchmark_def()
    return {m["name"]: m["unit"] for key in ("end_to_end", "per_layer")
            for m in bench[key]}


def unit_of(name, u):
    return u.get(name) or next((v for k, v in SUFFIX_UNITS.items()
                                if name.endswith(k)), "")


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_times():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def source_stamp():
    """The git commit when run inside a repository, else a digest of the
    engine sources (a plain source checkout has no .git)."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    import hashlib
    h = hashlib.sha256()
    for p in build.sources():
        with open(p, "rb") as f:
            h.update(f.read())
    return "src-sha256:" + h.hexdigest()[:16]


def ensure_data(sf):
    """Generate the tables for a scale factor once; returns their dir."""
    d = os.path.join(build.build_dir(), "data", f"sf{sf}")
    marker = os.path.join(d, "rows.json")
    if not os.path.exists(marker):
        shutil.rmtree(d, ignore_errors=True)
        counts = gen_data.generate(d, sf)
        with open(marker, "w") as f:
            json.dump(counts, f)
    return d


def run_harness(classes, workload, seed, seconds, trace, data, cores):
    run_dir = os.path.join(build.build_dir(), "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "out.json")
    cmd = (["java", f"-Xmx{HEAP}", "-Xss16m",
            "-XX:-UsePerfData"] +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Dspark.ui.enabled=false",
            "-Dspark.driver.host=localhost",
            "-Dspark.driver.bindAddress=127.0.0.1",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dspark.local.dir={os.path.join(run_dir, 'tmp')}",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", build.classpath(classes), "perfbench.Harness",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--data", data, "--out", out, "--cores", str(cores)])
    log_path = os.path.join(run_dir, "harness.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=run_dir)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"harness timed out after {JVM_TIMEOUT_S}s "
                             f"(log: {log_path})")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = [l for l in f.read().splitlines() if " INFO " not in l]
        sys.stderr.write("\n".join(tail[-30:]) + "\n")
        raise SystemExit(f"harness exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def one_run(classes, workload, seed, seconds, trace, data, cores,
            log=print):
    """Run, check and measure one workload; returns the result record."""
    load0, cpu0 = loadavg(), cpu_times()
    out = run_harness(classes, workload, seed, seconds, trace, data, cores)
    load1, cpu1 = loadavg(), cpu_times()
    failed = checks.failed_calls(out, data, log)
    attempted = len(out["calls"])
    e2e, extra = analyze.end_to_end(out)
    layers = analyze.per_layer(out, cores) if trace else {}
    env = dict(out["env"], nproc=cores, seed=seed, trace=trace,
               workload=workload, source=source_stamp(), data=data,
               loadavg_before=load0, loadavg_after=load1,
               cpu_steal_share=((cpu1[0] - cpu0[0])
                                / max(1, cpu1[1] - cpu0[1])),
               host=platform.node(), seconds=seconds)
    return {"workload": workload, "seed": seed, "trace": trace, "env": env,
            "correct": not failed, "attempted": attempted,
            "failed": len(failed), "failed_ratio": len(failed) / attempted,
            "end_to_end": e2e, "extra": extra, "per_layer": layers}


def save(record):
    d = os.path.join(build.build_dir(), "results")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{record['workload']}.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")


def report(rec):
    print(f"== {rec['workload']} seed={rec['seed']} trace={rec['trace']}: "
          f"attempted={rec['attempted']} failed={rec['failed']} "
          f"failed_ratio={rec['failed_ratio']:.4f}")
    print("env " + json.dumps(rec["env"], sort_keys=True))
    u = units()
    for part in ("end_to_end", "extra", "per_layer"):
        for k, v in rec[part].items():
            print(f"  {k:<34} {v:>14.4f} {unit_of(k, u)}")


def metrics_line(rec, names_units):
    src = rec["per_layer"] if rec["trace"] else rec["end_to_end"]
    return {"correct": rec["correct"], "attempted": rec["attempted"],
            "failed": rec["failed"],
            "metrics": {n: {"value": src[n], "unit": u}
                        for n, u in names_units}}


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(WORKLOADS) + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=18)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--sf", type=float, default=0.1,
                   help="scale factor of the generated tables")
    a = p.parse_args(argv)

    if not os.path.isdir(build.ENGINE_SRC):
        sys.exit(f"engine sources not found at {build.ENGINE_SRC}; run from "
                 "the root of a source checkout")
    t0 = time.time()
    classes = build.build()
    data = ensure_data(a.sf)
    print(f"build+data ready in {time.time() - t0:.1f}s: {classes}, {data}")
    cores = os.cpu_count()

    if a.workload != "all":
        rec = one_run(classes, a.workload, a.seed, a.seconds, a.trace, data,
                      cores)
        save(rec)
        report(rec)
        bench = benchmark_def()
        key = "per_layer" if a.trace else "end_to_end"
        print(json.dumps(metrics_line(
            rec, [(m["name"], m["unit"]) for m in bench[key]])))
        return 0

    summary = {}
    for w in WORKLOADS:
        plain = one_run(classes, w, a.seed, a.seconds, 0, data, cores)
        traced = one_run(classes, w, a.seed, a.seconds, 1, data, cores)
        for r in (plain, traced):
            save(r)
            report(r)
        overhead = {k: traced["end_to_end"][k] - plain["end_to_end"][k]
                    for k in plain["end_to_end"]}
        print(f"== {w} tracing overhead (traced - untraced)")
        u = units()
        for k, v in overhead.items():
            print(f"  {k:<34} {v:>+14.4f} {u[k]}")
        summary[w] = {"correct": plain["correct"] and traced["correct"],
                      "failed_ratio": plain["failed_ratio"],
                      "end_to_end": plain["end_to_end"],
                      "per_layer": traced["per_layer"],
                      "tracing_overhead": overhead}
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
