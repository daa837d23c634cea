"""The benchmark's own tests, on a tiny configuration (sf0.001, one
measured unit per run).

    python3 -m unittest perfbench/test_perfbench.py -v

They build and run the real harness, so they take a few minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analyze  # noqa: E402
import build  # noqa: E402
import checks  # noqa: E402
import run  # noqa: E402

TINY = ["--sf", "0.001", "--seconds", "0.1"]
CLOCK_MS = 2.0  # Spark stamps job, stage and phase events in whole ms


def run_tiny(workload, trace):
    """Run run.py as a user would; returns (final JSON line, harness
    output, data dir)."""
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--trace", str(trace)] + TINY,
        cwd=build.ROOT, capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        raise AssertionError(r.stdout[-3000:] + r.stderr[-3000:])
    last = json.loads(r.stdout.strip().splitlines()[-1])
    with open(os.path.join(build.build_dir(), "run", "out.json")) as f:
        out = json.load(f)
    return last, out, run.ensure_data(0.001)


def overlapping(spans):
    """True when two of the spans overlap by more than an instant.
    Zero-length spans take no time and are left out."""
    s = sorted((x for x in spans if x["end"] > x["start"]),
               key=lambda x: x["start"])
    return any(a["end"] > b["start"] for a, b in zip(s, s[1:]))


class TinyRuns(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.bench = run.benchmark_def()
        cls.runs = {(w, t): run_tiny(w, t) for w, t in
                    [("olap-pinned", 1), ("tenant-router", 1),
                     ("tenant-router", 0)]}
        # the OLAP check reads the written results, which the next run
        # deletes: keep a copy of the last OLAP run's results
        cls.runs[("olap-pinned", 0)] = run_tiny("olap-pinned", 0)
        _, out, _ = cls.runs[("olap-pinned", 0)]
        cls.olap_results = out["result_dir"] + ".kept"
        shutil.rmtree(cls.olap_results, ignore_errors=True)
        shutil.copytree(out["result_dir"], cls.olap_results)

    def test_every_metric_prints_with_its_unit(self):
        for (w, trace), (last, _, _) in self.runs.items():
            key = "per_layer" if trace else "end_to_end"
            want = {m["name"]: m["unit"] for m in self.bench[key]}
            self.assertEqual(set(last), {"correct", "attempted", "failed",
                                         "metrics"})
            self.assertTrue(last["correct"], (w, trace))
            self.assertEqual(last["failed"], 0)
            self.assertGreaterEqual(last["attempted"], 1)
            self.assertEqual(set(last["metrics"]), set(want), (w, trace))
            for name, m in last["metrics"].items():
                self.assertEqual(m["unit"], want[name])
                self.assertIsInstance(m["value"], (int, float))
            if not trace:
                for name in want:
                    self.assertGreater(last["metrics"][name]["value"], 0, name)

    def test_child_spans_lie_inside_their_call(self):
        for (w, trace), (_, out, _) in self.runs.items():
            if not trace:
                continue
            by_id = {s["id"]: s for s in out["spans"]}
            roots = [s for s in out["spans"] if s["name"].startswith("call.")]
            self.assertEqual(len(roots), len(out["calls"]))
            for s in out["spans"]:
                p = by_id.get(s["parent"])
                if p is None:
                    continue
                self.assertGreaterEqual(s["start"], p["start"] - CLOCK_MS, s)
                self.assertLessEqual(s["end"], p["end"] + CLOCK_MS, s)
            names = {s["name"] for s in out["spans"]}
            self.assertIn("exec.job", names)
            self.assertIn("exec.stage", names)
            self.assertIn("catalyst.optimization", names)

    def test_self_times_match_durations_minus_children(self):
        """In a call whose sibling spans do not overlap, a span's self time
        is its duration minus its children's. That is computed here
        directly, not by the sweep analyze.self_times uses."""
        checked = 0
        for (w, trace), (_, out, _) in self.runs.items():
            if not trace:
                continue
            for call, sub in analyze.call_trees(out):
                root = sub[0]
                # the call is timed just outside its root span
                self.assertLessEqual(root["end"] - root["start"],
                                     call["end"] - call["start"])
                self.assertAlmostEqual(root["end"] - root["start"],
                                       call["end"] - call["start"], delta=5.0)
                kids = {}
                for s in sub[1:]:
                    kids.setdefault(s["parent"], []).append(s)
                if any(overlapping(k) for k in kids.values()):
                    continue
                own = analyze.self_times(sub)
                for s in sub:
                    want = (s["end"] - s["start"]) - sum(
                        k["end"] - k["start"] for k in kids.get(s["id"], []))
                    self.assertAlmostEqual(own.get(s["id"], 0.0), want,
                                           places=6, msg=(w, s["name"]))
                checked += 1
        self.assertGreater(checked, 0)

    def test_wrong_olap_result_counts_as_failed(self):
        _, out, data = self.runs[("olap-pinned", 0)]
        out = dict(out, result_dir=self.olap_results)
        self.assertEqual(checks.failed_calls(out, data, lambda m: None), set())
        q = out["queries"][0]
        path = os.path.join(self.olap_results, q)
        import pandas as pd
        df = pd.read_parquet(path)
        col = next(c for c in df.columns if df[c].dtype.kind in "if")
        df[col] = df[col] + 1
        shutil.rmtree(path)
        os.makedirs(path)
        df.to_parquet(os.path.join(path, "part-0.parquet"))
        bad = checks.failed_calls(out, data, lambda m: None)
        self.assertEqual(bad, {c["id"] for c in out["calls"] if c["name"] == q})

    def test_missing_olap_output_counts_as_failed(self):
        _, out, data = self.runs[("olap-pinned", 0)]
        out = dict(out, result_dir=self.olap_results + ".absent")
        bad = checks.failed_calls(out, data, lambda m: None)
        self.assertEqual(bad, {c["id"] for c in out["calls"]
                               if c["kind"] == "olap"})

    def test_wrong_tenant_read_and_merge_count_as_failed(self):
        _, out, data = self.runs[("tenant-router", 0)]
        self.assertEqual(checks.failed_calls(out, data, lambda m: None), set())
        reads = json.loads(json.dumps(out["reads"]))
        victim = next(r for r in reads if r["rows"])
        victim["rows"][0][-1] += 1  # one value off
        bad = checks.failed_calls(dict(out, reads=reads), data, lambda m: None)
        self.assertEqual(bad, {victim["call"]})
        after = dict(out["totals_after"], sum="0.00")
        bad = checks.failed_calls(dict(out, totals_after=after), data,
                                  lambda m: None)
        self.assertEqual(bad, {c["id"] for c in out["calls"]
                               if c["kind"] == "merge"})


class Stats(unittest.TestCase):
    def test_quantile(self):
        self.assertEqual(analyze.quantile([3, 1, 2], 0.5), 2)
        self.assertAlmostEqual(analyze.quantile([0, 10], 0.9), 9.0)
        self.assertEqual(analyze.quantile([], 0.5), 0.0)

    def test_run_whose_calls_all_threw_still_has_metrics(self):
        calls = [{"id": i, "kind": "lookup", "name": "lookup", "timed": True,
                  "start": 10.0 * i, "end": 10.0 * i + 5, "ok": False,
                  "error": "boom"} for i in range(3)]
        out = {"calls": calls, "session_s": 1.0, "setup_reps_s": [0.5],
               "peak_rss_mb": 100.0, "heap_after_gc_peak_mb": 50.0}
        m, _ = analyze.end_to_end(out)
        self.assertEqual(m["latency_p50_ms"], 0.0)
        self.assertEqual(m["throughput_qps"], 0.0)

    def test_self_times_with_overlapping_siblings(self):
        sub = [{"id": 1, "depth": 0, "start": 0.0, "end": 10.0},
               {"id": 2, "depth": 1, "start": 1.0, "end": 6.0},
               {"id": 3, "depth": 1, "start": 4.0, "end": 8.0},
               {"id": 4, "depth": 2, "start": 2.0, "end": 3.0}]
        own = analyze.self_times(sub)
        self.assertEqual(own, {1: 3.0, 2: 2.0, 3: 4.0, 4: 1.0})

    def test_compare_verdicts(self):
        import compare
        base = [(s, 100.0 + s) for s in range(10)]
        faster = [(s, 50.0 + s) for s in range(10)]
        self.assertEqual(compare.verdict(base, faster, "lower", 0.1)["verdict"],
                         "improved")
        self.assertEqual(compare.verdict(faster, base, "lower", 0.1)["verdict"],
                         "regressed")
        self.assertEqual(compare.verdict(base, base, "lower", 0.1)["verdict"],
                         "same")
        noisy = [(s, 100.0 * (1 + (s % 2))) for s in range(10)]
        self.assertEqual(compare.verdict(noisy, noisy, "lower", 0.1)["verdict"],
                         "unresolved")


if __name__ == "__main__":
    unittest.main()
