"""Self-tests of the benchmark's own Python code (no JVM, no Spark).

Run from the repo root:  python3 -m unittest perfbench/test_perfbench.py
"""
import argparse
import csv
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import compare  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def files(d):
    out = {}
    for dp, _, fs in os.walk(d):
        for f in fs:
            with open(os.path.join(dp, f), "rb") as h:
                out[os.path.relpath(os.path.join(dp, f), d)] = h.read()
    return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            for w in gen.WORKLOADS:
                m1 = gen.generate(w, 7, f"{t}/{w}/a")
                m2 = gen.generate(w, 7, f"{t}/{w}/b")
                gen.generate(w, 8, f"{t}/{w}/c")
                self.assertEqual(m1, m2)
                self.assertEqual(files(f"{t}/{w}/a"), files(f"{t}/{w}/b"))
                self.assertNotEqual(files(f"{t}/{w}/a"), files(f"{t}/{w}/c"))
                for e in m1:
                    self.assertGreater(e["rows"], 0)
                    self.assertGreater(e["columns"], 0)
                    self.assertEqual(e["bytes"], os.path.getsize(f"{t}/{w}/a/{e['file']}"))

    def test_unknown_workload_is_refused(self):
        with tempfile.TemporaryDirectory() as t:
            with self.assertRaisesRegex(ValueError, "unknown workload 'nope'"):
                gen.generate("nope", 1, t)


class LoaderTest(unittest.TestCase):
    def write(self, text):
        f = tempfile.NamedTemporaryFile("w", suffix=".txt", delete=False)
        f.write(text)
        f.close()
        self.addCleanup(os.unlink, f.name)
        return f.name

    def test_panel_file_is_valid(self):
        names = run.load_panel(os.path.join(HERE, "panel.txt"))
        self.assertEqual(len(names), len(set(names)))
        spec = load_spec()
        layer = {m["name"] for m in spec["per_layer"]}
        for fam in {re.match(r"[a-z]+", n).group(0) for n in names}:
            self.assertIn(f"panel.{fam}_s", layer)
            self.assertIn(f"panel.{fam}.jobs", layer)

    def test_panel_loader_fails_loudly(self):
        with self.assertRaisesRegex(run.BenchError, "listed twice"):
            run.load_panel(self.write("a1_x\na1_x\n"))
        with self.assertRaisesRegex(run.BenchError, "bad query name 'a1 x'"):
            run.load_panel(self.write("a1 x\n"))
        with self.assertRaisesRegex(run.BenchError, "empty panel"):
            run.load_panel(self.write("# only a comment\n"))

    def test_metric_selection_fails_loudly(self):
        declared = [{"name": "a", "unit": "s"}, {"name": "panel.x_s", "unit": "s"},
                    {"name": "eda.y_s", "unit": "s"}]
        got = run.select_metrics({"a": 1.5, "eda.y_s": 2.0}, declared, "eda_pipeline")
        self.assertEqual(got["panel.x_s"], {"value": 0.0, "unit": "s"})
        self.assertEqual(list(got), ["a", "panel.x_s", "eda.y_s"])
        with self.assertRaisesRegex(run.BenchError, r"not declared.*'zzz'"):
            run.select_metrics({"a": 1, "eda.y_s": 1, "zzz": 1}, declared, "eda_pipeline")
        with self.assertRaisesRegex(run.BenchError, r"not produced.*'eda.y_s'"):
            run.select_metrics({"a": 1}, declared, "eda_pipeline")
        with self.assertRaisesRegex(run.BenchError, r"not produced.*'a'"):
            run.select_metrics({"eda.y_s": 1}, declared, "eda_pipeline")


class SpecTest(unittest.TestCase):
    def test_memory_metric_leaves_out_the_heap_setting(self):
        r = {"units_s": [3.0, 1.0, 2.0],
             "memory": {"vmhwm_mb": 2650.0, "heap_committed_mb": 2048.0, "nonheap_peak_mb": 290.0}}
        self.assertEqual(run.e2e_metrics(r, 4.0),
                         {"setup_s": 4.0, "op_p50_s": 2.0, "peak_offheap_rss_mb": 602.0})
        # the heap is resident in full, so subtracting it is exact
        self.assertIn("-XX:+AlwaysPreTouch", run.JVM_OPTS)
        self.assertEqual({o[4:] for o in run.JVM_OPTS if o.startswith(("-Xms", "-Xmx"))}, {"2g"})

    def test_benchmark_json_contract(self):
        spec = load_spec()
        self.assertEqual(set(spec), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        self.assertEqual(spec["paths"], ["perfbench"])
        self.assertTrue(1 <= spec["run_seconds"] <= 60)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(gen.WORKLOADS))
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + \
            [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in spec["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        self.assertIn({"name": "setup_s", "unit": "s", "better": "lower",
                       "bound": max(m["bound"] for m in spec["end_to_end"])}, spec["end_to_end"])
        for m in spec["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertIn(m["better"], ("lower", "higher"))


class EdaCheckTest(unittest.TestCase):
    def test_correct_outputs_pass_and_a_wrong_count_fails(self):
        with tempfile.TemporaryDirectory() as t:
            gen.generate("eda_pipeline", 3, f"{t}/in")
            truth = checks.eda_truth(f"{t}/in")
            n, sums, co = truth["n"], truth["sums"], truth["co"]
            out = f"{t}/run"
            os.makedirs(out)

            def write(name, header, rows):
                with open(f"{out}/{name}", "w", newline="") as f:
                    w = csv.writer(f)
                    w.writerow(header)
                    w.writerows(rows)
            targets = list(sums)
            write("target_stats.csv", ["target", "family", "positive_count", "positive_rate"],
                  [(x, x.split("_")[1], sums[x], repr(sums[x] / n)) for x in targets])
            pairs = [(a, b) for i, a in enumerate(targets) for b in targets[i + 1:]]
            write("target_pair_stats.csv",
                  ["col_a", "col_b", "count_a", "count_b", "co_count", "pair_lift"],
                  [(a, b, sums[a], sums[b], co[frozenset((a, b))],
                    repr((co[frozenset((a, b))] / n) / (sums[a] / n * sums[b] / n))
                    if sums[a] and sums[b] else "NaN") for a, b in pairs])
            write("opened_targets_distribution.csv", ["n_opened", "n_customers"],
                  sorted(truth["opened"].items()))
            self.assertIsNone(checks.check_eda_run(out, truth))
            with open(f"{out}/target_stats.csv", newline="") as f:
                rows = list(csv.reader(f))
            rows[1][2] = str(int(rows[1][2]) + 1)
            write("target_stats.csv", rows[0], rows[1:])
            self.assertIn("count/rate differs", checks.check_eda_run(out, truth))
            os.unlink(f"{out}/target_pair_stats.csv")
            self.assertIsNotNone(checks.check_eda(f"{t}/in", [out])[out])


class PanelCheckTest(unittest.TestCase):
    def test_oracle_match_mismatch_and_missing(self):
        import pandas as pd
        with tempfile.TemporaryDirectory() as t:
            os.makedirs(f"{t}/in")
            pd.DataFrame({"k": [1, 2, 3], "v": [1.5, 2.5, 3.5]}).to_parquet(f"{t}/in/tbl.parquet")
            for q, df in {"q_ok": pd.DataFrame({"k": [3, 1, 2]}),
                          "q_bad": pd.DataFrame({"k": [1, 2]})}.items():
                os.makedirs(f"{t}/out/{q}")
                df.to_parquet(f"{t}/out/{q}/part-0.parquet")
            oracle = {"q_ok": "SELECT k FROM tbl", "q_bad": "SELECT k FROM tbl"}
            res = checks.check_panel(f"{t}/in", f"{t}/out", oracle,
                                     ["q_ok", "q_bad", "q_none", "q_nothing"])
            self.assertIsNone(res["q_ok"])
            self.assertIn("rows 2 vs oracle 3", res["q_bad"])
            self.assertEqual(res["q_none"], "no oracle SQL declared")
            oracle["q_nothing"] = "SELECT 1"
            self.assertEqual(checks.check_panel(f"{t}/in", f"{t}/out", oracle, ["q_nothing"]),
                             {"q_nothing": "no result written"})


class CompareTest(unittest.TestCase):
    def test_every_run_measures_the_benchmark_run_seconds(self):
        spec = load_spec()
        calls = []

        def fake(checkout, workload, seed, seconds, trace):
            calls.append((checkout, seed, seconds, trace))
            return {"correct": True, "attempted": 1, "failed": 0, "metrics": {}}
        args = argparse.Namespace(parent="p", change="c", workload=["eda_pipeline"], seeds="1-2")
        with mock.patch.object(compare, "run_once", fake):
            rows = compare.collect(args, spec)
        self.assertEqual({c[2] for c in calls}, {spec["run_seconds"]})
        # pairs alternate which side runs first; one traced run per side
        self.assertEqual([c[:2] for c in calls if c[3] == 0],
                         [("p", 1), ("c", 1), ("c", 2), ("p", 2)])
        self.assertEqual(sum(r["trace"] for r in rows), 2)

    def test_claim_rule(self):
        p = compare.quartiles([10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2])
        fast = compare.quartiles([8.0, 8.1, 7.9, 8.2, 8.0, 8.1, 7.9, 8.0, 8.1, 8.0])
        self.assertEqual(compare.verdict(-1, p, fast, 10, 10, 0.1, True), "GAIN")
        self.assertEqual(compare.verdict(-1, p, fast, 8, 10, 0.1, False), "flat")
        slow = compare.quartiles([12.0] * 10)
        self.assertEqual(compare.verdict(-1, p, slow, 0, 10, 0.1, False), "REGRESSION")
        wide = compare.quartiles([5.0, 15.0, 5.0, 15.0, 10.0, 10.0, 5.0, 15.0, 10.0, 10.0])
        self.assertEqual(compare.verdict(-1, wide, slow, 3, 10, 0.1, False), "unresolved")

    def test_report_prints_medians_wins_and_count_deltas(self):
        spec = load_spec()

        def res(v, jobs=None):
            m = {x["name"]: {"value": v, "unit": x["unit"]} for x in spec["end_to_end"]}
            if jobs is not None:
                m = {"spark.jobs": {"value": jobs, "unit": "count"}}
            return {"correct": True, "attempted": 1, "failed": 0, "metrics": m}
        rows = [{"side": s, "workload": "eda_pipeline", "seed": i, "trace": 0,
                 "result": res(10.0 + i if s == "parent" else 5.0 + i)}
                for i in range(10) for s in ("parent", "change")]
        rows += [{"side": "parent", "workload": "eda_pipeline", "seed": 0, "trace": 1,
                  "result": res(0, 250)},
                 {"side": "change", "workload": "eda_pipeline", "seed": 0, "trace": 1,
                  "result": res(0, 240)}]
        text = compare.report(rows, spec)
        self.assertRegex(text, r"op_p50_s .*change won 10/10")
        self.assertIn("spark.jobs", text)
        self.assertIn("(-10)", text)


class NoProgramTest(unittest.TestCase):
    def test_exits_nonzero_without_a_result_when_sources_are_absent(self):
        with tempfile.TemporaryDirectory() as t:
            subprocess.run(["cp", "-r", HERE, os.path.join(ROOT, "BENCHMARK.json"), t], check=True)
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "eda_pipeline",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=t, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")
            self.assertIn("no program sources", p.stderr)


if __name__ == "__main__":
    unittest.main()
