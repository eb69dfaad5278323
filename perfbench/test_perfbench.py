"""Fast smoke checks for the benchmark: no JVM, no build.

    python3 -m unittest perfbench/test_perfbench.py

Set PERFBENCH_FULL=1 to also run every workload for two seconds.
"""
import json
import os
import re
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def bench():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def emitted_patterns():
    """Metric names the harness assigns, as regexes (`$c` is a probe class)."""
    pats = []
    for f in (HERE / "src").rglob("*.scala"):
        for m in re.finditer(r'metrics\(s?"([^"]+)"\)', f.read_text()):
            pats.append(re.compile("^" + re.escape(m.group(1)).replace(
                r"\$c", "[a-z_]+") + "$"))
    return pats


class BenchmarkSpec(unittest.TestCase):
    def test_contract_shape(self):
        b = bench()
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual(b["paths"], ["perfbench"])
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        self.assertEqual([w["name"] for w in b["workloads"]], run.WORKLOADS)
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        names += [w["name"] for w in b["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in b["end_to_end"]))

    def test_every_metric_is_assigned_by_the_harness(self):
        pats = emitted_patterns()
        for m in bench()["end_to_end"] + bench()["per_layer"]:
            self.assertTrue(any(p.match(m["name"]) for p in pats),
                            f"{m['name']} is never measured")


class Result(unittest.TestCase):
    def raw(self):
        b = bench()
        metrics = {m["name"]: 1.5 for m in b["end_to_end"] + b["per_layer"]}
        return {"attempted": 10, "failed": 1, "metrics": metrics, "ops": {},
                "checks": []}

    def test_untraced_emits_every_end_to_end_metric_with_its_unit(self):
        res, report = run.result(self.raw(), 1, 0.5, bench(), trace=0)
        want = {m["name"]: m["unit"] for m in bench()["end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, want)
        self.assertEqual(res["metrics"]["setup_s"]["value"], 2.0)
        self.assertEqual((res["attempted"], res["failed"], res["correct"]), (10, 2, False))
        self.assertEqual(report["error_rate"]["value"], 0.2)

    def test_traced_emits_every_per_layer_metric_with_its_unit(self):
        raw = self.raw()
        del raw["metrics"]["streaming.batch_ms"]  # a layer the workload skips
        res, _ = run.result(raw, 0, 0.0, bench(), trace=1)
        want = {m["name"]: m["unit"] for m in bench()["per_layer"]}
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, want)
        self.assertEqual(res["metrics"]["streaming.batch_ms"]["value"], 0.0)

    def test_missing_end_to_end_metric_fails_the_run(self):
        raw = self.raw()
        del raw["metrics"]["latency_p50_ms"]
        with self.assertRaises(SystemExit):
            run.result(raw, 0, 0.0, bench(), trace=0)


class Generator(unittest.TestCase):
    def test_same_seed_same_tables(self):
        import gen
        a, b, c = gen.tables(3, 0.001), gen.tables(3, 0.001), gen.tables(4, 0.001)
        self.assertEqual(list(a), gen.TABLES)
        for t in gen.TABLES:
            self.assertTrue(a[t].equals(b[t]), t)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))


class OracleCheck(unittest.TestCase):
    def test_a_wrong_result_counts_every_op_of_its_query(self):
        import tempfile
        import gen
        import pandas as pd
        with tempfile.TemporaryDirectory() as d:
            gen.write(f"{d}/data", 3, 0.001)
            n = len(pd.read_parquet(f"{d}/data/lineitem.parquet"))
            sql = "SELECT count(*) AS n FROM lineitem"
            checks = []
            for name, value in (("right", n), ("wrong", n + 1)):
                pd.DataFrame({"n": [value]}).to_parquet(f"{d}/{name}.parquet")
                checks.append({"name": name, "dir": f"{d}/{name}.parquet",
                               "sql": sql, "ops": 3})
            self.assertEqual(run.check_oracles(f"{d}/data", checks), (3, ["wrong"]))


@unittest.skipUnless(os.environ.get("PERFBENCH_FULL") == "1", "set PERFBENCH_FULL=1")
class FullRun(unittest.TestCase):
    def test_each_workload(self):
        for w in run.WORKLOADS:
            for trace in (0, 1):
                out = subprocess.run(
                    [sys.executable, str(HERE / "run.py"), "--workload", w,
                     "--seed", "1", "--seconds", "2", "--trace", str(trace)],
                    cwd=ROOT, capture_output=True, text=True, timeout=600)
                self.assertEqual(out.returncode, 0, out.stderr[-2000:])
                res = json.loads(out.stdout.strip().splitlines()[-1])
                self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(res["correct"], (w, trace))
                key = "per_layer" if trace else "end_to_end"
                self.assertEqual(set(res["metrics"]), {m["name"] for m in bench()[key]})


if __name__ == "__main__":
    unittest.main()
