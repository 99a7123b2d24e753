#!/usr/bin/env python3
"""The benchmark's own tests: the spec, the contract line, the bare
directory, and generator determinism.

    python3 mktbench/test_contract.py      # from the repo root
"""
import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class SpecTest(unittest.TestCase):
    def test_keys_and_limits(self):
        s = spec()
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})
        self.assertLessEqual(os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")), 64 * 1024)
        self.assertTrue(1 <= len(s["paths"]) <= 16)
        for p in s["paths"]:
            self.assertRegex(p, r"^[A-Za-z0-9_./-]{1,200}$")
            self.assertFalse(p.startswith("/") or ".." in p.split("/"))
        self.assertTrue(len(s["command"]) <= 32 and all(len(c) <= 200 for c in s["command"]))
        self.assertTrue(isinstance(s["run_seconds"], int) and 1 <= s["run_seconds"] <= 60)
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        names = []
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertTrue(len(w["why"]) <= 200 and "\n" not in w["why"])
            names.append(w["name"])
        self.assertLessEqual({w["name"] for w in s["workloads"]}, set(run.WORKLOADS))
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
            names.append(m["name"])
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in s["end_to_end"])}])
        self.assertTrue(1 <= len(s["per_layer"]) <= 128)
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            names.append(m["name"])
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))


class ContractLineTest(unittest.TestCase):
    def result(self) -> dict:
        s = spec()
        long = 1234567.8901234567
        return {"attempted": 30799, "failed": 0, "setup_s": long,
                "e2e": {m["name"]: long for m in s["end_to_end"] if m["name"] != "setup_s"},
                "layers": {m["name"]: long for m in s["per_layer"]}, "extra": {"completed": True}}

    def check(self, trace: bool, names: list) -> None:
        line = run.contract_line(self.result(), spec(), trace)
        self.assertLessEqual(len(line.encode()), 2000)
        self.assertNotIn("\n", line)
        d = json.loads(line)
        self.assertEqual(set(d), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(d["correct"], True)
        self.assertEqual((d["attempted"], d["failed"]), (30799, 0))
        self.assertEqual(list(d["metrics"]), names)
        for v in d["metrics"].values():
            self.assertEqual(set(v), {"value", "unit"})

    def test_untraced_line(self):
        self.check(False, [m["name"] for m in spec()["end_to_end"]])

    def test_traced_line(self):
        self.check(True, [m["name"] for m in spec()["per_layer"]])

    def test_failures_make_it_incorrect(self):
        r = self.result()
        r["failed"] = 3
        self.assertIs(json.loads(run.contract_line(r, spec(), False))["correct"], False)
        r["failed"], r["extra"]["completed"] = 0, False
        self.assertIs(json.loads(run.contract_line(r, spec(), False))["correct"], False)


class BareDirectoryTest(unittest.TestCase):
    def test_fails_without_printing_a_result(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for p in spec()["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                                ignore=shutil.ignore_patterns("__pycache__"))
            cmd = spec()["command"] + ["--workload", spec()["workloads"][0]["name"], "--seed", "1",
                                       "--seconds", "1", "--trace", "0"]
            p = subprocess.run(cmd, cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn("metrics", p.stdout)


class GeneratorTest(unittest.TestCase):
    def gen(self, d: str, seed: int) -> None:
        subprocess.run([sys.executable, os.path.join(HERE, "market_gen.py"), "--root", d,
                        "--seed", str(seed), "--seconds", "3",
                        "--start-ms", "1700000000000", "--summary", os.path.join(d, "s.json")],
                       check=True)

    def same(self, a: str, b: str) -> bool:
        return all(not filecmp.dircmp(os.path.join(a, t), os.path.join(b, t)).diff_files
                   and filecmp.cmp(os.path.join(a, t, f), os.path.join(b, t, f), shallow=False)
                   for t in ("orders", "invests", "prices")
                   for f in os.listdir(os.path.join(a, t)))

    def test_market_inputs_follow_the_seed(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            self.gen(a, 7)
            self.gen(b, 7)
            self.gen(c, 8)
            self.assertTrue(self.same(a, b))
            self.assertFalse(self.same(a, c))
            with open(os.path.join(a, "s.json")) as f:
                s = json.load(f)
            self.assertEqual((s["ticks"], s["orders_per_tick"], s["invests_per_tick"]), (15, 200, 10))
            with open(os.path.join(a, "orders", "orders_000000.json")) as f:
                first = json.loads(f.readline())
            self.assertEqual(first["value"]["time"], "2023-11-14T22:13:20.000Z")
            self.assertEqual(first["value"]["txnId"], "o0")

    def test_tables_are_fixed(self):
        with tempfile.TemporaryDirectory() as d:
            for x in "ab":
                subprocess.run([sys.executable, os.path.join(HERE, "gen_tables.py"),
                                os.path.join(d, x), "--sf", "0.001"], check=True)
            for t in os.listdir(os.path.join(d, "a")):
                self.assertTrue(filecmp.cmp(os.path.join(d, "a", t), os.path.join(d, "b", t),
                                            shallow=False), t)


if __name__ == "__main__":
    unittest.main()
