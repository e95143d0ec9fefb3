#!/usr/bin/env python3
"""Tiny-size smoke of every benchmark workload.

Run from the repository root:

    python3 -m unittest perfbench/test_smoke.py

Each workload runs at --size tiny for 2 s. The test asserts that the run
exits 0, that its last stdout line is the result object with every metric
BENCHMARK.json lists (by name and unit) for the workloads BENCHMARK.json
lists, that every metric line the harness prints carries a unit, that
error_rate is 0 and that the same seed reproduces the same generated inputs.
Takes about eight minutes on 4 cores.
"""
import json
import os
import re
import subprocess
import unittest

REPO = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
METRIC = re.compile(r"^\[perfbench\] (metric|layer) (\S+)\s+(\S+) (\S+)$")


def run(workload, seed=7, trace="0"):
    p = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "2", "--trace", trace, "--size", "tiny"],
        cwd=REPO, capture_output=True, text=True, timeout=900)
    return p


class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)
        cls.listed = [w["name"] for w in cls.spec["workloads"]]

    def check(self, workload, trace="0"):
        p = run(workload, trace=trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], "\n".join(l for l in lines if "FAILED" in l))
        self.assertGreaterEqual(result["attempted"], 1)
        printed = {}
        for ln in lines[:-1]:
            m = METRIC.match(ln)
            if m:
                printed[m.group(2)] = (float(m.group(3)), m.group(4))
        if trace == "0":
            self.assertIn("error_rate", printed)
            self.assertEqual(printed["error_rate"], (0.0, "ratio"))
        if workload in self.listed:
            wanted = self.spec["per_layer" if trace == "1" else "end_to_end"]
            self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
            for m in wanted:
                self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"], m["name"])
                self.assertEqual(printed[m["name"]][1], m["unit"], m["name"])
        return lines

    def inputs_digest(self, lines):
        return [ln for ln in lines if ln.startswith("[perfbench] inputs sha256=")]

    def test_serve(self):
        first = self.inputs_digest(self.check("serve"))
        self.assertTrue(first)
        again = run("serve")
        self.assertEqual(self.inputs_digest(again.stdout.splitlines()), first)

    def test_ingest(self):
        self.check("ingest")

    def test_corpus(self):
        self.check("corpus")

    def test_queryset(self):
        self.check("queryset")

    def test_traced(self):
        for w in self.listed:
            lines = self.check(w, trace="1")
            self.assertTrue(any("spans written" in ln for ln in lines), w)


if __name__ == "__main__":
    unittest.main()
