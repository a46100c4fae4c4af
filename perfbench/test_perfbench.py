#!/usr/bin/env python3
"""Self-tests of the graft benchmark.

    python3 perfbench/test_perfbench.py              # fast checks
    PERFBENCH_SLOW=1 python3 perfbench/test_perfbench.py   # + determinism runs

Run from the root of a checkout. The fast checks cover the strict JSON
reader and BENCHMARK.json's shape. The slow checks run every workload
traced, twice with one seed (for `run_seconds` and for 1 s) and once
with another, each time with the benchmark's own command. A run takes its counts after the first timed
deck, so they do not depend on how many decks fit in `--seconds`: the
same seed must give identical input digests and identical counts (scan
tasks, fragments, live rows, near-dup pairs; manifest bytes within 1%,
see below), and another seed different inputs.
"""
import json
import os
import re
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


def spec():
    with open("BENCHMARK.json") as fh:
        text = fh.read()
    return text, run.load_strict(text)


class StrictJson(unittest.TestCase):
    def test_duplicate_keys_rejected(self):
        with self.assertRaises(ValueError):
            run.load_strict('{"phases": {"compact.adopt": 1, "compact.adopt": 2}}')

    def test_non_finite_rejected(self):
        with self.assertRaises(ValueError):
            run.load_strict('{"x": NaN}')

    def test_plain_object_accepted(self):
        self.assertEqual(run.load_strict('{"a": {"b": [1, 2.5]}}'), {"a": {"b": [1, 2.5]}})


class BenchmarkSpec(unittest.TestCase):
    def test_shape(self):
        text, s = spec()
        self.assertLessEqual(len(text.encode()), 64 * 1024)
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(1 <= len(s["paths"]) <= 16)
        for p in s["paths"]:
            self.assertRegex(p, PATH)
            self.assertFalse(p.startswith("/") or ".." in p.split("/"))
        self.assertTrue(1 <= len(s["command"]) <= 32)
        self.assertTrue(all(len(c) <= 200 and not c.startswith("/") for c in s["command"]))
        self.assertIsInstance(s["run_seconds"], int)
        self.assertTrue(1 <= s["run_seconds"] <= 60)

    def test_workloads(self):
        _, s = spec()
        ws = s["workloads"]
        self.assertTrue(2 <= len(ws) <= 8)
        for w in ws:
            self.assertEqual(set(w), {"name", "why"})
            self.assertRegex(w["name"], NAME)
            self.assertTrue(0 < len(w["why"]) <= 200 and "\n" not in w["why"])
        self.assertEqual([w["name"] for w in ws], list(run.WORKLOADS))

    def test_metrics(self):
        _, s = spec()
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
        names += [w["name"] for w in s["workloads"]]
        self.assertEqual(len(names), len(set(names)), "names must be unique")
        self.assertTrue(1 <= len(s["end_to_end"]) <= 16)
        self.assertTrue(1 <= len(s["per_layer"]) <= 128)
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))


@unittest.skipUnless(os.environ.get("PERFBENCH_SLOW") == "1", "set PERFBENCH_SLOW=1")
class Determinism(unittest.TestCase):
    def artifact(self, workload, seed, seconds):
        cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"]
        done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        self.assertEqual(done.returncode, 0, done.stdout[-2000:])
        last = json.loads(done.stdout.strip().splitlines()[-1])
        self.assertTrue(last["correct"])
        path = os.path.join(".bench_build", "perfbench", "artifacts", f"{workload}-s{seed}-t1.json")
        with open(path) as fh:
            return run.load_strict(fh.read())

    def test_same_seed_same_counts(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                # the second run is shorter: counts must not depend on it
                a, b = self.artifact(w, 7, spec()[1]["run_seconds"]), self.artifact(w, 7, 1)
                # manifests are stored gzip-compressed and hold random file
                # names and commit times, so their size moves by a few bytes
                # between identical runs; every other count repeats exactly
                ma, mb = a["counts"].pop("manifest_bytes"), b["counts"].pop("manifest_bytes")
                self.assertLessEqual(abs(ma - mb), 0.01 * ma)
                self.assertEqual(a["counts"], b["counts"])
                c = self.artifact(w, 8, 1)
                inputs = [k for k in a["counts"] if k.startswith("input.")]
                self.assertTrue(inputs)
                self.assertTrue(all(a["counts"][k] != c["counts"][k] for k in inputs))


if __name__ == "__main__":
    unittest.main()
