#!/usr/bin/env python3
"""The benchmark's own tests, on tiny inputs.

    python3 perfbench/test_perfbench.py

1. The same seed gives byte-identical logs and tables.
2. The engine's `ingest.records_*` and `ingest.keys_out` counts equal the
   generator's counts (one traced smoke run, which builds the harness first
   if needed).
3. A planted wrong snapshot or changelog fails the gate.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, n), root)
                  for d, _, names in os.walk(root) for n in names)


class Generators(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=os.path.join(HERE, "target"))

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def write_all(self, sub, seed):
        root = os.path.join(self.tmp, sub)
        log = gen.make_log(seed, 3000)
        gen.write_kafka_parquet(log, os.path.join(root, "parquet"))
        gen.write_kafkalog(log, os.path.join(root, "kafkalog"), segment_records=500)
        gen.write_tables(os.path.join(root, "tables"), seed, 0.002)
        return root

    def test_same_seed_gives_byte_identical_inputs(self):
        a, b = self.write_all("a", 5), self.write_all("b", 5)
        names = _files(a)
        self.assertEqual(names, _files(b))
        self.assertGreater(len(names), 20)
        _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_log(self):
        x, y = gen.make_log(5, 3000), gen.make_log(6, 3000)
        self.assertNotEqual(x["value"], y["value"])

    def test_log_shape(self):
        log = gen.make_log(9, 20000)
        c = gen.log_counts(log)
        self.assertEqual(c["records_in"], 20000)
        self.assertTrue(100 <= c["records_corrupt"] <= 300)  # about 1%
        self.assertEqual(c["keys_out"], len(log["expected"]))
        # one partition per id, so an id's highest offset is unique
        per_id = {}
        for i, p in zip(log["id"], log["partition"]):
            self.assertEqual(per_id.setdefault(int(i), int(p)), int(p))


class Gates(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=os.path.join(HERE, "target"))
        self.log = gen.make_log(3, 2000)
        self.expected = self.log["expected"]

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def snapshot(self, pairs):
        d = tempfile.mkdtemp(dir=self.tmp)
        with open(os.path.join(d, "part-00000.txt"), "w") as fh:
            for i, m in pairs:
                fh.write(json.dumps({"id": i, "msg": m}) + "\n")
        return d

    def test_snapshot_gate(self):
        good = sorted(self.expected.items())
        self.assertIsNone(run.gate_snapshot(self.snapshot(good), self.expected))
        planted = [(i, m if k else m + "x") for k, (i, m) in enumerate(good)]
        self.assertIsNotNone(run.gate_snapshot(self.snapshot(planted), self.expected))
        self.assertIsNotNone(run.gate_snapshot(self.snapshot(good[1:]), self.expected))
        self.assertIsNotNone(run.gate_snapshot(self.snapshot(good + good[:1]), self.expected))

    def test_changelog_gate(self):
        path = os.path.join(self.tmp, "changelog.jsonl")
        with open(path, "w") as fh:
            for i, m in self.expected.items():
                fh.write(json.dumps({"id": i, "version": 1, "msg": "older"}) + "\n")
                fh.write(json.dumps({"id": i, "version": 2, "msg": m}) + "\n")
        n = len(self.expected)
        self.assertIsNone(run.gate_changelog(path, self.expected, n))
        self.assertIsNotNone(run.gate_changelog(path, self.expected, n - 1))
        i0 = next(iter(self.expected))
        with open(path, "a") as fh:
            fh.write(json.dumps({"id": i0, "version": 3, "msg": "planted"}) + "\n")
        self.assertIsNotNone(run.gate_changelog(path, self.expected, n))


class TracedSmokeRun(unittest.TestCase):
    def test_engine_counts_equal_generator_counts(self):
        seed = 7
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "ingest_snapshot",
             "--seed", str(seed), "--seconds", "1", "--trace", "1", "--size", "smoke"],
            capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertTrue(result["correct"], p.stdout[-3000:])
        self.assertEqual(result["failed"], 0)
        counts = gen.log_counts(gen.make_log(seed, run.SIZES["smoke"]["snapshot_records"]))
        for k, v in counts.items():
            self.assertEqual(result["metrics"][f"ingest.{k}"]["value"], v, k)


if __name__ == "__main__":
    unittest.main()
