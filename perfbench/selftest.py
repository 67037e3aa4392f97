#!/usr/bin/env python3
"""Self-tests for the benchmark's own code.

    python3 perfbench/selftest.py            # unit tests, a few seconds
    python3 perfbench/selftest.py --smoke    # plus one tiny run per workload

The smoke runs build the harness on first use, like run.py.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402


def load(path):
    with open(path) as f:
        return json.load(f)


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples: rank 90 has ten beyond it
        p, v, n = run.tail(xs)
        self.assertEqual((p, v, n), (90.0, 90, 100))
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(run.tail(xs), run.tail(sorted(xs)))

    def test_capped_at_p999(self):
        p, _, _ = run.tail(list(range(100000)))
        self.assertEqual(p, 99.9)

    def test_too_few_samples_fall_back_to_max(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (100.0, 3.0, 3))

    def test_median_and_geomean(self):
        self.assertEqual(run.median([3, 1, 2]), 2)
        self.assertEqual(run.median([4, 1, 2, 3]), 2.5)
        self.assertAlmostEqual(run.geomean([1, 100]), 10.0)


class MetricNames(unittest.TestCase):
    def test_valid(self):
        for n in ["setup_s", "exec.ms", "sinks.txn_write_amp", "a-b", "9lives"]:
            self.assertTrue(run.valid_name(n), n)

    def test_invalid(self):
        for n in ["", "_x", ".x", "a b", "a/b", "x" * 65, "ümlaut"]:
            self.assertFalse(run.valid_name(n), n)

    def test_units(self):
        for u in ["ms", "s", "1/s", "count", "%", "MB"]:
            self.assertTrue(run.valid_unit(u), u)
        self.assertFalse(run.valid_unit("milli seconds"))

    def test_benchmark_json(self):
        spec = run.load_spec(ROOT)
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", names)


class Determinism(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_work"))

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def same_tree(self, a, b):
        cmp = filecmp.dircmp(a, b)
        self.assertFalse(cmp.left_only or cmp.right_only or cmp.diff_files)
        for sub in cmp.common_dirs:
            self.same_tree(os.path.join(a, sub), os.path.join(b, sub))
        for f in cmp.common_files:
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), f)

    def twice(self, make):
        a, b = os.path.join(self.tmp, "a"), os.path.join(self.tmp, "b")
        make(a)
        make(b)
        self.same_tree(a, b)
        return a

    def test_tables(self):
        self.twice(lambda d: gen.tables(d, 7, 0.001))

    def test_weather(self):
        d = self.twice(lambda d: gen.weather(d, 7, n_cities=3, backfill_days=2, tick_days=1))
        other = os.path.join(self.tmp, "c")
        gen.weather(other, 8, n_cities=3, backfill_days=2, tick_days=1)
        self.assertFalse(filecmp.cmp(f"{d}/expect.json", f"{other}/expect.json", shallow=False))
        doc = load(os.path.join(d, "backfill", "2023-07-01", "London.txt"))
        fixture = load(os.path.join(
            ROOT, "src", "test", "resources", "weather", "2023-08-11", "London.txt"))
        for part in ("location", "current"):
            self.assertEqual(sorted(doc[part]), sorted(fixture[part]))

    def test_txn(self):
        d = self.twice(lambda d: gen.txn(d, 7, n_blocks=2, scale=0.001))
        ops = load(f"{d}/oplog.json")["ops"]
        self.assertEqual(len(ops), 2 * sum(n for _, n in gen.TXN_BLOCK))


def smoke():
    for w in run.WORKLOADS:
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                              "--seed", "1", "--seconds", "1", "--trace", "1", "--smoke"],
                             cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
        last = json.loads(out.stdout.strip().splitlines()[-1])
        assert out.returncode == 0 and last["correct"] and last["failed"] == 0, (w, out.stdout)
        print(f"smoke {w}: ok, {last['attempted']} attempted")


if __name__ == "__main__":
    do_smoke = "--smoke" in sys.argv
    prog = unittest.main(argv=[sys.argv[0]], exit=False)
    if not prog.result.wasSuccessful():
        sys.exit(1)
    if do_smoke:
        smoke()
