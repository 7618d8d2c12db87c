"""Tests of the benchmark's own helpers (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import hashlib
import json
import os
import shutil
import unittest

import gen
import run
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
SCRATCH = os.path.join(HERE, ".work", "test")


def digest_tree(root):
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        os.makedirs(SCRATCH)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def make(self, kind, seed, name):
        out = os.path.join(SCRATCH, name)
        os.makedirs(out)
        if kind == "ticks":
            gen.ticks(seed, out)
        else:
            gen.curation(seed, os.path.join(HERE, "fixture", "documents.parquet"),
                         os.path.join(out, "arrivals.parquet"))
        return digest_tree(out)

    def test_same_seed_gives_byte_identical_inputs(self):
        for kind in ("ticks", "curation"):
            a = self.make(kind, 7, f"{kind}-a")
            b = self.make(kind, 7, f"{kind}-b")
            c = self.make(kind, 8, f"{kind}-c")
            self.assertEqual(a, b, kind)
            self.assertNotEqual(a, c, kind)

    def test_ticks_are_unique_per_symbol_and_late_within_horizon(self):
        import pyarrow.parquet as pq
        out = os.path.join(SCRATCH, "t")
        os.makedirs(out)
        gen.ticks(3, out)
        seen = set()
        for f in sorted(os.listdir(out)):
            t = pq.read_table(os.path.join(out, f)).to_pydict()
            keys = list(zip(t["event_type"], t["ts"]))
            self.assertTrue(seen.isdisjoint(keys), f)
            seen.update(keys)
            if f != "events_0000.parquet":
                oldest = min(t["ts"]).timestamp() * 1000
                newest = max(t["ts"]).timestamp() * 1000
                self.assertLess(newest - oldest, (gen.LATE_DAYS + 1) * gen.DAY_MS)


class TailTest(unittest.TestCase):
    def test_tail_leaves_ten_samples_beyond(self):
        for n in range(1, 300):
            values = [float(i) for i in range(n)]
            t = stats.tail(values)
            if n <= stats.TAIL_BEYOND:
                self.assertIsNone(t)
                continue
            value, pct, count = t
            self.assertEqual(count, n)
            self.assertEqual(sum(v > value for v in values), stats.TAIL_BEYOND)
            self.assertAlmostEqual(pct, 100.0 * (n - stats.TAIL_BEYOND) / n)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": 1, "parent": 0, "name": "query", "start_ns": 0, "end_ns": 100},
            {"id": 2, "parent": 1, "name": "execute", "start_ns": 10, "end_ns": 60},
            {"id": 3, "parent": 1, "name": "plan", "start_ns": 50, "end_ns": 70},
            {"id": 4, "parent": 2, "name": "plan", "start_ns": 20, "end_ns": 30},
        ]
        s = stats.self_times(spans)
        self.assertAlmostEqual(s["query"], 40 / 1e9)
        self.assertAlmostEqual(s["execute"], 40 / 1e9)
        self.assertAlmostEqual(s["plan"], 30 / 1e9)


class OutputTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            self.bench = json.load(f)
        os.makedirs(SCRATCH, exist_ok=True)
        with open(os.path.join(SCRATCH, "spans.jsonl"), "w") as f:
            f.write(json.dumps({"id": 1, "parent": 0, "trace": 1, "name": "query",
                                "start_ns": 0, "end_ns": 5}) + "\n")
        self.res = {"attempted": 30, "failed": 1, "setup_s": [3.0, 1.0, 2.0],
                    "mem_held_bytes": 2e6, "ops_s": [0.1 * i for i in range(1, 21)],
                    "pass_s": [4.0, 5.0], "layers": {"construct_s": 1.5}}

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def check(self, printed, declared):
        self.assertEqual(set(printed), {m["name"] for m in declared})
        for m in declared:
            self.assertEqual(printed[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(printed[m["name"]]["value"], float)

    def test_untraced_run_prints_every_end_to_end_metric(self):
        self.check(run.metrics(self.res, False, SCRATCH), self.bench["end_to_end"])

    def test_traced_run_prints_every_per_layer_metric(self):
        printed = run.metrics(self.res, True, SCRATCH)
        self.check(printed, self.bench["per_layer"])
        self.assertEqual(printed["construct_s"]["value"], 1.5)

    def test_end_to_end_values(self):
        m = run.metrics(self.res, False, SCRATCH)
        self.assertEqual(m["setup_s"]["value"], 2.0)
        self.assertAlmostEqual(m["ok_frac"]["value"], 29 / 30)
        self.assertEqual(m["pass_s"]["value"], 4.5)


if __name__ == "__main__":
    unittest.main()
