"""Tests of the benchmark's own logic (not of the engine).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import shutil
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
import run
import spans


def _digests(root):
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@unittest.skipUnless(os.path.isdir(gen.SF_DIR), "sf0.1 source tables not available")
class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_gives_byte_identical_inputs(self):
        for w in gen.WORKLOADS:
            a, b = os.path.join(self.tmp, w + "-a"), os.path.join(self.tmp, w + "-b")
            gen.generate(w, 7, a)
            gen.generate(w, 7, b)
            self.assertEqual(_digests(a), _digests(b), w)

    def test_other_seed_permutes_the_sources(self):
        a, b = os.path.join(self.tmp, "a"), os.path.join(self.tmp, "b")
        gen.generate("intraday", 1, a)
        gen.generate("intraday", 2, b)
        da, db = _digests(a), _digests(b)
        self.assertNotEqual({k: v for k, v in da.items() if "/orders.parquet/" in k},
                            {k: v for k, v in db.items() if "/orders.parquet/" in k})
        # the design set itself does not depend on the seed
        self.assertEqual({k: v for k, v in da.items() if k.startswith("designs")},
                         {k: v for k, v in db.items() if k.startswith("designs")})


def _span(i, parent, kind, start, end, name="x", cycle=0):
    return {"id": i, "parent": parent, "kind": kind, "name": name, "start": float(start),
            "end": float(end), "run": "t", "cycle": cycle}


class SelfTimeTest(unittest.TestCase):
    def test_union_counts_overlap_once_and_clips(self):
        self.assertEqual(spans.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(spans.union_length([(0, 10), (5, 15)], 2, 12), 10)
        self.assertEqual(spans.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(spans.union_length([]), 0)

    def test_self_time_of_nested_and_overlapping_children(self):
        cycle = _span(0, None, "cycle", 0, 100)
        cmd = _span(1, 0, "command", 10, 90)
        rel_a = _span(2, 1, "relation", 20, 60)
        rel_b = _span(3, 1, "relation", 40, 80)    # overlaps rel_a (concurrent builds)
        stage = _span(4, 2, "stage", 30, 70)       # runs past its parent's end
        got = spans.self_times([cycle, cmd, rel_a, rel_b, stage])
        self.assertEqual(got[0], 20)    # 100 - 80 covered by the command
        self.assertEqual(got[1], 20)    # 80 - union(20..80)
        self.assertEqual(got[2], 10)    # 40 - the stage's part inside it (30..60)
        self.assertEqual(got[3], 40)
        self.assertEqual(got[4], 40)

    def test_layer_table_sums_to_wall_and_prefers_deepest_span(self):
        sp = [_span(0, None, "cycle", 0, 100), _span(1, 0, "command", 10, 90, "build"),
              _span(2, 1, "relation", 20, 60), _span(3, 1, "relation", 40, 80),
              _span(4, 2, "sql", 25, 55), _span(5, 4, "plan", 25, 30),
              _span(6, 4, "stage", 30, 50), _span(7, 4, "stage", 45, 70)]
        table = spans.layer_table(sp, 0, 100)
        self.assertAlmostEqual(sum(table.values()), 100)
        self.assertEqual(table["unattributed"], 20)
        self.assertEqual(table["stage"], 40)          # 30..70, overlap counted once
        self.assertEqual(table["plan"], 5)
        self.assertNotIn("sql", table)                # fully covered by plan and stages
        self.assertEqual(table["relation"], 15)       # 20..25 and 70..80
        self.assertEqual(table["command:build"], 20)  # 10..20 and 80..90


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertEqual(run.tail_percentile(list(range(19)))[:2], (None, None))
        self.assertEqual(run.tail_percentile(list(range(20))), (50, 9, 20))
        self.assertEqual(run.tail_percentile(list(range(39))), (50, 19, 39))
        self.assertEqual(run.tail_percentile(list(range(40))), (75, 29, 40))
        self.assertEqual(run.tail_percentile(list(range(100))), (90, 89, 100))
        self.assertEqual(run.tail_percentile(list(range(1000))), (99, 989, 1000))
        self.assertEqual(run.tail_percentile(list(range(10000))), (99.9, 9989, 10000))

    def test_unsorted_input(self):
        xs = [5.0] * 10 + [1.0] * 10
        self.assertEqual(run.tail_percentile(xs), (50, 1.0, 20))


class OracleTest(unittest.TestCase):
    """A wrong row in the oracle must surface as a failed operation."""

    def setUp(self):
        self.work = tempfile.mkdtemp()
        src = os.path.join(self.work, "sources", "t.parquet")
        os.makedirs(src)
        table = pa.table({"k": pa.array([1, 2, 3], pa.int64()), "s": ["a", "b", "c"]})
        pq.write_table(table, os.path.join(src, "part-0.parquet"))
        self.built = os.path.join(self.work, "warehouse", "dw.t", "1")
        os.makedirs(self.built)
        pq.write_table(table, os.path.join(self.built, "part-0.parquet"))

    def tearDown(self):
        shutil.rmtree(self.work)

    def _check(self, expected_sql):
        spec = {"workload": "nightly_load", "sources": {"src_t": "sources/t.parquet"},
                "expected": [["dw.t", expected_sql]], "unloaded": []}
        return oracle.check(self.work, spec, {"tables": {"dw.t": self.built}})

    def test_matching_oracle_passes(self):
        checks, mismatches = self._check("SELECT k, s FROM src_t")
        self.assertEqual((checks, mismatches), (1, []))

    def test_injected_wrong_row_raises_failed_ratio(self):
        checks, mismatches = self._check(
            "SELECT k, CASE WHEN k = 2 THEN 'wrong' ELSE s END AS s FROM src_t")
        self.assertEqual(len(mismatches), 1)
        attempted, failures = run.tally({"attempted": 10, "failures": []}, checks, mismatches)
        self.assertGreater(len(failures) / attempted, 0)

    def test_unpublished_table_is_a_failure(self):
        spec = {"workload": "nightly_load", "sources": {"src_t": "sources/t.parquet"},
                "expected": [["dw.t", "SELECT k, s FROM src_t"]], "unloaded": []}
        checks, mismatches = oracle.check(self.work, spec, {"tables": {}})
        self.assertEqual(len(mismatches), 1)


if __name__ == "__main__":
    unittest.main()
