"""Tests of the benchmark's own arithmetic and input generation.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import filecmp
import os
import shutil
import tempfile
import unittest

import pyarrow.parquet as pq

import gen
import ledger


class PercentileRule(unittest.TestCase):
    def test_median_needs_one_sample(self):
        self.assertEqual(ledger.percentile([3.0], 0.5), 3.0)
        self.assertEqual(ledger.percentile([1, 2, 3, 4], 0.5), 2.5)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(ledger.percentile(range(99), 0.9))
        self.assertEqual(ledger.percentile(range(100), 0.9), 89)
        self.assertIsNone(ledger.percentile(range(39), 0.75))
        self.assertEqual(ledger.percentile(range(40), 0.75), 29)

    def test_highest_supported_tail(self):
        self.assertEqual(ledger.tail_percentile(range(1000))[0], 0.99)
        self.assertEqual(ledger.tail_percentile(range(200))[0], 0.95)
        self.assertEqual(ledger.tail_percentile(range(199))[0], 0.9)
        self.assertEqual(ledger.tail_percentile(range(45))[0], 0.75)
        self.assertEqual(ledger.tail_percentile([5, 1, 3]), (0.5, 3))

    def test_empty(self):
        self.assertIsNone(ledger.percentile([], 0.5))


class Throughput(unittest.TestCase):
    def op(self, kind, wall, query=None):
        return {"kind": kind, "wall_s": wall, "label": f"{query}@slice0"}

    def test_group_medians(self):
        ops = [self.op("increment", w) for w in (2.0, 3.0, 30.0)]
        ops += [self.op("report", w, "q02") for w in (1.0, 1.0)]
        ops += [self.op("report", w, "q14") for w in (0.5, 0.5)]
        self.assertAlmostEqual(ledger.ops_per_s(ops), 7 / (9 + 2 + 1))

    def test_one_group_is_the_inverse_median(self):
        ops = [self.op("search", w) for w in (1.0, 2.0, 4.0, 100.0)]
        self.assertAlmostEqual(ledger.ops_per_s(ops), 1 / 3.0)


class UnionOfIntervals(unittest.TestCase):
    def union(self, intervals):
        return sum(ledger.split_union([("x", s, e) for s, e in intervals])
                   .values())

    def test_union(self):
        self.assertEqual(self.union([]), 0)
        self.assertEqual(self.union([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(self.union([(0, 10), (2, 3)]), 10)
        self.assertEqual(self.union([(0, 5), (5, 7)]), 7)

    def test_split_shares_overlap(self):
        share = ledger.split_union([("a", 0, 10), ("b", 5, 15), ("a", 12, 14)])
        self.assertAlmostEqual(share["a"], 5 + 2.5 + 1)
        self.assertAlmostEqual(share["b"], 2.5 + 2 + 1 + 1)
        self.assertAlmostEqual(sum(share.values()), 15)

    def op(self, jobs, start=100, end=200):
        op = {"id": 7, "start": start, "end": end, "layer": "operators"}
        spans = [dict(id=i, op="7", exec=None, stages=[], details=d,
                      start=s, end=e) for i, (s, e, d) in enumerate(jobs)]
        return ledger.op_ledger(op, spans, {}, [], [])

    def test_self_time_is_wall_minus_union(self):
        rec = self.op([(110, 150, "graft.sources.Tables$.overwrite(x)"),
                       (140, 160, "graft.state.WatermarkStore.read(x)"),
                       (180, 190, "")])
        self.assertEqual(rec["wall_ms"], 100)
        self.assertAlmostEqual(rec["self_ms"], 40)
        self.assertAlmostEqual(rec["in_job_ms"]["sources"], 35)
        self.assertAlmostEqual(rec["in_job_ms"]["state"], 15)
        self.assertAlmostEqual(rec["in_job_ms"]["operators"], 10)
        self.assertAlmostEqual(sum(rec["in_job_ms"].values()) + rec["self_ms"],
                               rec["wall_ms"])

    def test_jobs_are_clipped_to_the_op(self):
        rec = self.op([(90, 120, ""), (190, 260, "")])
        self.assertAlmostEqual(rec["self_ms"], 70)


class FrameToModule(unittest.TestCase):
    def test_innermost_engine_frame_wins(self):
        stack = ("org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1)\n"
                 "graft.sources.Tables$.overwrite(Tables.scala:150)\n"
                 "graft.pipeline.SeismicPipeline$.runIncremental(S.scala:9)\n"
                 "perfbench.Medallion.increment(Workloads.scala:60)")
        self.assertEqual(ledger.frame_module(stack), "sources")

    def test_top_level_and_unknown_packages(self):
        self.assertEqual(ledger.frame_module(
            "graft.CacheScope$.cache(CacheScope.scala:1)\n"
            "graft.operators.TextIndex$.delete(TextIndex.scala:2)"), "operators")
        self.assertEqual(ledger.frame_module(
            "graft.bronze.Quality$.check(Quality.scala:3)"), "other")

    def test_streaming_query_jobs(self):
        stack = ("org.apache.spark.sql.classic.DataStreamWriter.start("
                 "DataStreamWriter.scala:137)\nperfbench.Index.ingest(W.scala:1)")
        self.assertEqual(ledger.frame_module(stack, "operators"), "streaming")

    def test_lazy_result_falls_back_to_the_called_layer(self):
        stack = ("org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1)\n"
                 "perfbench.Index.search(Workloads.scala:252)")
        self.assertEqual(ledger.frame_module(stack, "operators"), "operators")
        self.assertEqual(ledger.frame_module(stack), "other")
        self.assertEqual(ledger.frame_module(None, "nope"), "other")


class SeededInputs(unittest.TestCase):
    def generate(self, workload, seed):
        d = tempfile.mkdtemp(prefix="perfbench-gen-")
        self.addCleanup(shutil.rmtree, d)
        gen.generate(workload, seed, d)
        return d

    def files(self, d):
        return sorted(os.path.relpath(os.path.join(r, f), d)
                      for r, _, fs in os.walk(d) for f in fs)

    def check(self, workload):
        a, b = self.generate(workload, 5), self.generate(workload, 5)
        c = self.generate(workload, 6)
        names = self.files(a)
        self.assertEqual(names, self.files(b))
        match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        self.assertEqual(names, self.files(c))
        _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
        # the base corpus is the fixture itself, whatever the seed
        self.assertEqual(sorted(differ),
                         [n for n in names if n != "documents.parquet"])

    def test_medallion_inputs(self):
        self.check("medallion")

    def test_index_inputs(self):
        self.check("index")

    def test_slices_are_fixture_days_plus_resends(self):
        d = self.generate("medallion", 5)
        ev = gen.fixture("events").to_pylist()
        day0 = min(r["ts"] for r in ev).date()
        for k in (0, 40):
            got = pq.read_table(f"{d}/slices/slice_{k:05d}.parquet").to_pylist()
            rep = (got[0]["ts"].date() - day0).days // gen.EVENT_DAYS
            shift = datetime.timedelta(days=rep * gen.EVENT_DAYS)
            day = (got[0]["ts"] - shift).date()
            want = [dict(r, event_id=r["event_id"] + rep * gen.REPLAY_ID_OFFSET,
                         ts=r["ts"] + shift)
                    for r in ev if r["ts"].date() == day]
            ids = {r["event_id"] for r in want}
            self.assertTrue(all(r in got for r in want[:200]))
            n_corr = int(len(want) * gen.CORRECTION_SHARE) if k else 0
            self.assertEqual(len(got) - len(want),
                             int(len(want) * gen.DUP_SHARE) + n_corr)
            self.assertEqual(sum(r["event_id"] not in ids for r in got), n_corr)


if __name__ == "__main__":
    unittest.main()
