"""Tests of the benchmark's own arithmetic and input generation.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import harness  # noqa: E402
import stats  # noqa: E402
import spans as tr  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_beyond_counts_samples_above_the_nearest_rank(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(100, 99), 1)
        self.assertEqual(stats.beyond(10, 50), 5)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 99.0)   # p99.5 has 5
        self.assertEqual(stats.tail_percentile(2000), 99.5)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(30), 66.0)    # three analytics passes
        self.assertEqual(stats.tail_percentile(19), None)

    def test_chosen_percentile_always_has_ten_beyond(self):
        for n in range(20, 3000, 37):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(stats.beyond(n, p), 10)

    def test_percentile_interpolates_between_ranks(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(stats.percentile(xs, 95), 95.05)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7.0], 99), 7.0)

    def test_failed_requests_push_the_tail_to_infinity(self):
        xs = [1.0] * 95 + [float("inf")] * 5
        self.assertEqual(stats.percentile(xs, 99), float("inf"))
        self.assertEqual(stats.percentile(xs, 50), 1.0)


class SelfTime(unittest.TestCase):
    def span(self, start, end, parent=None):
        return {"name": "s", "start": start, "end": end, "parent": parent}

    def test_overlapping_children_count_once(self):
        spans = [self.span(0, 100), self.span(10, 40, 0), self.span(30, 60, 0)]
        self.assertEqual(tr.self_times(spans)[0], 50)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(0, 100), self.span(90, 130, 0), self.span(-20, 5, 0)]
        self.assertEqual(tr.self_times(spans)[0], 85)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [self.span(0, 100), self.span(0, 50, 0), self.span(10, 20, 1)]
        self.assertEqual(tr.self_times(spans), [50, 40, 10])

    def test_union_and_overlap(self):
        self.assertEqual(tr.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(tr.overlap((8, 22), [(0, 10), (20, 30)]), 4)


class Attribution(unittest.TestCase):
    def test_catalog_job_goes_to_the_find_in_flight(self):
        reqs = [(0, "get", 0, 5_000_000), (1, "find", 1_000_000, 9_000_000)]
        jobs = [{"start_ms": 2, "callsite": "collect at Catalog.scala:595"}]
        self.assertEqual(tr.attribute_jobs(jobs, reqs), {0: 1})
        self.assertEqual(tr.job_kind(jobs[0], "find"), "store.rebuild")

    def test_job_without_call_site_prefers_the_extract_in_flight(self):
        reqs = [(0, "find", 0, 9_000_000), (1, "extract", 1_000_000, 9_000_000)]
        jobs = [{"start_ms": 2, "callsite": "$anonfun$run at Future.java:1"}]
        self.assertEqual(tr.attribute_jobs(jobs, reqs), {0: 1})

    def test_compaction_write_is_a_flush(self):
        job = {"callsite": "parquet at Catalog.scala:247", "output_bytes": 10}
        self.assertEqual(tr.job_kind(job, "register"), "store.flush")


def digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class SeededInputs(unittest.TestCase):
    def lake_digest(self, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.Lake(seed, "small").write(d)
            return digest(d)

    def test_same_seed_gives_byte_identical_lake(self):
        self.assertEqual(self.lake_digest(3), self.lake_digest(3))
        self.assertNotEqual(self.lake_digest(3), self.lake_digest(4))

    def test_same_seed_gives_identical_request_sequences(self):
        def seq(seed):
            lake = gen.Lake(seed, "small")
            cids = ["cid%d" % i for i in range(len(lake.blobs))]
            ops = gen.read_ops(lake, seed, 1, cids)
            sessions = gen.ingest_sessions(lake, seed, 2)
            return ([(o.path, o.body) for o in (next(ops) for _ in range(200))],
                    [(s["blob"].data, s["update"], s["find"].body)
                     for s in (next(sessions) for _ in range(20))],
                    gen.analytics_pass(seed, 1))
        self.assertEqual(seq(5), seq(5))
        self.assertNotEqual(seq(5), seq(6))

    def test_analytics_tables_are_byte_identical(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_analytics_tables(a)
            gen.write_analytics_tables(b)
            self.assertEqual(digest(a), digest(b))


class BuildKey(unittest.TestCase):
    """The cached classpath is reused only while every build input is
    unchanged, since the engine's classes live in its own target/."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        root = self.tmp.name
        self.files = {
            "build.sbt": "a", "project/build.properties": "b",
            "src/main/scala/graft/Lake.scala": "c",
            "src/test/scala/graft/LakeSpec.scala": "d",
            "perfbench/build.sbt": "e",
            "perfbench/src/main/scala/graft/perfbench/Harness.scala": "f"}
        for rel, text in self.files.items():
            os.makedirs(os.path.dirname(os.path.join(root, rel)), exist_ok=True)
            self.write(rel, text)
        self.saved = harness.ROOT, harness.HERE
        harness.ROOT, harness.HERE = root, os.path.join(root, "perfbench")

    def tearDown(self):
        harness.ROOT, harness.HERE = self.saved
        self.tmp.cleanup()

    def write(self, rel, text):
        with open(os.path.join(self.tmp.name, rel), "w") as f:
            f.write(text)

    def test_key_follows_every_build_input(self):
        key = harness.source_key()
        self.assertEqual(harness.source_key(), key)
        for rel in self.files:
            if "/test/" in rel:
                continue
            self.write(rel, "changed")
            self.assertNotEqual(harness.source_key(), key, rel)
            key = harness.source_key()

    def test_engine_tests_do_not_trigger_a_build(self):
        key = harness.source_key()
        self.write("src/test/scala/graft/LakeSpec.scala", "changed")
        self.assertEqual(harness.source_key(), key)


class Spread(unittest.TestCase):
    def test_quartile_spread_over_median(self):
        q1, med, q3, sp = stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual(med, 5.5)
        self.assertAlmostEqual(sp, (q3 - q1) / 5.5)


if __name__ == "__main__":
    unittest.main()
