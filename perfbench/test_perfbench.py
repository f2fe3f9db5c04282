"""Unit tests for the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import filecmp
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7.0], 99), 7.0)

    def test_tail_keeps_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(19))))         # the median has 9 beyond
        self.assertEqual(stats.tail(list(range(20))), (50.0, 9))
        self.assertEqual(stats.tail(list(range(40))), (75.0, 29))
        self.assertEqual(stats.tail(list(range(100))), (90.0, 89))
        self.assertEqual(stats.tail(list(range(199))), (90.0, 179))
        self.assertEqual(stats.tail(list(range(200))), (95.0, 189))
        self.assertEqual(stats.tail(list(range(1000))), (99.0, 989))
        for n in (20, 57, 100, 333, 1000, 10000):
            p, _ = stats.tail(list(range(n)))
            rank = -(-n * p // 100)
            self.assertGreaterEqual(n - rank, stats.MIN_BEYOND)

    def test_timing_record(self):
        self.assertEqual(stats.timing([]), {"n": 0})
        self.assertEqual(stats.timing([4.0]), {"n": 1, "p50": 4.0})
        rec = stats.timing([3.0, 1.0, 2.0])
        self.assertEqual(rec, {"n": 3, "p50": 2.0, "q1": 1.0, "q3": 3.0})
        rec = stats.timing([float(x) for x in range(30)])
        self.assertEqual((rec["n"], rec["tail_pct"], rec["tail"]), (30, 50.0, 14.0))


class FreshnessTest(unittest.TestCase):
    def test_last_sink_sets_freshness(self):
        files = [(0.0, {"fast": -1, "slow": -1}), (5.0, {"fast": 0, "slow": 0})]
        batches = {"fast": [(0, 1.0), (1, 6.0)], "slow": [(0, 3.0), (1, 9.0)]}
        self.assertEqual(stats.freshness(files, batches), [3.0, 4.0])

    def test_one_batch_can_commit_several_files(self):
        files = [(0.0, {"a": 4}), (1.0, {"a": 4}), (2.0, {"a": 5})]
        batches = {"a": [(4, 0.5), (5, 4.0), (6, 7.0)]}
        self.assertEqual(stats.freshness(files, batches), [4.0, 3.0, 5.0])

    def test_batch_ids_need_not_be_contiguous(self):
        files = [(0.0, {"a": 2})]
        batches = {"a": [(1, 0.5), (2, 0.9), (7, 2.0), (9, 3.0)]}
        self.assertEqual(stats.freshness(files, batches), [2.0])

    def test_uncommitted_file_is_none(self):
        files = [(0.0, {"a": -1, "b": -1}), (1.0, {"a": 0, "b": 0})]
        batches = {"a": [(0, 2.0), (1, 2.2)], "b": [(0, 2.5)]}
        self.assertEqual(stats.freshness(files, batches), [2.5, None])


class SelfTimeTest(unittest.TestCase):
    def test_children_overlap_counted_once(self):
        spans = [
            {"id": 1, "parent": 0, "start_ms": 0.0, "end_ms": 10.0},
            {"id": 2, "parent": 1, "start_ms": 1.0, "end_ms": 4.0},
            {"id": 3, "parent": 1, "start_ms": 3.0, "end_ms": 6.0},
            {"id": 4, "parent": 1, "start_ms": 9.0, "end_ms": 12.0},  # clipped at the parent's end
        ]
        self.assertEqual(metrics._self_ms(spans), {1: 4.0, 2: 3.0, 3: 3.0, 4: 3.0})


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=os.path.join(HERE, ".work"))

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def _same_tree(self, a, b):
        cmp = filecmp.dircmp(a, b)
        if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
            return False
        _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
        return not mismatch and not errors and all(
            self._same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)

    def test_same_seed_same_bytes(self):
        for w in sorted(gen.GENERATORS):
            a, b, c = (os.path.join(self.tmp, w, x) for x in "abc")
            gen.generate(w, 7, a)
            gen.generate(w, 7, b)
            gen.generate(w, 8, c)
            self.assertTrue(self._same_tree(a, b), w)
            self.assertFalse(self._same_tree(a, c), w)

    def test_epoch_text_stays_in_its_window(self):
        # the BM25 merge rewrites the buckets of the old and the new text of
        # every key in an epoch: together they may use only the epoch's words
        import json
        out = os.path.join(self.tmp, "pw")
        gen.generate("pipeline_write", 3, out)
        with open(os.path.join(out, "export", "part-00000.json")) as f:
            text = {}
            for line in f:
                item = json.loads(line)["Item"]
                if "doc_id" in item:
                    text[int(item["doc_id"]["N"])] = item["text"]["S"]
        for e in range(gen.MAX_EPOCHS):
            with open(os.path.join(out, "epochs", "epoch-%05d.json" % e)) as f:
                events = [json.loads(line) for line in f]
            ids = {ev["doc_id"] for ev in events}
            self.assertLessEqual(len(ids), gen.EPOCH_KEYS)
            words = {w for i in ids for w in text[i].split()}
            words |= {w for ev in events if "text" in ev for w in ev["text"].split()}
            self.assertLessEqual(len(words), gen.EPOCH_WORDS, e)

    def test_requests_repeat_only_through_the_skew(self):
        out = os.path.join(self.tmp, "sr")
        gen.generate("serve_read", 3, out)
        with open(os.path.join(out, "requests.jsonl")) as f:
            reqs = f.read().splitlines()
        self.assertEqual(len(reqs), gen.SERVE_REQUESTS)
        self.assertLess(len(reqs) - len(set(reqs)), 0.2 * len(reqs))

    def test_zipf_is_skewed(self):
        import random
        z = gen.Zipf(1000)
        rng = random.Random(1)
        draws = [z.draw(rng) for _ in range(20000)]
        self.assertTrue(all(0 <= d < 1000 for d in draws))
        self.assertGreater(draws.count(0), 10 * draws.count(99))


if __name__ == "__main__":
    unittest.main()
