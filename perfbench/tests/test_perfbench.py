"""The benchmark's own tests: the tail-percentile rule, the self-time
arithmetic, and generator determinism.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import metrics  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_ten_beyond(self):
        # 20 samples: p50 leaves 10 beyond but is not above p50
        self.assertIsNone(metrics.tail_percentile(range(20)))
        self.assertIsNone(metrics.tail_percentile([1.0] * 5))

    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        p, v, n = metrics.tail_percentile(xs)
        self.assertEqual((p, v, n), (90, 90, 100))
        self.assertEqual(len([x for x in xs if x > v]), 10)

    def test_small_sample(self):
        # 21 samples: p52 is rank ceil(10.92) = 11, leaving 10 beyond
        p, v, n = metrics.tail_percentile(list(range(21)))
        self.assertEqual((p, v, n), (52, 10, 21))

    def test_order_insensitive(self):
        xs = [5.0, 1.0, 9.0] * 10
        self.assertEqual(metrics.tail_percentile(xs),
                         metrics.tail_percentile(sorted(xs)))


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "name": name,
            "start_ns": int(start * 1e9), "end_ns": int(end * 1e9)}


class SelfTime(unittest.TestCase):
    def test_leaf_is_its_duration(self):
        self.assertAlmostEqual(metrics.self_times([span(1, 0, 0, 2)])[1], 2)

    def test_children_subtracted(self):
        st = metrics.self_times([span(1, 0, 0, 10), span(2, 1, 1, 3),
                                 span(3, 1, 5, 9)])
        self.assertAlmostEqual(st[1], 4)
        self.assertAlmostEqual(st[2], 2)
        self.assertAlmostEqual(st[3], 4)

    def test_overlapping_children_counted_once(self):
        st = metrics.self_times([span(1, 0, 0, 10), span(2, 1, 1, 6),
                                 span(3, 1, 4, 8)])
        self.assertAlmostEqual(st[1], 3)

    def test_children_clipped_to_parent(self):
        st = metrics.self_times([span(1, 0, 2, 10), span(2, 1, 0, 4)])
        self.assertAlmostEqual(st[1], 6)

    def test_self_times_sum_to_root_wall(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 1, 6), span(3, 2, 2, 3),
                 span(4, 1, 7, 9), span(5, 0, 11, 12)]
        self.assertAlmostEqual(sum(metrics.self_times(spans).values()), 11)


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class Determinism(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_same_bytes(self):
        for w in ("scene_resample", "msg_stream"):
            out = os.path.join(self.tmp, w)
            a = tree_digest(gen.generate(w, 11, out))
            b = tree_digest(gen.generate(w, 11, out))
            self.assertEqual(a, b, w)

    def test_other_seed_other_bytes(self):
        out = os.path.join(self.tmp, "m")
        a = tree_digest(gen.generate("msg_stream", 11, out))
        b = tree_digest(gen.generate("msg_stream", 12, out))
        self.assertNotEqual(a, b)

    def test_msg_stream_mix(self):
        import numpy as np
        for seed in (3, 4):
            kinds = gen.message_kinds(np.random.default_rng(seed),
                                      gen.WARMUP + 100, rejects=True)
            self.assertTrue(all(p != gen.REJECTED for p, _ in kinds[:gen.WARMUP]))
            body = kinds[gen.WARMUP:]
            # the same positions are rejected whatever the seed
            self.assertEqual([i for i, (p, _) in enumerate(body)
                              if p == gen.REJECTED], list(range(3, 100, 4)))
            self.assertEqual({s for _, s in kinds}, {"z", "offset"})
        self.assertFalse(any(p == gen.REJECTED for p, _ in gen.message_kinds(
            np.random.default_rng(3), gen.WARMUP + 100, rejects=False)))


if __name__ == "__main__":
    unittest.main()
