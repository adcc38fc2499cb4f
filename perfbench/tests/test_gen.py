"""The generator is a function of its seed: the same seed writes
byte-identical inputs, another seed writes different ones.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402

SMALL_QUEUE = dict(rounds=3, obs_per_round=200, stations=500, zipf_s=1.1,
                   base_obs=800, lookups_per_round=2)
SMALL_CORPUS = dict(documents=300, embeddings=100, events=400)


def files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class GenTest(unittest.TestCase):
    def setUp(self):
        scratch = os.path.join(os.path.dirname(HERE), ".bench_build")
        os.makedirs(scratch, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=scratch)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def make(self, kind, seed, name):
        out = os.path.join(self.tmp, name)
        if kind == "queue":
            gen.gen_queue(seed, out, SMALL_QUEUE)
        else:
            gen.gen_corpus(seed, out, SMALL_CORPUS)
        return out

    def same(self, a, b):
        fa, fb = files(a), files(b)
        return fa == fb and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
                                for f in fa)

    def test_same_seed_same_inputs(self):
        for kind in ("queue", "corpus"):
            self.assertTrue(self.same(self.make(kind, 7, kind + "a"), self.make(kind, 7, kind + "b")))

    def test_other_seed_other_inputs(self):
        for kind in ("queue", "corpus"):
            self.assertFalse(self.same(self.make(kind, 7, kind + "a"), self.make(kind, 8, kind + "c")))

    def test_queue_rounds_are_later_and_lookups_match(self):
        import pyarrow as pa
        import pyarrow.parquet as pq

        def read(path):
            t = pq.read_table(path)
            secs = [x // 1_000_000 for x in t.column("ts").cast(pa.int64()).to_pylist()]
            return t.column("user_id").to_pylist(), secs

        out = self.make("queue", 3, "q")
        with open(os.path.join(out, "lookups.txt")) as f:
            lookups = [[tuple(map(int, p.split(":"))) for p in line.split()] for line in f]
        self.assertEqual(len(lookups), SMALL_QUEUE["rounds"])
        users, secs = read(os.path.join(out, "base", "events.parquet"))
        latest = dict(zip(users, secs))
        for r in range(SMALL_QUEUE["rounds"]):
            users, round_secs = read(os.path.join(out, "rounds", f"r{r:05d}", "events.parquet"))
            self.assertGreater(round_secs[0], secs[-1])  # every round is strictly later
            secs = round_secs
            latest.update(zip(users, secs))
            for station, obs_ts in lookups[r]:
                self.assertEqual(latest[station], obs_ts)


if __name__ == "__main__":
    unittest.main()
