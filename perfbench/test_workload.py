"""Tests of the benchmark's seeded inputs: python3 -m unittest discover perfbench"""

import unittest

import workload

WORKLOADS = ("serve", "ingest")


class SeedTest(unittest.TestCase):
    def spec(self, wl, seed):
        return workload.render(workload.make_spec(wl, seed, 10, 0, 4))

    def test_same_seed_same_inputs(self):
        for wl in WORKLOADS:
            self.assertEqual(self.spec(wl, 7), self.spec(wl, 7), wl)

    def test_other_seed_other_corpus_batches_and_stream(self):
        for wl in WORKLOADS:
            a = workload.make_spec(wl, 7, 10, 0, 4)
            b = workload.make_spec(wl, 8, 10, 0, 4)
            for kind in ("pages", "df_term", "warmup", "query", "batch"):
                ra = [r for r in a if r[0] == kind]
                rb = [r for r in b if r[0] == kind]
                if ra or rb:
                    self.assertNotEqual(ra, rb, "%s %s" % (wl, kind))

    def test_seed_is_echoed(self):
        for wl in WORKLOADS:
            self.assertIn(["seed", "7"], workload.make_spec(wl, 7, 10, 0, 4))

    def test_stream_is_distinct_with_a_fixed_shape_mix(self):
        stream = workload.query_stream(workload.random.Random(1), workload.STREAM_LENGTH)
        self.assertGreaterEqual(len(stream), 200)
        self.assertEqual(len({(s, k, tuple(w)) for s, k, w in stream}), len(stream))
        n = len(workload.SHAPES)
        for i in range(0, len(stream) - n + 1, n):
            self.assertEqual(sorted(s for s, _, _ in stream[i:i + n]), sorted(workload.SHAPES))

    def test_warmup_queries_are_not_measured_ones(self):
        for wl, n in (("serve", workload.SERVE_WARMUP), ("ingest", workload.INGEST_WARMUP)):
            spec = workload.make_spec(wl, 5, 10, 0, 4)
            warm = {tuple(r[1:]) for r in spec if r[0] == "warmup"}
            timed = {tuple(r[1:]) for r in spec if r[0] == "query"}
            self.assertEqual(len(warm), n, wl)
            self.assertFalse(warm & timed, wl)

    def test_upserts_overwrite_only_live_keys(self):
        spec = workload.make_spec("ingest", 3, 10, 0, 4)
        start, n = (int(x) for x in next(r for r in spec if r[0] == "pages")[1:])
        live = set(range(start, start + n))
        for r in (r for r in spec if r[0] == "batch"):
            fresh, count, content = int(r[1]), int(r[2]), int(r[3])
            over = [int(x) for x in r[4:]]
            self.assertEqual(len(set(over)), len(over))
            self.assertTrue(live.issuperset(over))
            new = set(range(fresh, fresh + count))
            self.assertFalse(new & live)
            self.assertFalse(set(range(content, content + len(over))) & (live | new))
            live |= new


if __name__ == "__main__":
    unittest.main()
