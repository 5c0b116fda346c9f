"""Self-tests of the benchmark: input determinism, the tail-percentile rule,
span self-time arithmetic and the ETL replay.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import stats  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class InputDeterminism(unittest.TestCase):
    def digests(self, write):
        out = []
        for seed in (5, 5, 6):
            with tempfile.TemporaryDirectory() as d:
                write(d, seed)
                out.append(tree_digest(d))
        return out

    def check(self, write):
        a, b, c = self.digests(write)
        self.assertEqual(a, b, "same seed must give byte-identical inputs")
        self.assertNotEqual(a, c, "another seed must give other inputs")

    def test_etl_snapshots(self):
        self.check(lambda d, s: gen.write_snapshots(d, s, 0, 3, 200))

    def test_star_fixture(self):
        self.check(lambda d, s: gen.write_star(d, s, 0.001))

    def test_llm_corpus(self):
        self.check(lambda d, s: gen.write_corpus(d, s, 200, 200))


class TailRule(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertEqual(stats.tail(list(range(11))), (0, 100.0 / 11, 11))

    def test_ten_samples_beyond(self):
        xs = [float(i) for i in range(100, 0, -1)]     # 1..100, unsorted
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, pct, n), (90.0, 90.0, 100))
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_ties_do_not_move_the_rank(self):
        xs = [1.0] * 15 + [2.0] * 5
        self.assertEqual(stats.tail(xs), (1.0, 50.0, 20))


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time(0, 10, []), 10)

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time(0, 10, [(1, 4), (3, 6), (8, 9)]), 4)

    def test_children_clipped_to_parent(self):
        self.assertEqual(stats.self_time(10, 20, [(0, 12), (18, 30), (40, 50)]), 6)

    def test_nested_children(self):
        self.assertEqual(stats.self_time(0, 10, [(2, 8), (3, 4)]), 4)

    def test_fully_covered(self):
        self.assertEqual(stats.self_time(5, 7, [(0, 10)]), 0)


class Replay(unittest.TestCase):
    def row(self, sym, name, ts, price):
        return {"symbol": sym, "name": name, "image": "i", "current_price": price,
                "market_cap": 1.0, "market_cap_rank": 1, "total_volume": 1.0,
                "price_change_percentage_24h": 0.0, "market_cap_change_percentage_24h": 0.0,
                "high_24h": 1.0, "low_24h": 1.0, "price_change_24h": 0.0,
                "circulating_supply": 1.0, "total_supply": None, "max_supply": None,
                "last_updated": ts}

    def test_latest_per_key_then_source_wins(self):
        r = gen.Replay()
        r.apply([self.row("a", "A", "2024-01-01T00:00:01.000Z", 1.0),
                 self.row("a", "A", "2024-01-01T00:00:02.000Z", 2.0),
                 self.row("b", "B", "2024-01-01T00:00:01.000Z", 3.0)])
        self.assertEqual({x[1] for x in r.fact["a"]}, {2.0})
        r.apply([self.row("a", "A", "2024-01-01T00:00:00.000Z", 4.0)])
        self.assertEqual({x[1] for x in r.fact["a"]}, {4.0}, "source wins even when older")
        self.assertEqual({x[1] for x in r.fact["b"]}, {3.0}, "unmatched target rows survive")

    def test_ties_keep_every_tied_row(self):
        r = gen.Replay()
        r.apply([self.row("a", "Y", "2024-01-01T00:00:01.000Z", 1.0),
                 self.row("a", "Z", "2024-01-01T00:00:01.000Z", 2.0)])
        self.assertEqual({x[1] for x in r.fact["a"]}, {1.0, 2.0})
        self.assertEqual(r.tied_fact, {"a"})
        self.assertEqual({x[1] for x in r.dim["a"]}, {"Z"}, "dim keeps the greatest name")
        r.apply([self.row("a", "Y", "2024-01-01T00:00:05.000Z", 5.0)])
        self.assertEqual(r.tied_fact, set())

    def test_generated_snapshots_have_the_edge_cases(self):
        coins = gen.coin_universe(3, 2500)
        snap = json.loads(gen.snapshot(3, coins, 0, 2500))
        syms = [r["symbol"] for r in snap]
        self.assertGreater(len(syms) - len(set(syms)), 0, "symbol collisions")
        self.assertTrue(any("," in r["name"] for r in snap))
        self.assertTrue(any('"' in r["name"] for r in snap))
        for k in ("roi", "max_supply", "total_supply"):
            self.assertTrue(any(r[k] is None for r in snap), k)


if __name__ == "__main__":
    unittest.main()
