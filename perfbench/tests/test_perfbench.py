"""Unit tests of the benchmark's own arithmetic and input generation.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import medallion  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

SHAPE = dict(products=40, carts=300, users=60, orders=300, days=3, delta_share=0.2,
             update_share=0.8, dup_share=0.1, day0_epoch_ms=1767225600000)


class Generation(unittest.TestCase):
    def test_same_seed_same_digest_other_seed_other_digest(self):
        a = medallion.input_digest(medallion.generate(7, SHAPE))
        self.assertEqual(a, medallion.input_digest(medallion.generate(7, SHAPE)))
        self.assertNotEqual(a, medallion.input_digest(medallion.generate(8, SHAPE)))

    def test_batches_hold_updates_new_keys_and_duplicates(self):
        days = medallion.generate(3, SHAPE)
        day1 = set(days[1]["carts"]["id"])
        day2 = days[2]["carts"]["id"]
        self.assertEqual(len(day1), SHAPE["carts"])
        self.assertGreater(day2.duplicated().sum(), 0)
        upd = set(day2) & day1
        self.assertEqual(len(upd), round(SHAPE["carts"] * 0.2 * 0.8))
        self.assertEqual(len(set(day2) - day1), round(SHAPE["carts"] * 0.2) - len(upd))

    def test_expected_silver_keeps_latest_version_per_key(self):
        days = medallion.generate(5, SHAPE)
        exp = medallion.expected(days, SHAPE["day0_epoch_ms"])
        carts = exp["silver"]["carts"].set_index("cart_id")
        last = {}
        for d in sorted(days):
            for _, row in days[d]["carts"].iterrows():
                last[row["id"]] = (d, row["total"])
        self.assertEqual(len(carts), len(last))
        for k, (d, total) in last.items():
            self.assertEqual(carts.loc[k, "total_value"], total)
            self.assertEqual(carts.loc[k, "last_updated_ms"],
                             SHAPE["day0_epoch_ms"] + (d - 1) * medallion.DAY_MS)
        self.assertEqual(sum(v["events_count"] for v in exp["finance_mart"].values()),
                         len(carts))


class Arithmetic(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(39))))
        p, v, beyond = stats.tail(list(range(1, 41)))
        self.assertEqual((p, v, beyond), (75.0, 30, 10))
        p, v, beyond = stats.tail(list(range(1, 201)))
        self.assertEqual((p, v, beyond), (95.0, 190, 10))
        p, v, beyond = stats.tail(list(range(1, 1001)))
        self.assertEqual((p, v, beyond), (99.0, 990, 10))

    def test_union_length_merges_and_clips(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)], 1, 10), 6)
        self.assertEqual(stats.union_length([(0, 1)], 2, 3), 0)

    def test_self_time_subtracts_covered_part_of_children(self):
        spans = [
            {"id": 0, "parent": -1, "layer": "op", "start": 0.0, "end": 1000.0},
            {"id": 1, "parent": 0, "layer": "query", "start": 0.0, "end": 300.0},
            {"id": 2, "parent": 0, "layer": "exec", "start": 250.0, "end": 900.0},
            {"id": 3, "parent": 2, "layer": "exec", "start": 300.0, "end": 500.0},
            {"id": 4, "parent": 2, "layer": "exec", "start": 400.0, "end": 700.0},
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 0.1)   # 1000 - union(0..900)
        self.assertAlmostEqual(st[1], 0.3)
        self.assertAlmostEqual(st[2], 0.25)  # 650 - union(300..700)
        self.assertAlmostEqual(st[3], 0.2)
        layers = stats.layer_self_times(spans)
        self.assertAlmostEqual(layers["exec"], 0.25 + 0.2 + 0.3)
        # overlapping siblings (250..300 and 400..500) each keep their own self time
        self.assertAlmostEqual(sum(layers.values()), 1.0 + 0.05 + 0.1)

    def test_jobs_attach_to_innermost_span(self):
        spans = [{"id": 0, "parent": -1, "layer": "op", "start": 0.0, "end": 100.0},
                 {"id": 1, "parent": 0, "layer": "query", "start": 10.0, "end": 50.0}]
        jobs = [{"id": 7, "start": 20.0, "end": 30.0, "tables": True},
                {"id": 8, "start": 60.0, "end": 90.0, "tables": False}]
        js = stats.job_spans(jobs, spans)
        self.assertEqual([(j["parent"], j["layer"]) for j in js], [(1, "tables"), (0, "exec")])


class RegistryCheck(unittest.TestCase):
    def test_wrong_or_failed_check_fails_every_timed_op_of_that_query(self):
        frozen = {n: {"rows": 5, "hash": "1:2"} for n in ("qa", "qb", "qc")}
        res = {"checks": [{"name": "qa", "ok": True, "rows": 5, "hash": "1:2"},
                          {"name": "qb", "ok": True, "rows": 5, "hash": "1:3"},
                          {"name": "qc", "ok": False, "error": "boom"}],
               "ops": [{"name": n, "ok": True} for n in ("qa", "qb", "qc") * 2]}
        run.registry_check(res, frozen)
        self.assertEqual([o["ok"] for o in res["ops"]], [True, False, False] * 2)
        self.assertIn("1:3 != 5:1:2", res["ops"][1]["error"])
        self.assertIn("boom", res["ops"][2]["error"])


if __name__ == "__main__":
    unittest.main()
