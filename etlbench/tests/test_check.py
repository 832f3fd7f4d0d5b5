import json
import os
import unittest

import pyarrow as pa

import check
import layers
import run


def events(users, ts):
    return pa.table({"event_id": pa.array(range(len(users)), pa.int64()),
                     "user_id": pa.array(users, pa.int64()),
                     "ts": pa.array(ts, pa.timestamp("us"))})


class ManifestModelTest(unittest.TestCase):
    def test_winner_per_key_after_deletes_and_re_adds(self):
        # ids:   0  1  2  3  4  5  6  7
        ev = events([0, 1, 0, 2, 1, 0, 2, 3], [1, 2, 3, 4, 5, 6, 7, 8])
        plan = {"base_hi": 4,                       # ids 0-3
                "warm_ops": [
                    {"verb": "append", "lo": 4, "hi": 5},       # id 4 (user 1)
                    {"verb": "upsert", "lo": 5, "hi": 7,
                     "user_lo": 2, "user_hi": 3},               # id 6 only
                    {"verb": "delete", "user_lo": 0, "user_hi": 1}],
                "cycles": [[{"verb": "append", "lo": 7, "hi": 8}]]}  # id 7
        # user 0 deleted after all its rows; user 1 -> id 4 (latest ts);
        # user 2 -> id 6 (upserted); id 5 is outside the upsert's users
        self.assertEqual(check.manifest_model(ev, plan), [4, 6, 7])

    def test_re_add_after_delete_survives(self):
        ev = events([0, 0], [1, 2])
        plan = {"base_hi": 1,
                "warm_ops": [{"verb": "delete", "user_lo": 0, "user_hi": 1},
                             {"verb": "append", "lo": 1, "hi": 2}],
                "cycles": []}
        self.assertEqual(check.manifest_model(ev, plan), [1])


class PerLayerTest(unittest.TestCase):
    def test_every_metric_has_a_unit_and_a_value(self):
        def span(id_, parent, name, start, end, counters=None, kind="call"):
            return {"id": id_, "parent": parent, "name": name, "kind": kind,
                    "cycle": 1, "start_us": start, "end_us": end,
                    "counters": counters or {}}
        spans = [
            span(0, -1, "workload", 0, 3_000_000, {"exec.jobs": 2,
                                                   "fs.list": 3}),
            span(1, 0, "cycle", 0, 3_000_000),
            span(2, 1, "TableManifest.read", 0, 1_000_000, {"fs.list": 2}),
            span(3, 2, "job", 100_000, 600_000, kind="job"),
            span(4, 1, "Jobs.execute", 1_000_000, 3_000_000,
                 {"action.count.n": 3, "action.command.n": 1}),
            span(5, 4, "job", 1_000_000, 2_000_000, kind="job"),
        ]
        m = layers.per_layer({"spans": spans, "timed_s": 3.3, "layer": {}},
                             3.0)
        self.assertEqual(set(m), set(layers.UNITS))
        self.assertEqual(m["fs.list_per_read"]["value"], 2.0)
        self.assertEqual(m["workflow.count_actions"]["value"], 3.0)
        self.assertEqual(m["workflow.save_actions"]["value"], 1.0)
        self.assertAlmostEqual(m["driver.gap_s"]["value"], 1.5)
        self.assertAlmostEqual(m["exec.busy_share"]["value"], 0.5)
        self.assertAlmostEqual(m["trace.overhead_share"]["value"], 0.1)


class BenchmarkFileTest(unittest.TestCase):
    def test_benchmark_json_lists_exactly_the_reported_metrics(self):
        path = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         layers.UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         run.END_TO_END_UNITS)
        self.assertEqual({w["name"] for w in b["workloads"]},
                         set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
