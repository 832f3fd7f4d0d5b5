import hashlib
import os
import tempfile
import unittest

import gen


def digests(seed, tables):
    with tempfile.TemporaryDirectory() as d:
        gen.write_corpus(d, tables, 0.001, seed)
        out = {}
        for t in tables:
            with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
                out[t] = hashlib.sha256(f.read()).hexdigest()
        return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_tables(self):
        self.assertEqual(digests(7, gen.TABLES), digests(7, gen.TABLES))

    def test_different_seed_gives_different_tables(self):
        a, b = digests(7, gen.TABLES), digests(8, gen.TABLES)
        # the fixed dimension tables do not depend on the seed
        for t in gen.TABLES:
            if t in ("region", "nation"):
                self.assertEqual(a[t], b[t])
            else:
                self.assertNotEqual(a[t], b[t], t)

    def test_a_table_does_not_depend_on_which_others_are_built(self):
        self.assertEqual(digests(7, ["events"])["events"],
                         digests(7, gen.TABLES)["events"])

    def test_one_document_in_twenty_is_a_marked_copy(self):
        texts = gen.build_table("documents", 0.01, 7).column("text")
        texts = texts.to_pylist()
        dups = [t for t in texts if t.endswith(" dup")]
        self.assertEqual(len(dups), len(texts) // 20)

    def test_event_times_increase_with_event_id(self):
        t = gen.build_table("events", 0.01, 7)
        ts = t.column("ts").cast("int64").to_pylist()
        self.assertTrue(all(a < b for a, b in zip(ts, ts[1:])))

    def test_query_order_is_seeded(self):
        a = gen.query_order(3, 4)
        self.assertEqual(a, gen.query_order(3, 4))
        self.assertNotEqual(a, gen.query_order(4, 4))
        for p in a:
            self.assertEqual(sorted(p), sorted(gen.LIGHT + gen.HEAVY))

    def test_plans_are_seeded(self):
        self.assertEqual(gen.manifest_plan(3, 5, 10_000, 150),
                         gen.manifest_plan(3, 5, 10_000, 150))
        self.assertNotEqual(gen.manifest_plan(3, 5, 10_000, 150),
                            gen.manifest_plan(4, 5, 10_000, 150))
        self.assertEqual(gen.incremental_slices(3, 5, 10_000),
                         gen.incremental_slices(3, 5, 10_000))
        self.assertNotEqual(gen.incremental_slices(3, 5, 10_000),
                            gen.incremental_slices(4, 5, 10_000))

    def test_manifest_plan_takes_fresh_ranges_and_every_verb(self):
        p = gen.manifest_plan(5, 6, 10_000, 150)
        self.assertEqual([o["verb"] for o in p["warm_ops"]],
                         ["append", "upsert", "delete"])
        self.assertEqual(len(p["cycles"]), 6)
        orders = set()
        for cyc in p["cycles"]:
            verbs = [o["verb"] for o in cyc]
            self.assertEqual(sorted(verbs), ["append", "delete", "upsert"])
            orders.add(tuple(verbs))
        self.assertGreater(len(orders), 1)
        lo = p["base_hi"]
        for o in p["warm_ops"] + [o for c in p["cycles"] for o in c]:
            if o["verb"] != "delete":
                self.assertEqual(o["lo"], lo)
                lo = o["hi"]
        self.assertEqual(len(p["prune"]), 6)

    def test_incremental_slices_grow(self):
        b = gen.incremental_slices(9, 4, 10_000)
        self.assertEqual(len(b), 5)
        self.assertTrue(all(x < y for x, y in zip(b, b[1:])))
        self.assertLessEqual(b[-1], 10_000)


if __name__ == "__main__":
    unittest.main()
