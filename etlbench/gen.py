"""Seeded inputs for the ETL benchmark.

Everything a run feeds the engine comes from here: the parquet corpus
(the same ten tables, column types, row counts and value distributions
as the repository's test corpus, so every registered query and its
DuckDB oracle run unchanged and see the same shapes; README.md gives the
comparison) and the
per-workload plans (query order, manifest verb sequence and key ranges,
incremental slice bounds). The same seed gives byte-identical files and
plans; the engine only ever sees the files.

Each table draws from its own generator stream (seed, table index), so
building a subset of the tables never changes the bytes of the others.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Base row counts at scale factor 1 (the test corpus is sf0.1 of these);
# the text and vector tables have a floor of 500 rows, as in the test
# corpus.
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000,
             "events": 1_000_000, "documents": 50_000,
             "embeddings": 20_000}
FLOOR_ROWS = {"documents": 500, "embeddings": 500}

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")

# Query-mix halves: plan- and driver-bound vs shuffle- and CPU-bound.
# Four of each: a cold pass over all sixteen candidate queries alone
# costs about 35 s on a 4-core box, more than one run can spend.
LIGHT = ["q04_count_star", "q28_topk", "q72_latest_snapshot",
         "q200_sql_surface"]
HEAVY = ["q97_fuzzy_name_pairs", "q118_entity_resolution",
         "q201_partition_checksums", "q78_salted_join_agg"]

WORKLOAD_TABLES = {
    "etl_cycle": ["nation", "customer", "orders", "lineitem", "events"],
    "query_mix": TABLES,
}


def rows(table, sf):
    if table == "region":
        return 5
    if table == "nation":
        return 25
    return max(FLOOR_ROWS.get(table, 1), int(round(BASE_ROWS[table] * sf)))


def users(sf):
    return max(15, int(round(15_000 * sf)))


def _rng(seed, table):
    return np.random.default_rng([seed, TABLES.index(table)])


def _money(rng, lo, hi, n):
    return np.round(lo + rng.random(n) * (hi - lo), 2)


def _days(rng, start, span_days, n):
    return start + rng.integers(0, span_days, n) * np.timedelta64(1, "D")


def build_table(table, sf, seed):
    """One corpus table as an Arrow table with the test corpus's types."""
    rng = _rng(seed, table)
    n = rows(table, sf)
    ids = np.arange(n, dtype=np.int64)
    if table == "region":
        return pa.table({
            "r_regionkey": pa.array(ids, pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if table == "nation":
        return pa.table({
            "n_nationkey": pa.array(ids, pa.int32()),
            "n_name": [f"NATION_{i}" for i in ids],
            "n_regionkey": pa.array(ids % 5, pa.int32())})
    if table == "customer":
        return pa.table({
            "c_custkey": ids,
            "c_name": [f"Customer#{i:09d}" for i in ids],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)]})
    if table == "supplier":
        return pa.table({
            "s_suppkey": ids,
            "s_name": [f"Supplier#{i:09d}" for i in ids],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    if table == "part":
        names = (np.array(ADJ)[rng.integers(0, len(ADJ), n)].astype(object)
                 + " " + np.array(NOUN)[rng.integers(0, len(NOUN), n)])
        return pa.table({
            "p_partkey": ids,
            "p_name": names.astype(str),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": np.array(PTYPES)[rng.integers(0, len(PTYPES), n)],
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (ids % 1000) / 10.0, 2)})
    if table == "orders":
        return pa.table({
            "o_orderkey": ids,
            "o_custkey": rng.integers(0, rows("customer", sf), n),
            "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days(rng, EPOCH_1995, 2405, n),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]})
    if table == "lineitem":
        return pa.table({
            "l_orderkey": rng.integers(0, rows("orders", sf), n),
            "l_partkey": rng.integers(0, rows("part", sf), n),
            "l_suppkey": rng.integers(0, rows("supplier", sf), n),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _days(rng, EPOCH_1995 + np.timedelta64(1, "D"),
                                2498, n)})
    if table == "events":
        # arrival times uniform over 30 days, as in the test corpus; the
        # +i keeps them strictly increasing in event_id, so the watermark
        # of an incremental load splits exactly at an event_id
        ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n)) + ids
        return pa.table({
            "event_id": ids,
            "ts": pa.array(EPOCH_2024 + ts.astype("timedelta64[us]"),
                           pa.timestamp("us")),
            "user_id": rng.integers(0, users(sf), n),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    if table == "documents":
        texts = []
        for _ in range(n):
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, 30, k)]))
        # near-duplicates, as in the test corpus: one document in twenty
        # is a copy of another with the marker token appended
        for i in rng.choice(n, n // 20, replace=False):
            j = int(rng.integers(0, n - 1))
            texts[i] = texts[j + (j >= i)] + " dup"
        return pa.table({
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], np.int64)})
    if table == "embeddings":
        # unit vectors in random directions and labels independent of
        # them, as in the test corpus
        labels = rng.integers(0, 10, n)
        vecs = rng.normal(0.0, 1.0, (n, 64))
        vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True))
        vecs = vecs.astype(np.float32)
        return pa.table({
            "vec_id": ids,
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32())})
    raise ValueError(f"unknown table {table}")


def write_corpus(out_dir, tables, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    for t in tables:
        pq.write_table(build_table(t, sf, seed),
                       os.path.join(out_dir, f"{t}.parquet"),
                       compression="snappy")


def query_order(seed, passes):
    """Per-pass permutations of the query-mix queries."""
    rng = np.random.default_rng([seed, 100])
    qs = LIGHT + HEAVY
    return [[qs[i] for i in rng.permutation(len(qs))] for _ in range(passes)]


def incremental_slices(seed, cycles, n_events):
    """Growing events prefixes for the incremental loads: slice k exposes
    event_ids below bounds[k]. Bound 0 is the set-up load."""
    rng = np.random.default_rng([seed, 200])
    step = max(1, n_events // (4 * (cycles + 1)))
    bounds, hi = [], n_events // 4
    for _ in range(cycles + 1):
        hi = min(n_events, hi + int(rng.integers(step // 2, step + 1)))
        bounds.append(hi)
    return bounds


def manifest_plan(seed, cycles, n_events, n_users):
    """The manifested table's commit sequence: one commit of each verb
    untimed during set-up, then in every timed cycle one commit of each
    verb in a seeded order, over seeded key ranges. Every cycle carries
    the same verbs, so a cycle's cost does not hang on which verb the
    seed gave it. Appends and upserts take fresh event_id ranges, so the
    model of the expected table is exact."""
    rng = np.random.default_rng([seed, 300])
    base_hi = n_events // 5
    nxt = base_hi
    batch = max(50, n_events // 100)
    verbs = ["append", "upsert", "delete"]

    def op(verb):
        nonlocal nxt
        if verb == "delete":
            width = max(1, n_users // 40)
            lo = int(rng.integers(0, n_users - width + 1))
            return {"verb": verb, "user_lo": lo, "user_hi": lo + width}
        size = int(rng.integers(batch // 2, batch + 1))
        o = {"verb": verb, "lo": nxt, "hi": nxt + size}
        if verb == "upsert":
            width = max(1, n_users // 4)
            ulo = int(rng.integers(0, n_users - width + 1))
            o.update(user_lo=ulo, user_hi=ulo + width)
        nxt += size
        return o

    warm = [op(v) for v in verbs]
    timed = [[op(verbs[i]) for i in rng.permutation(3)]
             for _ in range(cycles)]
    if nxt > n_events:
        raise ValueError("manifest plan exceeds the events table")
    # the pruned read's stats range: a seeded window of the base rows,
    # per timed cycle
    prune = []
    for _ in range(cycles):
        lo = int(rng.integers(0, max(1, base_hi)))
        prune.append([lo, lo + max(1, base_hi // 10)])
    return {"base_hi": base_hi, "warm_ops": warm, "cycles": timed,
            "prune": prune}


def dump(obj, path):
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
