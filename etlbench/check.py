"""Output checks for the ETL benchmark, run after the timed phase.

Each function returns a list of (check name, error or None). The query
check mirrors the repository's DuckDB oracle comparison
(`tools/check_oracle.py`): same columns, same row count, and the same
rows compared as sorted value tuples.
"""
import math
import os
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq

from gen import TABLES


def _connect(corpus):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        path = os.path.join(corpus, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS "
                        f"SELECT * FROM read_parquet('{path}')")
    return con


def _cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def _rows(table):
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return cols, sorted(tuple(_cell(x) for x in r) for r in zip(*data))


def _log(msg):
    print(msg, file=sys.stderr, flush=True)


def compare_to_oracle(con, sql, out_dir):
    duck = con.execute(sql).fetch_arrow_table()
    spark = pq.read_table(out_dir)
    _log(f"output {os.path.basename(out_dir)}: {spark.num_rows} rows")
    d_cols, d_rows = _rows(duck)
    s_cols, s_rows = _rows(spark)
    if d_cols != s_cols:
        return f"columns differ: oracle={d_cols} engine={s_cols}"
    if len(d_rows) != len(s_rows):
        return f"rows differ: oracle={len(d_rows)} engine={len(s_rows)}"
    if d_rows != s_rows:
        i = next(i for i, (a, b) in enumerate(zip(d_rows, s_rows)) if a != b)
        return f"first differing sorted row {i}: {d_rows[i]} vs {s_rows[i]}"
    return None


def check_queries(corpus, queries):
    con = _connect(corpus)
    out = []
    for key, q in sorted(queries.items()):
        if "error" in q:
            out.append((key, q["error"]))
        elif q.get("oracle") is None:
            out.append((key, "no oracle SQL registered"))
        else:
            out.append((key, compare_to_oracle(con, q["oracle"], q["dir"])))
    return out


def check_etl(corpus, plan, checks):
    con = _connect(corpus)
    extracted = con.execute(
        f"SELECT count(*) FROM ({checks['q03_oracle']})").fetchone()[0]
    _log(f"output full_etl: {extracted} rows extracted")
    bounds = plan["etl"]["bounds"]
    want_inc = [bounds[0]] + [b - a for a, b in zip(bounds, bounds[1:])]
    out = []
    for i, n in enumerate(checks["loaded"]):
        # job 0 is the untimed set-up run
        out.append((f"job{i}.loaded_equals_extracted",
                    None if n == extracted else f"loaded {n}, extracted {extracted}"))
    for i, (got, want) in enumerate(zip(checks["incremental"], want_inc)):
        out.append((f"load{i}.incremental_rows",
                    None if got == want else f"appended {got}, expected {want}"))
    if len(checks["incremental"]) != len(want_inc):
        out.append(("incremental_loads", "a load is missing"))
    main, backup = checks["main"], checks["backup"]
    out.append(("backup_equals_main",
                None if main == backup else f"main {main} backup {backup}"))
    out.append(("main_rows",
                None if int(main["rows"]) == extracted
                else f"main {main['rows']} rows, extracted {extracted}"))
    total = checks["incremental_table_rows"]
    out.append(("incremental_table_rows",
                None if total == bounds[-1] else f"{total} rows, want {bounds[-1]}"))
    return out


def manifest_model(events, plan):
    """The source table the manifest workload should end with: rows after
    deletes (a row survives when committed after its key's last
    tombstone), then one winner per user_id by (ts, event_id) — the
    merge rule is live from the set-up upsert on."""
    ids = events.column("event_id").to_numpy()
    users = events.column("user_id").to_numpy()
    ts = events.column("ts").cast("int64").to_numpy()
    commit = np.full(len(ids), -1, dtype=np.int64)
    tomb = {}
    ops = ([{"verb": "append", "lo": 0, "hi": plan["base_hi"]}]
           + plan["warm_ops"] + [o for c in plan["cycles"] for o in c])
    for seq, op in enumerate(ops):
        if op["verb"] == "delete":
            for u in range(op["user_lo"], op["user_hi"]):
                tomb[u] = seq
            continue
        sel = (ids >= op["lo"]) & (ids < op["hi"])
        if op["verb"] == "upsert":
            sel &= (users >= op["user_lo"]) & (users < op["user_hi"])
        commit[sel] = seq
    winners = {}
    for i in np.nonzero(commit >= 0)[0]:
        u = int(users[i])
        if commit[i] <= tomb.get(u, -1):
            continue
        key = (ts[i], ids[i])
        if u not in winners or key > winners[u][0]:
            winners[u] = (key, int(ids[i]))
    return sorted(v[1] for v in winners.values())


def _table_rows(table):
    cols = ["event_id", "ts", "user_id", "event_type"]
    t = table.select(cols)
    t = t.set_column(1, "ts", t.column("ts").cast("int64"))
    return sorted(zip(*[t.column(c).to_pylist() for c in cols]))


def check_manifest(corpus, plan, checks):
    events = pq.read_table(os.path.join(corpus, "events.parquet"))
    want_ids = manifest_model(events, plan["manifest"])
    src = _table_rows(pq.read_table(checks["src_dir"]))
    dst = _table_rows(pq.read_table(checks["dst_dir"]))
    want = _table_rows(events.take(want_ids))
    _log(f"output manifest source: {len(src)} rows, model {len(want)}")
    out = [("source_equals_model",
            None if src == want else
            f"source {len(src)} rows, model {len(want)} rows"),
           ("destination_equals_source",
            None if dst == src else
            f"destination {len(dst)} rows, source {len(src)} rows")]
    return out
