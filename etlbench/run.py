#!/usr/bin/env python3
"""ETL benchmark: one workload, one seed, one JSON result line.

    python3 etlbench/run.py --workload etl_cycle --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the engine and the
benchmark (`etlbench/build.py`). Each run generates its corpus from the
seed, runs the workload in one JVM on local[nproc], checks the outputs
outside the timed window and prints, as its last stdout line,
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
with `--trace 0`, the per-layer metrics of a traced run with `--trace 1`.
The lines before it report every workload metric with its sample count.
See etlbench/README.md for the workloads and metrics.

    python3 etlbench/run.py --selftest      # the benchmark's own tests
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("etl_cycle", "query_mix")

# Corpus scale per workload, and the amount of work per --seconds.
# Calibrated on a 4-core x86 box so the timed phase takes about
# --seconds; the amounts depend only on --seconds, so two commits always
# run the same operations on the same table states.
SCALE = {"etl_cycle": 0.01, "query_mix": 0.01}
ETL_CYCLE_S = 10.5
# at least three warm cycles, so that cycle_p50_s is the median of three:
# one slow cycle on a shared host moved the median of two by 25%. This
# makes the etl_cycle timed phase longer than --seconds below about 40.
ETL_MIN_CYCLES = 4
QUERY_COLD_PASS_S = 12.0
QUERY_WARM_PASS_S = 6.3

HEAP = "2g"
YOUNG = "512m"
JVM_TIMEOUT_S = 160

# The metrics of each workload's own operations (name -> samples key),
# printed with their sample counts before the result line.
DETAIL = {
    "etl_cycle": {"etl_job_s": "etl_job_s",
                  "etl_incremental_s": "etl_incremental_s",
                  "commit_p50_s": "commit_s", "read_p50_s": "read_s",
                  "changefeed_lag_p50_s": "changefeed_lag_s"},
    "query_mix": {"query_cold_s": "query_cold_s",
                  "query_light_s": "query_light_s",
                  "query_heavy_s": "query_heavy_s"},
}
END_TO_END_UNITS = {"setup_s": "s", "peak_rss_mb": "MB",
                    "first_cycle_s": "s", "cycle_p50_s": "s"}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def make_plan(workload, seed, seconds, trace, corpus, work):
    plan = {"workload": workload, "seed": seed, "trace": bool(trace),
            "corpus": corpus, "work": work,
            "cpus": len(os.sched_getaffinity(0))}
    if workload == "etl_cycle":
        cycles = max(ETL_MIN_CYCLES, round(seconds / ETL_CYCLE_S))
        ev = pq.read_table(os.path.join(corpus, "events.parquet"),
                           columns=["user_id"]).column("user_id")
        events, users = len(ev), ev.to_numpy().max() + 1
        plan["etl"] = {"bounds": gen.incremental_slices(seed, cycles, events)}
        plan["manifest"] = gen.manifest_plan(seed, cycles, events, int(users))
    else:
        warm = max(1, round((seconds - QUERY_COLD_PASS_S) / QUERY_WARM_PASS_S))
        plan["query"] = {"passes": gen.query_order(seed, 1 + warm),
                         "light": gen.LIGHT}
    return plan


def java_cmd(classes, plan_path, result_path, work):
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    root = os.path.dirname(HERE)
    cp = os.pathsep.join([classes, os.path.join(root, "src/main/resources"),
                          os.path.join(build.spark_jars(root), "*")])
    return (["java"] + opens +
            # a fixed heap, young generation and marking threshold: with
            # adaptive sizing the heap's high-water mark, and so peak RSS,
            # wandered by 25% between runs of one workload
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
             "-XX:-G1UseAdaptiveIHOP",
             "-XX:ReservedCodeCacheSize=512m",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "etlbench.Main",
             plan_path, result_path])


def run_jvm(classes, plan, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    plan_path = os.path.join(work, "plan.json")
    result_path = os.path.join(work, "result.json")
    gen.dump(plan, plan_path)
    with open(os.path.join(work, "jvm.log"), "w") as errlog:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: drop it so
        # scratch files stay in the run's own directory. Few malloc arenas
        # bound the native memory the JVM's many threads can hold on to.
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        env["MALLOC_ARENA_MAX"] = "2"
        proc = subprocess.Popen(java_cmd(classes, plan_path, result_path, work),
                                stdout=errlog, stderr=subprocess.STDOUT,
                                cwd=work, env=env)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"benchmark JVM exited {proc.returncode}:\n{tail}")
    with open(result_path) as f:
        return json.load(f)


def run_checks(workload, plan, result):
    c = result["checks"]
    if workload == "query_mix":
        return check.check_queries(plan["corpus"], c["queries"])
    return (check.check_etl(plan["corpus"], plan, c)
            + check.check_manifest(plan["corpus"], plan, c))


def end_to_end(result, setup_s):
    cycles = result["cycles"]
    return {"setup_s": setup_s,
            "peak_rss_mb": result["peak_rss_mb"],
            "first_cycle_s": cycles[0],
            "cycle_p50_s": stats.median(cycles[1:])}


def details(workload, result):
    out = {}
    for name, key in DETAIL[workload].items():
        xs = result["samples"].get(key, [])
        if xs:
            out[name] = dict(stats.summary(xs), unit="s")
    if workload == "query_mix":
        # per query, warm passes only
        for key, xs in sorted(result["samples"].items()):
            if key.startswith("query.") and len(xs) > 1:
                out[key] = dict(stats.summary(xs[1:]), unit="s")
    if workload == "etl_cycle":
        out["space_amp"] = {"median": result["layer"]["space_amp"],
                            "n": 1, "unit": "ratio"}
    out["corpus_s"] = {"median": result["corpus_s"], "n": 1, "unit": "s"}
    if result["steal_share"] is not None:
        out["host_steal_share"] = {"median": result["steal_share"], "n": 1,
                                   "unit": "ratio"}
    return out


def cpu_ticks():
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal), or None where /proc/stat is missing."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other machines between two
    readings: on a shared host, the runs it slows show a high share."""
    if before is None or after is None or len(after) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def code_digest(root):
    """Digest of everything that decides what a run does: the engine's
    and the benchmark's sources."""
    return build.stamp(root, build.sources(root)
                       + sorted(glob.glob(os.path.join(HERE, "*.py"))))


def once(root, classes, workload, seed, seconds, trace, corpus=None):
    """Generate (unless a corpus directory is given), run, check; returns
    (result, checks, setup_s). `setup_s` counts from the JVM's launch;
    the corpus generation before it is `result["corpus_s"]`. Untraced runs
    record their timed wall time as the tracing-overhead baseline of this
    code."""
    t0 = time.time()
    work = os.path.join(root, ".bench_work",
                        f"{workload}-{seed}-{os.getpid()}-{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    if corpus is None:
        corpus = os.path.join(work, "corpus")
        gen.write_corpus(corpus, gen.WORKLOAD_TABLES[workload],
                         SCALE[workload], seed)
    plan = make_plan(workload, seed, seconds, trace, corpus, work)
    t1 = time.time()
    cpu0 = cpu_ticks()
    try:
        result = run_jvm(classes, plan, work)
        t2 = time.time()
        result["steal_share"] = steal_share(cpu0, cpu_ticks())
        checks = run_checks(workload, plan, result)
        log(f"corpus {t1 - t0:.1f}s, jvm {t2 - t1:.1f}s, "
            f"checks {time.time() - t2:.1f}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not trace:
        with open(baseline_path(root), "a") as f:
            f.write(json.dumps({"code": code_digest(root),
                                "workload": workload,
                                "seconds": seconds,
                                "timed_s": result["timed_s"]}) + "\n")
    result["corpus_s"] = t1 - t0
    setup_s = result["first_op_epoch_us"] / 1e6 - t1
    return result, checks, setup_s


def baseline_path(root):
    return os.path.join(root, ".bench_out", "untraced.jsonl")


def untraced_baseline(root, workload, seconds):
    """Median timed phase of the untraced runs of this code."""
    try:
        with open(baseline_path(root)) as f:
            rows = [json.loads(l) for l in f if l.strip()]
    except FileNotFoundError:
        return None
    code = code_digest(root)
    xs = [r["timed_s"] for r in rows
          if r.get("code") == code and r["workload"] == workload
          and r["seconds"] == seconds]
    return stats.median(xs) if xs else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corpus", help="run on the parquet tables in this "
                    "directory instead of generating them, to compare the "
                    "generated corpus with another one")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    classes = build.build(root)
    if a.selftest:
        return selftest(root, classes)
    if a.workload is None:
        ap.error("--workload is required")
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)

    corpus = os.path.abspath(a.corpus) if a.corpus else None
    base = None
    if a.trace:
        base = untraced_baseline(root, a.workload, a.seconds)
        if base is None:
            log("no untraced run of this code recorded yet: running one "
                "for the tracing-overhead baseline")
            r0, _, _ = once(root, classes, a.workload, a.seed, a.seconds, 0,
                            corpus)
            base = r0["timed_s"]
    result, checks, setup_s = once(root, classes, a.workload, a.seed,
                                   a.seconds, a.trace, corpus)

    failed_checks = [(n, e) for n, e in checks if e is not None]
    for n, e in failed_checks:
        log(f"check failed: {n}: {e}")
    for e in result["errors"]:
        log(f"operation failed: {e}")
    attempted = result["attempted"] + len(checks)
    failed = result["failed"] + len(failed_checks)

    if a.trace:
        metrics = layers.per_layer(result, base)
        spans = stats.with_self_times(result["spans"])
        path = os.path.join(out_dir,
                            f"{a.workload}-seed{a.seed}-trace.json")
        out = {"per_layer": metrics, "spans": spans}
        if a.workload == "query_mix":
            out["halves"] = layers.query_halves(result, gen.LIGHT)
            log("warm passes by half: " + json.dumps(out["halves"]))
        with open(path, "w") as f:
            json.dump(out, f)
        log(f"spans and per-layer metrics written to {path}")
    else:
        e2e = end_to_end(result, setup_s)
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                   for k, v in e2e.items()}
        report = details(a.workload, result)
        report["error_rate"] = {"median": failed / attempted, "n": attempted,
                                "unit": "ratio"}
        report["cycles"] = {"first": result["cycles"][0],
                            "warm": stats.summary(result["cycles"][1:]),
                            "unit": "s"}
        for name, r in report.items():
            print(f"{a.workload} {name}: " + json.dumps(r))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def selftest(root, classes):
    import unittest
    suite = unittest.defaultTestLoader.discover(os.path.join(HERE, "tests"))
    ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
    work = os.path.join(root, ".bench_work", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = java_cmd(classes, work, os.path.join(work, "selftest.json"), work)
    cmd[cmd.index("etlbench.Main")] = "etlbench.SelfTest"
    try:
        rc = subprocess.run(cmd, cwd=work, timeout=JVM_TIMEOUT_S).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0 if ok and rc == 0 else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # no result line: the run failed
        log(f"etlbench: {type(e).__name__}: {e}")
        sys.exit(2)
