"""Per-layer metrics of a traced run, computed from its spans.

Every call span carries the deltas of the layer counters over its
interval; job spans hang under the call span that was open when the job
started. The names below are the `per_layer` metrics of BENCHMARK.json.
"""
from stats import driver_gap, index_children

UNITS = {}


def _def(name, unit):
    UNITS[name] = unit
    return name


COMMIT_SPANS = {"TableManifest.append": "manifest.append_s",
                "TableManifest.upsertDelta": "manifest.upsert_delta_s",
                "TableManifest.deleteRows": "manifest.delete_rows_s",
                "TableManifest.compactDeltas": "manifest.compact_s"}
READ_SPANS = {"TableManifest.read": "manifest.read_s",
              "TableManifest.readPruned": "manifest.read_pruned_s",
              "TableManifest.readVersion": "manifest.read_version_s",
              "TableManifest.history": "manifest.history_s"}
WORKFLOW_SPANS = ("Jobs.execute", "Pipeline.incrementalLoad")
STRUCTURE_SPANS = ("workload", "cycle")

ROOT_COUNTERS = [
    ("plan.analysis_s", "s"), ("plan.optimization_s", "s"),
    ("plan.physical_s", "s"), ("plan.actions", "count"),
    ("codegen.compile_s", "s"), ("codegen.classes", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_s", "s"), ("exec.cpu_s", "s"),
    ("exec.gc_s", "s"), ("exec.shuffle_write_mb", "MB"),
    ("exec.shuffle_read_mb", "MB"), ("exec.spill_mb", "MB"),
    ("exec.scan_mb", "MB"),
    ("fs.list", "count"), ("fs.stat", "count"), ("fs.open", "count"),
    ("fs.create", "count"), ("fs.rename", "count"), ("fs.delete", "count"),
    ("fs.mkdirs", "count"), ("fs.bytes_read_mb", "MB"),
    ("fs.bytes_written_mb", "MB"),
    ("streaming.batches", "count"), ("streaming.fs_calls", "count"),
]
# micro-batch phase durations; a V1 source reports its offset poll as
# getOffset, a V2 source as latestOffset
STREAM_DURATIONS = {"streaming.trigger_s": ["streaming.triggerExecution_s"],
                    "streaming.add_batch_s": ["streaming.addBatch_s"],
                    "streaming.get_batch_s": ["streaming.getBatch_s"],
                    "streaming.latest_offset_s": ["streaming.latestOffset_s",
                                                  "streaming.getOffset_s"]}

for _n, _u in ROOT_COUNTERS:
    _def(_n, _u)
for _n in (["ops.build_s", "driver.gap_s", "workflow.count_s",
            "workflow.save_s"] + list(COMMIT_SPANS.values())
           + list(READ_SPANS.values()) + list(STREAM_DURATIONS)):
    _def(_n, "s")
for _n in ("workflow.count_actions", "workflow.save_actions",
           "manifest.generations", "fs.list_per_read"):
    _def(_n, "count")
_def("sources.bytes_written_mb", "MB")
_def("streaming.rows_per_batch", "count")
for _n in ("exec.busy_share", "manifest.pruned_file_share",
           "manifest.bytes_written_per_input_byte", "trace.overhead_share"):
    _def(_n, "ratio")

# DataFrameWriter actions reach the QueryExecutionListener under the
# command name or the save mode
SAVE_ACTIONS = ("command", "save", "overwrite", "append", "errorifexists",
                "ignore", "insertInto", "saveAsTable")


def _dur(s):
    return (s["end_us"] - s["start_us"]) / 1e6


def per_layer(result, baseline_timed_s):
    spans = result["spans"]
    kids = index_children(spans)
    calls = [s for s in spans if s["kind"] == "call"]
    root = next(s for s in calls if s["name"] == "workload")
    rc = root["counters"]
    m = {name: float(rc.get(name, 0.0)) for name, _ in ROOT_COUNTERS}

    def spans_named(*names):
        return [s for s in calls if s["name"] in names]

    def total(names, counter=None):
        ss = spans_named(*names)
        if counter is None:
            return sum(_dur(s) for s in ss)
        return sum(float(s["counters"].get(counter, 0.0)) for s in ss)

    m["ops.build_s"] = total(["ops.build"])
    # the call spans directly under the workload or a cycle: every public
    # call the benchmark timed, with its nested calls and jobs inside
    ops = [s for s in calls if s["name"] not in STRUCTURE_SPANS
           and any(p["id"] == s["parent"] for p in calls
                   if p["name"] in STRUCTURE_SPANS)]
    m["driver.gap_s"], m["exec.busy_share"] = driver_gap(ops, kids)

    m["workflow.count_actions"] = total(WORKFLOW_SPANS, "action.count.n")
    m["workflow.count_s"] = total(WORKFLOW_SPANS, "action.count.s")
    m["workflow.save_actions"] = sum(
        total(WORKFLOW_SPANS, f"action.{a}.n") for a in SAVE_ACTIONS)
    m["workflow.save_s"] = sum(
        total(WORKFLOW_SPANS, f"action.{a}.s") for a in SAVE_ACTIONS)
    m["sources.bytes_written_mb"] = total(WORKFLOW_SPANS, "exec.output_mb")

    for span_name, metric in {**COMMIT_SPANS, **READ_SPANS}.items():
        m[metric] = total([span_name])
    layer = result.get("layer", {})
    m["manifest.generations"] = float(layer.get("manifest.generations", 0))
    m["manifest.pruned_file_share"] = float(
        layer.get("manifest.pruned_file_share", 0.0))
    written = total(list(COMMIT_SPANS)[:3], "exec.output_mb")
    batch_mb = float(layer.get("manifest.input_batch_mb", 0.0))
    m["manifest.bytes_written_per_input_byte"] = (
        written / batch_mb if batch_mb else 0.0)
    reads = spans_named("TableManifest.read")
    m["fs.list_per_read"] = (
        total(["TableManifest.read"], "fs.list") / len(reads) if reads else 0.0)

    for metric, counters in STREAM_DURATIONS.items():
        m[metric] = sum(float(rc.get(c, 0.0)) for c in counters)
    batches = m["streaming.batches"]
    m["streaming.rows_per_batch"] = (
        float(rc.get("streaming.rows", 0.0)) / batches if batches else 0.0)

    m["trace.overhead_share"] = result["timed_s"] / baseline_timed_s - 1.0
    return {k: {"value": v, "unit": UNITS[k]} for k, v in m.items()}


def query_halves(result, light):
    """Per query-mix half, over the warm passes: wall time of the query
    calls, the driver gap within them and the share Spark jobs cover."""
    spans = result["spans"]
    kids = index_children(spans)
    warm = [s for s in spans if s["kind"] == "call" and s["cycle"] > 0
            and s["name"].startswith("q")]
    out = {}
    for half, pick in (("light", True), ("heavy", False)):
        ss = [s for s in warm if (s["name"] in light) == pick]
        gap, busy = driver_gap(ss, kids)
        out[half] = {"wall_s": sum(_dur(s) for s in ss),
                     "driver_gap_s": gap, "exec_busy_share": busy}
    return out
