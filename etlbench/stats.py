"""Summary statistics and span arithmetic for the ETL benchmark."""
import statistics

# Tail percentiles considered, highest first; one is reported only when
# at least TAIL_MIN samples lie beyond it.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_MIN = 10


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    if len(xs) < 2:
        return (xs[0], xs[0])
    q = statistics.quantiles(xs, n=4)
    return (q[0], q[2])


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def tail(xs):
    """The highest percentile with at least TAIL_MIN samples beyond it, as
    (p, value), or None when there are too few samples."""
    for p in TAIL_PERCENTILES:
        if len(xs) * (100.0 - p) / 100.0 >= TAIL_MIN:
            return (p, percentile(xs, p))
    return None


def summary(xs):
    """Median, quartiles, sample count and the admissible tail."""
    q1, q3 = quartiles(xs)
    out = {"median": median(xs), "q1": q1, "q3": q3, "n": len(xs)}
    t = tail(xs)
    if t is not None:
        out[f"p{t[0]:g}"] = t[1]
    return out


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, start, end):
    return (max(interval[0], start), min(interval[1], end))


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span["start_us"], span["end_us"]
    covered = union_length(clip((c["start_us"], c["end_us"]), s, e)
                           for c in children)
    return (e - s) - covered


def index_children(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def descendants(span_id, kids, kind=None):
    out, todo = [], list(kids.get(span_id, []))
    while todo:
        s = todo.pop()
        if kind is None or s["kind"] == kind:
            out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def with_self_times(spans):
    """Each span with `self_s` added (children: every direct child)."""
    kids = index_children(spans)
    out = []
    for s in spans:
        d = dict(s)
        d["self_s"] = self_time(s, kids.get(s["id"], [])) / 1e6
        out.append(d)
    return out


def driver_gap(op_spans, kids):
    """(gap seconds, busy share) over the given call spans: wall time not
    covered by any Spark job that ran under them, and the covered share."""
    wall = busy = 0
    for s in op_spans:
        jobs = descendants(s["id"], kids, kind="job")
        wall += s["end_us"] - s["start_us"]
        busy += union_length(clip((j["start_us"], j["end_us"]),
                                  s["start_us"], s["end_us"]) for j in jobs)
    return (wall - busy) / 1e6, (busy / wall if wall else 0.0)
