"""Span recording and the arithmetic of the traced run.

A span is a dict with `name`, `start` and `end` (epoch nanoseconds),
`parent` (index of the enclosing span or None) and `rid` (the request it
belongs to). Spans are kept in memory and written out when the run ends.
"""
import json

from stats import median


class Recorder:
    def __init__(self):
        self.spans = []

    def add(self, name, start, end, parent=None, rid=None, **attrs):
        """Record a span; returns its index, the handle children use."""
        self.spans.append(dict(name=name, start=start, end=end, parent=parent,
                               rid=rid, **attrs))
        return len(self.spans) - 1

    def dump(self, path):
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def overlap(interval, intervals):
    """Length of `interval` covered by the union of `intervals`."""
    s0, e0 = interval
    return union_length([(max(s, s0), min(e, e0)) for s, e in intervals
                         if e > s0 and s < e0])


def self_times(spans):
    """Per span: its duration minus the part of it its children cover.
    Overlapping children count once."""
    children = {}
    for i, s in enumerate(spans):
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [s["end"] - s["start"] -
            overlap((s["start"], s["end"]), children.get(i, []))
            for i, s in enumerate(spans)]


def self_time_by_name(spans):
    """name -> (count, total ns, total self ns)."""
    out = {}
    for s, own in zip(spans, self_times(spans)):
        c, tot, slf = out.get(s["name"], (0, 0, 0))
        out[s["name"]] = (c + 1, tot + s["end"] - s["start"], slf + own)
    return out


# --- Spark jobs under requests ------------------------------------------

def job_kind(job, op):
    """The span kind of a Spark job, from the operation of the request it
    ran under (None when it ran under none), its call site, and whether it
    wrote output."""
    site = job["callsite"]
    if op == "extract":
        return "engine.extract"
    if op == "query":
        return "operators.query"
    if job.get("output_bytes", 0) > 0:
        return "store.flush" if "Catalog.scala" in site else "other"
    if "Extractor.scala" in site:
        return "engine.infer"
    if "Catalog.scala" in site or op is not None:
        # the catalog's indexes and /find snapshot, including the
        # broadcast jobs of its join, which carry no engine call site
        return "store.rebuild"
    return "other"


def _candidate_ops(callsite):
    """Request operations a job with this call site can run under, most
    likely first. Jobs without an engine call site (broadcasts run on a
    pool thread) go to a Spark-heavy request when one is in flight."""
    if "Catalog.scala" in callsite:
        return ("find", "add", "register", "schema")
    if "Extractor.scala" in callsite:
        return ("extract", "schema")
    if ".scala" in callsite:
        return ("query", "extract")
    return ("extract", "query", "find", "add", "register", "schema")


def attribute_jobs(jobs, requests):
    """Attach each job to a request of a compatible operation that was in
    flight when the job started: the most likely operation first, then
    the earliest started. `requests` are (rid, op, start_ns, end_ns).
    Returns {job index: rid or None}."""
    by_start = sorted(requests, key=lambda r: r[2])
    out = {}
    for j, job in enumerate(jobs):
        t = job["start_ms"] * 1_000_000
        ops = _candidate_ops(job["callsite"])
        best = None
        for rid, op, s, e in by_start:
            if s > t:
                break
            if e >= t and op in ops and (best is None or ops.index(op) < best[0]):
                best = (ops.index(op), rid)
        out[j] = best and best[1]
    return out


def spark_work(jobs, kinds, tasks):
    """Per span kind: jobs, tasks, executor CPU, GC, shuffle and spill
    bytes, task skew (median over multi-task jobs of slowest / median
    task) and idle share (time inside the kind's jobs with no task
    running anywhere)."""
    task_iv = [(a, b) for a, b in tasks]
    out = {}
    for kind in sorted(set(kinds)):
        js = [j for j, k in zip(jobs, kinds) if k == kind]
        skews = [max(j["task_ms"]) / max(1, median(j["task_ms"]))
                 for j in js if len(j["task_ms"]) >= 2]
        iv = [(j["start_ms"], j.get("end_ms", j["start_ms"])) for j in js]
        span = union_length(iv)
        busy = sum(overlap(i, task_iv) for i in _merge(iv))
        out[kind] = {
            "jobs": len(js),
            "tasks": sum(j["tasks"] for j in js),
            "executor_cpu_ms": sum(j["cpu_ms"] for j in js),
            "gc_ms": sum(j["gc_ms"] for j in js),
            "shuffle_bytes": sum(j["shuffle_bytes"] for j in js),
            "spill_bytes": sum(j["spill_bytes"] for j in js),
            "task_skew": median(skews) if skews else 1.0,
            "idle_share": 1 - busy / span if span else 0.0,
        }
    return out


def _merge(intervals):
    merged = []
    for s, e in sorted(intervals):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return [tuple(m) for m in merged]
