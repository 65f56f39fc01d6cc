"""Per-layer metrics of the traced run.

Layers are the engine's modules: `api` (LakeServer), `qast`, `store`
(Catalog, ContentStore, Cid), `engine` (Lake, Extractor), `operators`
(with `functions` and `plans` beneath it, reached through SparkEntry) and
`sources`. Timings of the layers' public functions are taken in the
server JVM by the harness's probes, around calls made from the
benchmark's own code; Spark work under the served requests comes from the
harness's listeners and is attributed to requests here. Each ratio is
printed with its base.
"""
import json
import os
import random

import client as cl
import gen
import stats
import spans as tr
from harness import WORK

# name -> unit, in the order BENCHMARK.json lists them
PER_LAYER = [
    ("api.noop_p50_ms", "ms"), ("api.find_overhead_ms", "ms"),
    ("api.get_overhead_ms", "ms"), ("api.extract_overhead_ms", "ms"),
    ("qast.parse_us", "us"), ("qast.eval_compile_us", "us"),
    ("qast.column_compile_us", "us"), ("qast.rows_returned_per_scanned", "ratio"),
    ("store.search_local_ms", "ms"), ("store.find_jobs_per_call", "count"),
    ("store.snapshot_hit_ratio", "ratio"), ("store.rebuild_ms", "ms"),
    ("store.insert_blocked_share", "ratio"), ("store.flushes", "count"),
    ("store.cid_hash_mb_s", "MB/s"), ("store.dedup_hit_ratio", "ratio"),
    ("store.fetch_mb_s", "MB/s"), ("engine.extract_plan_ms", "ms"),
    ("engine.extract_exec_ms", "ms"), ("engine.schema_wait_ms", "ms"),
    ("engine.schema_hit_ratio", "ratio"), ("engine.add_file_ms", "ms"),
    ("operators.analysis_ms", "ms"), ("operators.optimization_ms", "ms"),
    ("operators.planning_ms", "ms"), ("operators.exec_ms", "ms"),
    ("operators.driver_idle_share", "ratio"),
    ("operators.trainer_runs_per_pass", "count"), ("trace.ops_per_s", "1/s"),
]
SPARK_FIELDS = ("jobs", "tasks", "executor_cpu_ms", "gc_ms", "shuffle_bytes",
                "spill_bytes", "task_skew", "idle_share")


def compute(bench, measured, noop):
    out = {}
    lines = bench.lines

    def put(name, value, n, base=""):
        out[name] = value
        lines.append("layer %s %.6g n=%s%s" % (name, value, n,
                                              (" (%s)" % base) if base else ""))

    p50 = lambda xs: stats.percentile(xs, 50) if xs else 0.0

    # --- requests of the measured phase and the Spark work under them ---
    spark = bench.spark_run
    jobs, tasks, queries = spark["jobs"], spark["tasks"], spark["queries"]
    reqs = [(r.rid, r.op, r.start, r.end) for r in measured]
    owner = tr.attribute_jobs(jobs, reqs)
    op_of = {r.rid: r.op for r in measured}
    kinds = [tr.job_kind(j, op_of.get(owner[i]))
             for i, j in enumerate(jobs)]
    rec = tr.Recorder()
    span_of = {}
    for r in measured:
        span_of[r.rid] = rec.add("http." + r.op, r.start, r.end, rid=r.rid,
                                 ok=r.ok)
    for i, j in enumerate(jobs):
        rid = owner[i]
        rec.add(kinds[i], *job_ns(j), parent=span_of.get(rid), rid=rid,
                callsite=j["callsite"], tasks=j["tasks"])
    jobs_by_req = {}
    for i, rid in owner.items():
        if rid is not None:
            jobs_by_req.setdefault(rid, []).append(i)

    # --- api: fixed cost and HTTP overhead over the same Lake calls ---
    put("api.noop_p50_ms", p50(noop), len(noop), "GET of an unsupported route, 404")
    probe = probe_inputs(bench)
    http = http_probe(bench, probe)
    reply = bench.server.call("/probe", probe, timeout=600)
    ns = lambda k: [v / 1e6 for v in reply.get(k, [])]
    find_direct = ns("store.search_local_ns")
    get_direct = ns("store.fetch_ns")
    ex_direct = [a + b for a, b in zip(ns("engine.extract_plan_ns"),
                                       ns("engine.extract_exec_ns"))]
    put("api.find_overhead_ms", p50(http["find"]) - p50(find_direct),
        len(http["find"]), "HTTP p50 - findLocal p50")
    put("api.get_overhead_ms", p50(http["get"]) - p50(get_direct),
        len(http["get"]), "HTTP p50 - fetch+drain p50")
    put("api.extract_overhead_ms", p50(http["extract"]) - p50(ex_direct),
        len(http["extract"]), "HTTP p50 - extract+drain p50")

    # --- qast ---
    us = lambda k: [v / 1e3 for v in reply.get(k, [])]
    put("qast.parse_us", p50(us("qast.parse_ns")), len(reply["qast.parse_ns"]),
        "Ast.parse on the /find bodies")
    put("qast.eval_compile_us", p50(us("qast.eval_compile_ns")),
        len(reply["qast.eval_compile_ns"]), "Evaluator.fromJson, predicate bodies")
    put("qast.column_compile_us", p50(us("qast.column_compile_ns")),
        len(reply["qast.column_compile_ns"]), "Compiler on the /extract bodies")
    put("qast.rows_returned_per_scanned",
        reply["rows_returned"] / max(1, reply["rows_scanned"]), reply["rows_scanned"],
        "%d rows returned / %d snapshot rows evaluated" % (
            reply["rows_returned"], reply["rows_scanned"]))

    # --- store ---
    put("store.search_local_ms", p50(find_direct), len(find_direct),
        "warm findLocal over %d snapshot rows" % reply["snapshot_rows"])
    finds = [r for r in measured if r.op == "find"]
    fjobs = [len(jobs_by_req.get(r.rid, [])) for r in finds]
    put("store.find_jobs_per_call", sum(fjobs) / max(1, len(finds)), len(finds),
        "%d Spark jobs under %d /find calls" % (sum(fjobs), len(finds)))
    put("store.snapshot_hit_ratio",
        sum(n == 0 for n in fjobs) / max(1, len(finds)), len(finds),
        "/find calls that ran no Spark job / /find calls")
    rebuild = ns("store.rebuild_ns")
    put("store.rebuild_ms", p50(rebuild), len(rebuild),
        "first findLocal after a catalog write (probe)")
    rebuild_iv = [job_ns(j) for j, k in zip(jobs, kinds) if k == "store.rebuild"]
    regs = [r for r in measured if r.op == "register"]
    reg_time = sum(r.end - r.start for r in regs)
    blocked = sum(tr.overlap((r.start, r.end), rebuild_iv) for r in regs)
    put("store.insert_blocked_share", blocked / reg_time if reg_time else 0.0,
        len(regs), "register time overlapping a snapshot rebuild / register time")
    flushes = sum(k == "store.flush" for k in kinds)
    put("store.flushes", flushes, 1, "catalog parquet writes in the run")
    hash_ns, hash_b = reply["store.cid_hash_ns"], reply["store.cid_hash_bytes"]
    put("store.cid_hash_mb_s", sum(hash_b) / 1e6 / max(1e-9, sum(hash_ns) / 1e9),
        len(hash_ns), "%d B hashed by Cid.ofBytes" % sum(hash_b))
    dedup = getattr(bench, "dedup", [0, 0])
    put("store.dedup_hit_ratio", dedup[0] / max(1, dedup[1]), dedup[1],
        "uploads of already-stored content / uploads")
    fetch_b = reply["store.fetch_bytes"]
    put("store.fetch_mb_s", sum(fetch_b) / 1e6 / max(1e-9, sum(get_direct) / 1e3),
        len(fetch_b), "%d B read through Lake.fetch" % sum(fetch_b))

    # --- engine ---
    put("engine.extract_plan_ms", p50(ns("engine.extract_plan_ns")),
        len(ex_direct), "Lake.extract: parse, compile, resolve, DataFrame")
    put("engine.extract_exec_ms", p50(ns("engine.extract_exec_ns")),
        len(ex_direct), "draining the rows as JSON")
    put("engine.schema_wait_ms", p50(ns("engine.schema_wait_ns")),
        len(reply["engine.schema_wait_ns"]), "Lake.schema right after addFile (probe)")
    schemas = [r for r in measured if r.op == "schema"]
    hits = sum(not jobs_by_req.get(r.rid) for r in schemas)
    put("engine.schema_hit_ratio", hits / max(1, len(schemas)), len(schemas),
        "/schema calls that ran no Spark job / /schema calls")
    put("engine.add_file_ms", p50(ns("engine.add_file_ns")),
        len(reply["engine.add_file_ns"]), "Lake.addFile of a fresh CSV (probe)")

    # --- operators: Catalyst phases and execution under Spark requests ---
    q_by_req = {}
    for q in queries:
        t = q["start_ms"] * 10**6
        for rid, op, s, e in reqs:
            if s <= t <= e and op in ("query", "extract", "find", "schema"):
                q_by_req.setdefault(rid, []).append(q)
                break
    spark_reqs = [r for r in measured if jobs_by_req.get(r.rid) or q_by_req.get(r.rid)]
    nreq = max(1, len(spark_reqs))
    for phase in ("analysis", "optimization", "planning"):
        tot = sum(q[phase + "_ms"] for qs in q_by_req.values() for q in qs)
        put("operators.%s_ms" % phase, tot / nreq, len(spark_reqs),
            "per request that ran Spark SQL")
    task_iv = [(a * 10**6, b * 10**6) for a, b in tasks]
    exec_ns = idle_ns = dur_ns = 0
    for r in spark_reqs:
        iv = [job_ns(jobs[i]) for i in jobs_by_req.get(r.rid, [])]
        exec_ns += tr.union_length(iv)
        dur_ns += r.end - r.start
        idle_ns += (r.end - r.start) - tr.overlap((r.start, r.end), task_iv)
    put("operators.exec_ms", exec_ns / 1e6 / nreq, len(spark_reqs),
        "time inside Spark jobs per request that ran Spark")
    put("operators.driver_idle_share", idle_ns / dur_ns if dur_ns else 0.0,
        len(spark_reqs), "request time with no task running / request time")
    passes = len(getattr(bench, "passes", [])) or 1
    runs = spark["trainer_runs"] - bench.spark_before["trainer_runs"]
    put("operators.trainer_runs_per_pass", runs / passes, passes,
        "%d trainer runs / %d passes" % (runs, passes))
    ok = sum(r.ok for r in measured)
    put("trace.ops_per_s", ok / bench.elapsed, ok, "traced run throughput")
    untraced = os.path.join(WORK, "results", "%s-s%d-t0.json" % (
        bench.a.workload, bench.a.seed))
    if os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["ops_per_s"]
        lines.append("layer trace.overhead %.4f (1 - traced %.2f / untraced %.2f ops/s)" % (
            1 - out["trace.ops_per_s"] / base, out["trace.ops_per_s"], base))

    # --- Spark work per span kind, self time, per-query rows ---
    for kind, w in tr.spark_work(jobs, kinds, tasks).items():
        for f in SPARK_FIELDS:
            lines.append("spark %s.%s %.6g" % (kind, f, w[f]))
    if bench.a.workload == "analytics":
        for q in gen.ANALYTICS_QUERIES:
            rs = [r for r in measured if bench.query_of.get(r.rid) == q]
            js = [jobs[i] for r in rs for i in jobs_by_req.get(r.rid, [])]
            qs = [x for r in rs for x in q_by_req.get(r.rid, [])]
            lines.append(
                "query-row %s n=%d p50_ms=%.3f jobs=%d tasks=%d cpu_ms=%.1f "
                "analysis_ms=%d optimization_ms=%d planning_ms=%d" % (
                    q, len(rs), p50([r.ms for r in rs]), len(js),
                    sum(j["tasks"] for j in js), sum(j["cpu_ms"] for j in js),
                    sum(x["analysis_ms"] for x in qs),
                    sum(x["optimization_ms"] for x in qs),
                    sum(x["planning_ms"] for x in qs)))
        ci = [r.ms for r in measured if bench.query_of.get(r.rid) == "cid_ingest"]
        lines.append("layer sources.cid_ingest_ms %.6g n=%d" % (p50(ci), len(ci)))
    offset = len(rec.spans)
    for s in reply["spans"]:
        rec.add("probe." + s["name"], s["start_ns"], s["start_ns"] + s["dur_ns"],
                parent=None if s["parent"] < 0 else offset + s["parent"])
    for name, (n, tot, own) in sorted(tr.self_time_by_name(rec.spans).items()):
        lines.append("span %s n=%d total_ms=%.3f self_ms=%.3f" % (
            name, n, tot / 1e6, own / 1e6))
    tdir = os.path.join(WORK, "traces")
    os.makedirs(tdir, exist_ok=True)
    path = os.path.join(tdir, "%s-s%d.spans.jsonl" % (bench.a.workload, bench.a.seed))
    rec.dump(path)
    lines.append("trace spans=%d written to %s" % (len(rec.spans), os.path.relpath(path)))
    return {k: (out[k], u) for k, u in PER_LAYER}


def job_ns(job):
    """A job's (start, end) in epoch ns; a job still running ends at its start."""
    return job["start_ms"] * 10**6, job.get("end_ms", job["start_ms"]) * 10**6


def probe_inputs(bench):
    """The bodies the probes replay: for lake_read exactly client 0's
    first requests; elsewhere the same generator's (the lake is the same
    kind). Uploads are the run's own when it had any."""
    ops = gen.read_ops(bench.lake, bench.a.seed, 0, bench.cids)
    finds, gets, extracts = [], [], []
    while len(finds) < 20 or len(gets) < 20 or len(extracts) < 8:
        op = next(ops)
        if op.name == "find" and len(finds) < 20:
            finds.append(op.body.decode())
        elif op.name == "get" and len(gets) < 20 and len(op.expect) < (1 << 20):
            gets.append(op.path.rsplit("/", 1)[1])
        elif op.name == "extract" and len(extracts) < 8:
            extracts.append([op.path.rsplit("/", 1)[1], op.body.decode()])
    rng = random.Random("fresh-%d" % bench.a.seed)
    fresh = []
    for i in range(3):
        b = gen.csv_blob(rng, -1, 500)
        b.data += ("probe%d,%s\n" % (i, ",".join(["x"] * (len(b.columns) - 1)))).encode()
        p = os.path.join(bench.spec, "fresh-%d.csv" % i)
        with open(p, "wb") as f:
            f.write(b.data)
        fresh.append(p)
    uploads = list(getattr(bench, "upload_paths", []))
    if not uploads:
        uploads = [os.path.join(bench.spec, "blobs", "b%04d.csv" % i) for i in range(8)]
    return {"finds": finds, "gets": gets, "extracts": extracts, "reps": 3,
            "uploads": uploads, "fresh_csv": fresh}


def http_probe(bench, probe):
    """The same read-only calls over HTTP, one at a time on one connection."""
    sink = cl.Sink()
    conn = cl.Conn(bench.port, sink, -1)
    out = {"find": [], "get": [], "extract": []}
    for _ in range(probe["reps"]):
        for body in probe["finds"]:
            conn.request("find", "POST", "/find", body.encode())
            out["find"].append(sink.results[-1].ms)
        for cid in probe["gets"]:
            conn.request("get", "GET", "/file/" + cid)
            out["get"].append(sink.results[-1].ms)
        for cid, body in probe["extracts"]:
            conn.request("extract", "POST", "/extract/" + cid, body.encode())
            out["extract"].append(sink.results[-1].ms)
    conn.close()
    return out
