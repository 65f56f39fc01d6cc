#!/usr/bin/env python3
"""The lake benchmark.

    python3 perfbench/run.py --workload lake_read --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (once per checkout), makes
the inputs from the seed, starts the lake server the way graft.Serve does
and drives it from this one process with a closed loop of clients. Every
response is checked. Human-readable lines name every metric with its unit
and sample count; the last line is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1).
"""
import argparse
import hashlib
import json
import os
import shutil
import time

import client as cl
import gen
import harness
import stats

HERE = harness.HERE
WORK = harness.WORK
WINDOW_S = 5.0          # ops_per_s is the median of its rate per ~5 s window
MIN_PASSES = 3          # analytics: passes a run measures at the least
EXPECTED = os.path.join(HERE, "expected_analytics.json")

# clients: closed-loop connections; tail: the percentile reported as
# *_tail_ms (the highest with >= 10 samples beyond it at 20 s runs; on
# analytics, at three passes of ten requests);
# flush: compact the catalog's WAL after populating the lake (without
# it, the rows since the last 1024-row compaction stay in the WAL).
WORKLOADS = {
    "lake_read": dict(clients=4, lake="full", tail=99.0, flush=True),
    "lake_ingest": dict(clients=4, lake="full", tail=75.0, flush=False),
    "analytics": dict(clients=1, lake="small", tail=66.0, flush=True),
}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="analytics: write the observed answers as the "
                         "expected ones (only for a reviewed engine change)")
    a = ap.parse_args()
    try:
        cp = harness.classpath()
    except harness.BuildError as e:
        harness.fail(str(e))
    run_dir = os.path.join(WORK, "run-%d" % os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    server = None
    try:
        bench = Bench(a, run_dir)
        server = bench.server = harness.Server(run_dir, a.trace, cp)
        result = bench.run()
    except harness.BuildError as e:
        harness.fail(str(e))
    finally:
        if server is not None:
            server.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


class Bench:
    def __init__(self, args, run_dir):
        """Makes the run's inputs from the seed, before the server starts."""
        self.a, self.run_dir = args, run_dir
        self.w = WORKLOADS[args.workload]
        self.sink = cl.Sink()
        self.lines = []
        self.expected = {}
        self.spec = os.path.join(run_dir, "spec")
        # untraced analytics only sends /query, which never reads the lake
        self.lake = None
        if args.workload != "analytics" or args.trace:
            self.lake = gen.Lake(args.seed, self.w["lake"])
            self.lake.write(self.spec)
        if args.workload == "analytics":
            self.sf_dir = os.path.join(run_dir, "sf")
            gen.write_analytics_tables(self.sf_dir)
            if os.path.exists(EXPECTED):
                with open(EXPECTED) as f:
                    self.expected = json.load(f)

    # --- set-up -----------------------------------------------------------

    def run(self):
        a = self.a
        self.load_lake()
        self.warm_up()
        warm_pass = 0.0
        if a.workload == "analytics":
            # one untimed pass, its queries dealt over as many clients as
            # cores: the first run of each query compiles and JIT-warms
            # paths a serving process has warm
            t0 = time.perf_counter()
            order = gen.analytics_pass(a.seed, 0)

            def warm(c, _):
                conn = cl.Conn(self.port, self.sink, -1)
                for q in order[c::harness.CPUS]:
                    self.query(conn, q)
                conn.close()
            cl.run_clients(harness.CPUS, warm, 0)
            warm_pass = time.perf_counter() - t0
        warm = self.sink.results
        # launch of the server JVM until the first timed request
        self.setup_s = time.perf_counter() - self.server.t0
        self.report("setup_s", self.setup_s, "s", 1,
                    "server start %.3f s, lake population %.3f s (%s), warm pass %.3f s" % (
                        self.server.start_s, self.populate_s, self.phases, warm_pass))
        before = self.lake_state()
        # --- measured phase ---
        self.sink = cl.Sink()
        if a.trace:
            self.spark_before = self.server.call("/spark")
        cpu0, t0 = time.process_time(), time.perf_counter()
        getattr(self, "drive_" + a.workload)()
        self.elapsed = time.perf_counter() - t0
        self.client_cpu = (time.process_time() - cpu0) / self.elapsed
        measured = self.sink.results
        if a.trace:
            self.spark_run = self.server.call("/spark")
        after = self.lake_state()
        # --- after the run: read-back, probes ---
        self.sink = cl.Sink()
        if a.workload == "lake_ingest":
            self.read_back()
        readback = self.sink.results
        noop = self.noop_probe()
        rss = (self.server.call("/heap")["live_heap_mb"], self.server.peak_rss_mb())
        e2e = self.end_to_end(measured, readback, before, after, noop, rss)
        metrics = e2e
        if a.trace:
            metrics = self.per_layer(measured, noop)
        checked = warm + measured + readback
        failed = [r for r in checked if not r.ok]
        for r in failed[:20]:
            self.lines.append("failed op=%s err=%s" % (r.op, r.err))
        attempted = len(checked)
        self.lines.append("result attempted=%d failed=%d failed_frac=%.6f" % (
            attempted, len(failed), len(failed) / max(1, attempted)))
        for line in self.lines:
            print(line)
        self.save(e2e)
        return {"correct": not failed, "attempted": attempted,
                "failed": len(failed),
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in metrics.items()}}

    def load_lake(self):
        self.root = os.path.join(self.run_dir, "lake")
        r = self.server.call("/lake", {
            "root": self.root, "spec": self.spec if self.lake else None,
            "flush": self.w["flush"]}, timeout=170)
        self.port = r["port"]
        self.populate_s = r["populate_s"]
        self.phases = " ".join("%s %.3f" % kv for kv in r["phases_s"].items())
        self.cids, self.ids = r["cids"], r["ids"]
        self.base_rows = []
        if self.lake:
            mime = {i: b.mime for i, b in enumerate(self.lake.blobs)}
            self.base_rows = [(self.ids[i], dict(d, type=mime[d["blob"]]))
                              for i, d in enumerate(self.lake.datasets)]
        self.find_memo = {}

    def warm_up(self):
        """Fill what a serving lake has warm before timing: the catalog
        snapshot, the content and dataset indexes and JIT-compiled request
        paths (the loader has already waited for every inferred schema)."""
        wl = self.a.workload
        conn = cl.Conn(self.port, self.sink, -1)
        if wl == "lake_ingest":  # builds the dataset index; one more version
            parent = self.ids[0]
            conn.request("register", "POST", "/update",
                         json.dumps({"parent": str(parent)}).encode(),
                         check=cl.expect_json(fn=self.note_warm))
        if self.lake:
            ops = gen.read_ops(self.lake, self.a.seed, -1, self.cids)
            for _ in range(12 if wl != "analytics" else 4):
                self.send(conn, next(ops))
        conn.close()

    def note_warm(self, j):
        """The warm-up version of dataset 0 is one more lake row."""
        self.base_rows.append((int(j["id"]), self.base_rows[0][1]))
        return None

    # --- requests and their checks ------------------------------------------

    def send(self, conn, op):
        if op.name == "find":
            return conn.request("find", "POST", "/find", op.body,
                                check=cl.expect_json(fn=lambda j: self.check_find(op.expect, j)))
        if op.name == "get":
            return conn.request("get", "GET", op.path, check=bytes_equal(op.expect))
        if op.name == "schema":
            return conn.request("schema", "GET", op.path,
                                check=cl.expect_json(fn=fields_equal(op.expect)))
        return conn.request("extract", "POST", op.path, op.body,
                            check=cl.expect_json(fn=extract_equal(op.expect)))

    def check_find(self, q, got):
        """Checked against the lake's own rows, which no write of the
        benchmark ever matches, so the expected answer is memoized."""
        want = self.find_memo.get(q.body)
        if want is None:
            want = self.find_memo[q.body] = q.expect(self.base_rows)
        return None if q.check(want, got) else "wrong /find answer for %s" % q.body

    def schema(self, conn, blob, cid):
        return conn.request("schema", "GET", "/schema/" + cid,
                            check=cl.expect_json(fn=fields_equal(sorted(blob.columns))))

    def query(self, conn, name):
        want = self.expected.get(name)
        observed = {}

        def check(rows):
            observed.update(rows=len(rows), hash=row_hash(rows))
            if self.a.record_expected:
                return None
            if observed != want:
                return "%s: got %s, expected %s" % (name, observed, want)
            return None
        ok, _ = conn.request("query", "POST", "/query/" + name,
                             json.dumps({"sf_dir": self.sf_dir}).encode(),
                             check=cl.expect_json(fn=check))
        return ok, observed

    # --- workloads ----------------------------------------------------------

    def drive_lake_read(self):
        def worker(c, deadline):
            conn = cl.Conn(self.port, self.sink, c)
            ops = gen.read_ops(self.lake, self.a.seed, c, self.cids)
            while time.perf_counter() < deadline:
                self.send(conn, next(ops))
            conn.close()
        cl.run_clients(self.w["clients"], worker, self.a.seconds)

    def drive_lake_ingest(self):
        self.acked_blobs = {}       # cid -> bytes
        self.acked_rows = {}        # id -> (cid, description)
        self.upload_bytes = 0
        self.dedup = [0, 0]         # uploads whose content was already stored, uploads
        self.upload_paths = []
        self.session_ms = []

        def worker(c, deadline):
            conn = cl.Conn(self.port, self.sink, c)
            mine = []
            for s in gen.ingest_sessions(self.lake, self.a.seed, c):
                if time.perf_counter() >= deadline:
                    break
                self.session(conn, c, s, mine, deadline)
            conn.close()
        cl.run_clients(self.w["clients"], worker, self.a.seconds)

    def session(self, conn, c, s, mine, deadline):
        """One ingest session; its latency counts when it completed
        before the deadline."""
        t0, n0 = time.perf_counter(), len(self.sink.results)
        self.session_steps(conn, c, s, mine, deadline)
        done = self.sink.results[n0:]
        if time.perf_counter() < deadline and all(r.ok for r in done if r.client == c):
            self.session_ms.append((time.perf_counter() - t0) * 1e3)

    def session_steps(self, conn, c, s, mine, deadline):
        blob, src = s["blob"], "ing-c%d" % c
        known = s["dedup_of"]
        ok, body = conn.request(
            "add", "POST", "/file", blob.data, ctype=blob.mime,
            check=cl.expect_json(fn=lambda j: None if known is None or
                                 j["cid"] == self.cids[known] else "dedup CID mismatch"))
        if not ok:
            return
        cid = json.loads(body)["cid"]
        self.dedup[0] += cid in self.acked_blobs or known is not None
        self.dedup[1] += 1
        self.acked_blobs[cid] = blob.data
        self.upload_bytes += len(blob.data)
        if len(self.upload_paths) < 8 and known is None:
            p = os.path.join(self.spec, "upload-%s" % s["tag"])
            with open(p, "wb") as f:
                f.write(blob.data)
            self.upload_paths.append(p)
        steps = [("register", "/dataset", {"file": cid, "description": "ing " + s["tag"],
                                           "source": src, "topics": ["ingest-c%d" % c],
                                           "session": s["n"]})]
        for op, path, meta in steps:
            if time.perf_counter() >= deadline:
                return
            ok, body = conn.request(op, "POST", path, json.dumps(meta).encode(),
                                    check=cl.expect_json(fn=has_id))
            if not ok:
                return
            rid = int(json.loads(body)["id"])
            mine.append(rid)
            self.acked_rows[rid] = (cid, meta["description"])
            self.upload_bytes += len(json.dumps(meta))
            if s["update"] and path == "/dataset":
                steps.append(("register", "/update", {"parent": str(rid),
                                                      "description": "ing %s v2" % s["tag"]}))
        if blob.kind != "binary" and time.perf_counter() < deadline:
            self.schema(conn, blob, cid)
        if time.perf_counter() < deadline:
            conn.request("get", "GET", "/file/" + cid, check=bytes_equal(blob.data))
        if time.perf_counter() < deadline:
            want = sorted(mine)
            conn.request("find", "POST", "/find",
                         json.dumps(["==", gen.path("source"), src]).encode(),
                         check=cl.expect_json(fn=lambda j: None if sorted(
                             int(r["id"]) for r in j) == want else "own rows missing"))
        if time.perf_counter() < deadline:
            self.send(conn, gen.Op("find", "POST", "/find", s["find"].body.encode(),
                                   expect=s["find"]))

    def read_back(self):
        """Every acknowledged write must read back after the run."""
        conn = cl.Conn(self.port, self.sink, -1)
        for cid, data in self.acked_blobs.items():
            conn.request("readback", "GET", "/file/" + cid, check=bytes_equal(data))

        def rows_match(rows):
            got = {int(r["id"]): (r["cid"], r["description"]) for r in rows}
            missing = [i for i, v in self.acked_rows.items() if got.get(i) != v]
            return "%d acknowledged rows missing or wrong" % len(missing) if missing else None
        conn.request("readback", "POST", "/find",
                     json.dumps(["~", gen.path("source"), "ing-.*"]).encode(),
                     check=cl.expect_json(fn=rows_match))
        conn.close()

    def drive_analytics(self):
        self.passes, self.per_query, self.query_of = [], {}, {}
        observed = {}
        conn = cl.Conn(self.port, self.sink, 0)
        deadline = time.perf_counter() + self.a.seconds
        n = 0
        # a pass is the unit of work; ops_per_s is a median over passes
        while time.perf_counter() < deadline or n < MIN_PASSES:
            n += 1
            t0 = time.perf_counter()
            for q in gen.analytics_pass(self.a.seed, n):
                _, obs = self.query(conn, q)
                observed[q] = obs
                last = self.sink.results[-1]
                self.query_of[last.rid] = q
                self.per_query.setdefault(q, []).append(last.ms)
            self.passes.append(time.perf_counter() - t0)
        conn.close()
        if self.a.record_expected:
            with open(EXPECTED, "w") as f:
                json.dump(dict(sorted(observed.items())), f, indent=1)
                f.write("\n")

    # --- measurements -------------------------------------------------------

    def noop_probe(self, n=200):
        """Sequential requests to an unsupported route (404): the server's
        fixed per-request cost, the analog of the reference's no-op
        control endpoint."""
        sink = cl.Sink()
        conn = cl.Conn(self.port, sink, -1)
        for _ in range(n):
            conn.request("noop", "GET", "/noop",
                         check=lambda st, _: None if st == 404 else "status %d" % st)
        conn.close()
        return [r.ms for r in sink.results if r.ok]

    def lake_state(self):
        """(bytes under the lake root, parquet commits in the catalog)."""
        size, commits = 0, set()
        for d, _, files in os.walk(self.root):
            for f in files:
                size += os.path.getsize(os.path.join(d, f))
                if f.startswith("part-") and f.endswith(".parquet"):
                    commits.add((d, f.split("-", 2)[2][:36]))
        return size, commits

    def report(self, name, value, unit, n, note=""):
        self.lines.append("metric %s %.6g %s n=%d%s" % (
            name, value, unit, n, (" (%s)" % note) if note else ""))

    def latency(self, results, ops, name, tail=None):
        ms = [r.ms for r in results if r.op in ops and r.ok]
        n_all = sum(r.op in ops for r in results)
        if not ms:
            return None
        p50 = stats.percentile(ms, 50)
        self.report(name + "_p50_ms", p50, "ms", len(ms))
        if tail:
            # a failed request misses every latency limit
            worst = ms + [float("inf")] * (n_all - len(ms))
            p = self.w["tail"]
            t = stats.percentile(worst, p)
            self.report(name + "_tail_ms", t, "ms", n_all,
                        "p%g, %d beyond" % (p, stats.beyond(n_all, p)))
        return p50

    def end_to_end(self, measured, readback, before, after, noop, rss):
        res, wl = measured, self.a.workload
        ok = [r for r in res if r.ok]
        # median over windows (passes on analytics), so one stalled stretch
        # of a run does not move the run's figure
        if wl == "analytics":
            rates = [len(gen.ANALYTICS_QUERIES) / p for p in self.passes]
        else:
            t0 = min(r.start for r in res)
            n = max(1, round(self.elapsed / WINDOW_S))
            width = self.elapsed / n
            counts = [0] * n
            for r in ok:
                counts[min(n - 1, int((r.end - t0) / 1e9 / width))] += 1
            rates = [c / width for c in counts]
        ops_per_s = stats.median(rates)
        self.report("ops_per_s", ops_per_s, "1/s", len(ok),
                    "%d clients, median of %d windows over %.2f s" % (
                        self.w["clients"], len(rates), self.elapsed))
        # latency of the workload's unit of work: a request, or on
        # lake_ingest a whole session (its requests are half sub-ms reads,
        # half snapshot rebuilds, so a per-request median is bimodal)
        if wl == "lake_ingest":
            unit, all_ms = "sessions", self.session_ms
        else:
            unit = "requests"
            all_ms = [r.ms for r in ok] + [float("inf")] * (len(res) - len(ok))
        p50 = stats.percentile(all_ms, 50)
        tail = stats.percentile(all_ms, self.w["tail"])
        self.report("p50_ms", p50, "ms", len(all_ms), unit)
        self.report("tail_ms", tail, "ms", len(all_ms),
                    "%s, p%g, %d beyond; at this n the 10-beyond rule gives p%s" % (
                        unit, self.w["tail"], stats.beyond(len(all_ms), self.w["tail"]),
                        stats.tail_percentile(len(all_ms))))
        self.report("live_heap_mb", rss[0], "MB", 1, "server heap in use after a full GC")
        self.report("peak_rss_mb", rss[1], "MB", 1, "server VmHWM")
        fails = len(res) - len(ok) + sum(not r.ok for r in readback)
        self.report("failed_frac", fails / max(1, len(res) + len(readback)), "ratio",
                    len(res) + len(readback))
        if wl != "analytics":
            self.latency(res, ("find",), "find", tail=True)
            self.latency(res, ("get",), "get")
            self.latency(res, ("schema",), "schema")
        if wl == "lake_read":
            self.latency(res, ("extract",), "extract", tail=True)
        if wl == "lake_ingest":
            self.latency(res, ("add",), "add", tail=True)
            self.latency(res, ("register",), "register", tail=True)
            growth = after[0] - before[0]
            self.report("store_bytes_per_user_byte", growth / max(1, self.upload_bytes),
                        "ratio", len(self.acked_blobs),
                        "%d B lake growth / %d B accepted" % (growth, self.upload_bytes))
            self.report("store.flushes", len(after[1] - before[1]), "count", 1,
                        "new parquet commits in the catalog")
            self.report("store.dedup_hit_ratio", self.dedup[0] / max(1, self.dedup[1]),
                        "ratio", self.dedup[1])
        if wl == "analytics":
            if self.passes:
                self.report("mix_pass_s", stats.median(self.passes), "s",
                            len(self.passes))
            for q, ms in sorted(self.per_query.items()):
                self.lines.append("query %s p50_ms=%.3f n=%d" % (
                    q, stats.percentile(ms, 50), len(ms)))
        # client honesty: requests per op and the client's own load
        by_op = {}
        for r in res + readback:
            s = by_op.setdefault(r.op, [0, 0, 0])
            s[0] += 1
            s[1 if r.ok else 2] += 1
        for op, (sent, good, bad) in sorted(by_op.items()):
            self.lines.append("client op=%s sent=%d succeeded=%d failed=%d" % (
                op, sent, good, bad))
        self.report("client_cpu_share", self.client_cpu, "cores", 1,
                    "client process CPU / wall time")
        if noop:
            self.report("api.noop_p50_ms", stats.percentile(noop, 50), "ms", len(noop))
        self.ops_per_s = ops_per_s
        return {"setup_s": (self.setup_s, "s"), "ops_per_s": (ops_per_s, "1/s"),
                "p50_ms": (p50, "ms"), "tail_ms": (tail, "ms")}

    def save(self, e2e):
        out = os.path.join(WORK, "results")
        os.makedirs(out, exist_ok=True)
        name = "%s-s%d-t%d.json" % (self.a.workload, self.a.seed, self.a.trace)
        with open(os.path.join(out, name), "w") as f:
            json.dump({k: v for k, (v, _) in e2e.items()}, f)

    # --- traced run -------------------------------------------------------

    def per_layer(self, measured, noop):
        import layers
        return layers.compute(self, measured, noop)


# --- checks -------------------------------------------------------------

def bytes_equal(data):
    def check(status, payload):
        if status != 200:
            return "status %d" % status
        return None if payload == data else "bytes differ (%d vs %d)" % (len(payload), len(data))
    return check


def fields_equal(names):
    def check(j):
        got = sorted(j["items"]["properties"])
        return None if got == names else "schema fields %s, expected %s" % (got, names)
    return check


def extract_equal(want):
    def check(rows):
        if isinstance(want, dict):
            got = {r["cat"]: r["n"] for r in rows}
            return None if got == want else "wrong rollup"
        return None if len(rows) == want else "%d rows, expected %d" % (len(rows), want)
    return check


def has_id(j):
    return None if "id" in j and int(j["id"]) > 0 else "no id in reply"


def row_hash(rows):
    """Order-insensitive hash of query rows; floats to 6 significant
    digits so summation order cannot flip it."""
    def canon(v):
        if isinstance(v, float):
            return "%.6g" % v
        if isinstance(v, dict):
            return {k: canon(x) for k, x in sorted(v.items())}
        if isinstance(v, list):
            return [canon(x) for x in v]
        return v
    lines = sorted(json.dumps(canon(r), sort_keys=True) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


if __name__ == "__main__":
    main()
