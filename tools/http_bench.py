#!/usr/bin/env python3
"""Throughput bench for the graft LakeServer HTTP API.

Measures the same three surfaces BASELINE.md quotes for the reference
(wrk scripts resources/wrk/{add,find,get}.lua):

  add  : POST /file (upload + metadata insert)   ref: 357 req/s
  find : POST /find (metadata predicate search)  ref: 5576 req/s
  get  : GET /file/{cid} (content download)      ref: 6238 req/s

and, with no reference number, extract (POST /extract/{cid}, an
equality predicate over the uploaded CSV), /find frame verbs and
POST /query/q1_agg.

Usage: python3 tools/http_bench.py [port] [seconds] [threads] [procs]

Each worker keeps one persistent HTTP/1.1 connection (like wrk).
Workers are spread over `procs` forked processes so the client GIL
doesn't become the bottleneck. Prints one JSON line per surface (req/s,
plus p50_ms/p99_ms over every request's round-trip time, failed ones
included) and a summary line.
"""
import http.client
import json
import multiprocessing as mp
import sys
import threading
import time

PORT = int(sys.argv[1]) if len(sys.argv) > 1 else 8080
SECS = float(sys.argv[2]) if len(sys.argv) > 2 else 10.0
THREADS = int(sys.argv[3]) if len(sys.argv) > 3 else 4
PROCS = int(sys.argv[4]) if len(sys.argv) > 4 else 8

CSV = b"name,age\nalice,30\nbob,41\ncarol,29\n"
FIND_Q = b'["&&", [".", ["$"], "topics"], ["bench"]]'
EXTRACT_Q = b'["==", [".", ["$"], "name"], "bob"]'
EXTRACT_ROWS = [{"name": "bob", "age": "41"}]  # CSV values stay strings


def setup():
    c = http.client.HTTPConnection("127.0.0.1", PORT)
    c.request("POST", "/file", CSV, {"Content-Type": "text/csv"})
    cid = json.loads(c.getresponse().read())["cid"]
    for i in range(20):
        meta = json.dumps({
            "file": cid, "description": f"bench dataset {i}",
            "source": "http_bench", "topics": ["bench"], "year": 2026,
        }).encode()
        c.request("POST", "/dataset", meta)
        resp = json.loads(c.getresponse().read())
        assert "id" in resp, resp
    c.close()
    return cid


def worker(fn, stop, counts, errors, lat_ms, idx):
    c = http.client.HTTPConnection("127.0.0.1", PORT)
    n = 0
    try:
        while not stop.is_set():
            t0 = time.perf_counter()
            ok = fn(c)
            lat_ms.append((time.perf_counter() - t0) * 1e3)
            if ok:
                n += 1
            else:
                errors[idx] += 1
    finally:
        counts[idx] = n
        c.close()


def proc_main(fn, q):
    stop = threading.Event()
    counts = [0] * THREADS
    errors = [0] * THREADS
    lat_ms = []  # list.append is atomic under the GIL
    ts = [threading.Thread(target=worker,
                           args=(fn, stop, counts, errors, lat_ms, i))
          for i in range(THREADS)]
    for t in ts:
        t.start()
    time.sleep(SECS)
    stop.set()
    for t in ts:
        t.join()
    q.put((sum(counts), sum(errors), lat_ms))


def percentile(sorted_ms, p):
    """Nearest-rank percentile of an ascending list (None when empty)."""
    if not sorted_ms:
        return None
    k = max(0, -(-len(sorted_ms) * p // 100) - 1)
    return round(sorted_ms[int(k)], 2)


def run(name, fn):
    q = mp.Queue()
    ps = [mp.Process(target=proc_main, args=(fn, q)) for _ in range(PROCS)]
    t0 = time.monotonic()
    for p in ps:
        p.start()
    totals = [q.get() for _ in ps]
    for p in ps:
        p.join()
    dt = time.monotonic() - t0
    total = sum(t for t, _, _ in totals)
    errs = sum(e for _, e, _ in totals)
    lat = sorted(x for _, _, ls in totals for x in ls)
    line = {"surface": name, "req_s": round(total / dt, 1),
            "p50_ms": percentile(lat, 50), "p99_ms": percentile(lat, 99),
            "requests": total, "errors": errs, "secs": round(dt, 2),
            "conns": THREADS * PROCS}
    print(json.dumps(line), flush=True)
    return line


def main():
    cid = setup()

    def do_add(c):
        c.request("POST", "/file", CSV, {"Content-Type": "text/csv"})
        r = c.getresponse()
        body = r.read()
        return r.status == 200 and b"cid" in body

    def do_find(c):
        c.request("POST", "/find", FIND_Q)
        r = c.getresponse()
        body = r.read()
        return r.status == 200 and body.startswith(b"[")

    def do_get(c):
        c.request("GET", "/file/" + cid)
        r = c.getresponse()
        body = r.read()
        return r.status == 200 and body == CSV

    def do_extract(c):
        c.request("POST", "/extract/" + cid, EXTRACT_Q)
        r = c.getresponse()
        body = r.read()
        return r.status == 200 and json.loads(body) == EXTRACT_ROWS

    def do_query(c):
        # named analytic query over the server's default sf dir; each
        # request plans + executes a Spark job and streams the JSON
        # result, so this measures the serve path end-to-end (with the
        # refcounted operator-cache release active across the burst)
        c.request("POST", "/query/q1_agg", b"")
        r = c.getresponse()
        body = r.read()
        return r.status == 200 and body.startswith(b"[")

    # beyond-parity frame verbs over the metadata surface: the rollup
    # and top-k run per request through the same /find path (snapshot
    # closure backend when the relation is small) — the reference has
    # no analog (its /find is predicate-only)
    GROUP_Q = (b'["group", ["==", [".", ["$"], "source"], "http_bench"],'
               b' [[".", ["$"], "source"]], ["count"],'
               b' ["avg", [".", ["$"], "id"]]]')
    TOP_Q = (b'["top", 5, [["desc", [".", ["$"], "id"]]],'
             b' ["==", [".", ["$"], "source"], "http_bench"]]')

    def do_find_group(c):
        c.request("POST", "/find", GROUP_Q)
        r = c.getresponse()
        body = r.read()
        return r.status == 200 and body.startswith(b"[")

    def do_find_top(c):
        c.request("POST", "/find", TOP_Q)
        r = c.getresponse()
        body = r.read()
        return r.status == 200 and body.startswith(b"[")

    # project -> top -> filter: the full verb stack in one request
    PROJECT_Q = (b'["project", [["who", [".", ["$"], "source"]],'
                 b' ["ident", ["+", [".", ["$"], "id"], 1]]],'
                 b' ["top", 5, [["desc", [".", ["$"], "id"]]],'
                 b' ["==", [".", ["$"], "source"], "http_bench"]]]')

    def do_find_project(c):
        c.request("POST", "/find", PROJECT_Q)
        r = c.getresponse()
        body = r.read()
        return r.status == 200 and body.startswith(b"[")

    results = [run("add", do_add), run("find", do_find), run("get", do_get),
               run("extract", do_extract),
               run("find_group", do_find_group),
               run("find_top", do_find_top),
               run("find_project", do_find_project), run("query", do_query)]
    print(json.dumps({"summary": {r["surface"]: r["req_s"] for r in results},
                      "reference": {"add": 357.28, "find": 5575.89,
                                    "get": 6238.30}}), flush=True)


if __name__ == "__main__":
    main()
