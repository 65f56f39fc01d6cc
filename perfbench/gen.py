"""Seeded input generator for the lake benchmark.

Everything a run sends — blob bytes, dataset metadata, the request
sequence of every client and the analytics tables — is a pure function of
the seed, so the same seed gives byte-identical inputs. The generator also
keeps what it knows about its inputs (CSV columns and rows, JSON keys,
dataset fields) so the client can check every response.
"""
import json
import math
import os
import random
import re

# Sizes of the generated lake; recorded in perfbench/README.md.
LAKE_SIZES = {
    "full": {"csv": 200, "json": 50, "binary": 3, "datasets": 4000},
    "small": {"csv": 40, "json": 10, "binary": 1, "datasets": 1000},
}
N_SOURCES = 40
N_TOPICS = 30
LANGS = ["en", "de", "fr", "es", "zh", "pt"]
CSV_COLUMNS = ["id", "cat", "name", "qty", "price", "region", "flag", "note"]
CATS = ["c%d" % i for i in range(8)]
JSON_KINDS = ["k%d" % i for i in range(6)]
WORDS = ("lake data table row column key value query join scan filter "
         "group sort merge batch stream window vector index hash block "
         "chunk shard page cache spark agg line order part customer").split()

# The fixed analytics data set (the request order comes from the seed).
ANALYTICS_DATA_SEED = 20201027


def source(i):
    return "src-%02d" % i


def topic(i):
    return "t-%02d" % i


# --- lake ---------------------------------------------------------------

class Blob:
    """One generated blob and what the generator knows about it."""

    def __init__(self, index, kind, mime, data, columns=None, rows=None):
        self.index = index
        self.kind = kind          # csv | json | binary
        self.mime = mime
        self.data = data
        self.columns = columns    # csv header / json keys
        self.rows = rows          # list of dicts (strings for csv)


CSV_VALUES = {
    "id": None,
    "cat": CATS,
    "name": ["n%d" % i for i in range(1000)],
    "qty": [str(i) for i in range(1, 500)],
    "price": ["%d.%02d" % (i // 100, i % 100) for i in range(100, 100000, 7)],
    "region": ["north", "south", "east", "west"],
    "flag": ["y", "n"],
    "note": WORDS,
}


def csv_blob(rng, index, n_rows, ncol=None):
    ncol = ncol or rng.randint(4, len(CSV_COLUMNS))
    cols = CSV_COLUMNS[:ncol]
    columns = [[str(r) for r in range(n_rows)] if c == "id" else
               rng.choices(CSV_VALUES[c], k=n_rows) for c in cols]
    lines = [",".join(cols)] + [",".join(v) for v in zip(*columns)]
    data = ("\n".join(lines) + "\n").encode()
    rows = [dict(zip(cols, v)) for v in zip(*columns)]
    return Blob(index, "csv", "text/csv", data, cols, rows)


def json_blob(rng, index, n_rows):
    rows = [{"id": r, "kind": rng.choice(JSON_KINDS),
             "score": round(rng.uniform(0, 100), 3),
             "label": rng.choice(WORDS)} for r in range(n_rows)]
    data = json.dumps(rows, separators=(",", ":")).encode()
    return Blob(index, "json", "application/json", data,
                ["id", "kind", "label", "score"], rows)


def binary_blob(rng, index, n_bytes):
    return Blob(index, "binary", "application/octet-stream",
                rng.randbytes(n_bytes))


def stratified(rng, n, lo, hi):
    """n (stratum, size) pairs: log-uniform sizes in [lo, hi], one per
    equal-width stratum of the log range, shuffled: every seed gets the
    same size distribution."""
    span = math.log(hi) - math.log(lo)
    sizes = [(i, int(round(lo * math.exp(span * (i + rng.random()) / n))))
             for i in range(n)]
    rng.shuffle(sizes)
    return sizes


class Lake:
    """A generated lake: blobs plus dataset rows with version chains."""

    def __init__(self, seed, size):
        sz = LAKE_SIZES[size]
        rng = random.Random("lake-%d-%s" % (seed, size))
        self.blobs = []
        # a CSV blob's width follows its size stratum, so the largest
        # blobs (the slowest extracts) have the same widths on every seed
        ncols = len(CSV_COLUMNS) - 3
        for i, n in stratified(rng, sz["csv"], 100, 10000):
            self.blobs.append(csv_blob(rng, len(self.blobs), n, 4 + i % ncols))
        for _, n in stratified(rng, sz["json"], 10, 500):
            self.blobs.append(json_blob(rng, len(self.blobs), n))
        for _, n in stratified(rng, sz["binary"], 1 << 20, 8 << 20):
            self.blobs.append(binary_blob(rng, len(self.blobs), n))
        self.datasets = []
        while len(self.datasets) < sz["datasets"]:
            i = len(self.datasets)
            d = {"blob": rng.randrange(len(self.blobs)),
                 "description": "dataset %d about %s %s" % (
                     i, rng.choice(WORDS), rng.choice(WORDS)),
                 "source": source(rng.randrange(N_SOURCES)),
                 "topics": sorted({topic(rng.randrange(N_TOPICS))
                                   for _ in range(rng.randint(1, 3))}),
                 "extra": {"year": rng.randint(1990, 2024),
                           "lang": rng.choice(LANGS)},
                 "parent": None}
            self.datasets.append(d)
            if rng.random() < 0.2:  # a version chain of 1-3 updates
                parent = len(self.datasets) - 1
                for v in range(rng.randint(1, 3)):
                    child = dict(self.datasets[parent])
                    child["description"] = "%s v%d" % (d["description"], v + 2)
                    child["extra"] = dict(child["extra"],
                                          year=rng.randint(1990, 2024))
                    child["parent"] = parent
                    self.datasets.append(child)
                    parent = len(self.datasets) - 1
        del self.datasets[sz["datasets"]:]
        self.rowsets = [b for b in self.blobs if b.kind in ("csv", "json")]

    def write(self, spec_dir):
        """Blob files plus the manifest the server harness populates a lake from."""
        os.makedirs(os.path.join(spec_dir, "blobs"), exist_ok=True)
        blobs = []
        for b in self.blobs:
            path = "blobs/b%04d.%s" % (b.index, b.kind)
            with open(os.path.join(spec_dir, path), "wb") as f:
                f.write(b.data)
            blobs.append({"path": path, "mime": b.mime})
        with open(os.path.join(spec_dir, "manifest.json"), "w") as f:
            json.dump({"blobs": blobs, "datasets": self.datasets}, f)


# --- QAST request bodies with their expected answers ------------------------

def path(*keys):
    return [".", ["$"]] + list(keys)


class FindQuery:
    """A /find body and the check of its answer against `rows` — the
    dataset rows it can see, as (id, row) pairs, each row carrying its
    blob's MIME type under "type"."""

    def __init__(self, kind, body, expect):
        self.kind = kind
        self.body = json.dumps(body)
        self.expect = expect      # rows -> expected result

    def check(self, want, got):
        """`want` is `self.expect(rows)` (callers memoize it)."""
        if self.kind == "group":
            have = {(r["type"], r["n"]) for r in got}
            return have == want
        if self.kind == "top":
            return [int(r["id"]) for r in got] == want
        if self.kind == "project":
            return sorted((r["src"], r["y"]) for r in got) == want
        return sorted(int(r["id"]) for r in got) == want


FIND_KINDS = ["eq", "eq", "regex", "topic", "topic", "range", "group", "top",
              "project"]


def deck(rng, cards):
    """Endless draws that deal every card once per shuffled round, so each
    run sends the mix's exact proportions (less noise than i.i.d. draws)."""
    cards = list(cards)
    while True:
        rng.shuffle(cards)
        yield from cards


def find_query(rng, k):
    """A /find of shape k: equality, regex, topic membership, range, or
    the group / top / project frame verbs."""
    if k == "eq":
        s = source(rng.randrange(N_SOURCES))
        return FindQuery(k, ["==", path("source"), s], lambda rows: sorted(
            i for i, d in rows if d["source"] == s))
    if k == "regex":  # ten datasets and their versions
        p = "dataset %d[0-9] .*" % rng.randrange(10, 100)
        rx = re.compile(p)
        return FindQuery(k, ["~", path("description"), p], lambda rows: sorted(
            i for i, d in rows if rx.fullmatch(d["description"])))
    if k == "topic":
        t = topic(rng.randrange(N_TOPICS))
        return FindQuery(k, ["&&", path("topics"), [t]], lambda rows: sorted(
            i for i, d in rows if t in d["topics"]))
    if k == "range":
        lo = rng.randint(1990, 2022)
        lo_s, hi_s = str(lo), str(lo + 2)
        return FindQuery(
            k, ["&", [">=", path("extra", "year"), lo_s],
                [">=", hi_s, path("extra", "year")]],
            lambda rows: sorted(i for i, d in rows
                                if lo_s <= str(d["extra"]["year"]) <= hi_s))
    if k == "group":
        s = source(rng.randrange(N_SOURCES))

        def expect(rows):
            counts = {}
            for _, d in rows:
                if d["source"] == s:
                    t = d["type"]
                    counts[t] = counts.get(t, 0) + 1
            return set(counts.items())
        return FindQuery(k, ["group", ["==", path("source"), s],
                             [path("type")], ["count"]], expect)
    if k == "top":
        t = topic(rng.randrange(N_TOPICS))
        return FindQuery(k, ["top", 5, [["desc", path("id")]],
                             ["&&", path("topics"), [t]]],
                         lambda rows: sorted((i for i, d in rows
                                              if t in d["topics"]),
                                             reverse=True)[:5])
    s = source(rng.randrange(N_SOURCES))
    return FindQuery(k, ["project", [["src", path("source")],
                                     ["y", path("extra", "year")]],
                         ["==", path("source"), s]],
                     lambda rows: sorted((d["source"], str(d["extra"]["year"]))
                                         for _, d in rows if d["source"] == s))


def extract_query(rng, blob, k):
    """An /extract body of shape k (eq, regex, group) over a CSV blob, or
    an equality over a JSON blob, and its expected answer: a row count, or
    the {key: count} map of a group rollup."""
    if blob.kind == "csv":
        if k == "eq":
            c = rng.choice(CATS)
            return ["==", path("cat"), c], _counts(blob, "cat").get(c, 0)
        if k == "regex":
            p = "n%d" % rng.randrange(10, 100)
            names = _counts(blob, "name")
            return (["~", path("name"), p + ".*"],
                    sum(n for v, n in names.items() if v.startswith(p)))
        return ["group", True, [path("cat")], ["count"]], _counts(blob, "cat")
    kind = rng.choice(JSON_KINDS)
    return ["==", path("kind"), kind], _counts(blob, "kind").get(kind, 0)


def _counts(blob, col):
    """Value counts of one column of a row blob, computed once per blob."""
    memo = blob.__dict__.setdefault("_counts", {})
    if col not in memo:
        c = {}
        for r in blob.rows:
            c[r[col]] = c.get(r[col], 0) + 1
        memo[col] = c
    return memo[col]


# --- request sequences ------------------------------------------------------

class Op:
    """One request: method, path, body, and what a correct answer is."""
    __slots__ = ("name", "method", "path", "body", "expect")

    def __init__(self, name, method, path, body=None, expect=None):
        self.name, self.method, self.path = name, method, path
        self.body, self.expect = body, expect


def schema_pool(lake, seed):
    rng = random.Random("schema-pool-%d" % seed)
    return rng.sample(lake.rowsets, 12)


def read_ops(lake, seed, client, cids):
    """The read-only mix: /find 45%, GET /file 25%, GET /schema 10% (on a
    pool whose schemas are inferred during set-up), POST /extract 20%."""
    rng = random.Random("read-%d-%d" % (seed, client))
    pool = schema_pool(lake, seed)
    # each client deals its own share of the blobs, so a run covers the
    # lake's size distribution instead of a random sample of it
    mine = lambda bs: [b for i, b in enumerate(bs) if i % 4 == client % 4]
    small = deck(rng, mine([b for b in lake.blobs if b.kind != "binary"]))
    big = [b for b in lake.blobs if b.kind == "binary"]
    rowsets = deck(rng, mine(lake.rowsets))
    kinds = deck(rng, ["find"] * 9 + ["get"] * 5 + ["schema"] * 2 + ["extract"] * 4)
    finds = deck(rng, FIND_KINDS)
    extracts = deck(rng, ["eq", "regex", "group"])
    gets = deck(rng, [True] + [False] * 24)   # 1 in 25 GETs is a 1-8 MB blob
    for kind in kinds:
        if kind == "find":
            q = find_query(rng, next(finds))
            yield Op("find", "POST", "/find", q.body.encode(), expect=q)
        elif kind == "get":
            b = rng.choice(big) if big and next(gets) else next(small)
            yield Op("get", "GET", "/file/" + cids[b.index], expect=b.data)
        elif kind == "schema":
            b = rng.choice(pool)
            yield Op("schema", "GET", "/schema/" + cids[b.index],
                     expect=sorted(b.columns))
        else:
            b = next(rowsets)
            body, want = extract_query(rng, b, next(extracts))
            yield Op("extract", "POST", "/extract/" + cids[b.index],
                     json.dumps(body).encode(), expect=want)


def upload_blob(rng, tag, kind):
    if kind == "csv":
        b = csv_blob(rng, -1, rng.randint(100, 500))
    elif kind == "json":
        b = json_blob(rng, -1, rng.randint(20, 100))
    else:
        return binary_blob(rng, -1, rng.randint(64 << 10, 128 << 10))
    if b.kind == "csv":  # a last row naming the session keeps every upload new
        row = [tag] + ["x"] * (len(b.columns) - 1)
        b.data += (",".join(row) + "\n").encode()
        b.rows.append(dict(zip(b.columns, row)))
    return b


def ingest_sessions(lake, seed, client):
    """Seeded ingest sessions of one client: each yields a dict describing
    one session (upload, dataset, optional update); the client turns it
    into requests. About 10% of uploads re-send a lake blob's bytes (CAS
    dedup); the rest are new blobs."""
    rng = random.Random("ingest-%d-%d" % (seed, client))
    uploads = deck(rng, ["csv"] * 11 + ["json"] * 5 + ["binary"] * 2 + ["dedup"] * 2)
    updates = deck(rng, [True] + [False] * 3)
    finds = deck(rng, FIND_KINDS)
    reusable = [b for b in lake.blobs if b.kind == "csv" and len(b.rows) <= 1000]
    n = 0
    for kind in uploads:
        n += 1
        tag = "c%ds%d" % (client, n)
        if kind == "dedup":
            reuse = rng.choice(reusable)
            blob, dedup_of = reuse, reuse.index
        else:
            blob, dedup_of = upload_blob(rng, tag, kind), None
        yield {"n": n, "tag": tag, "blob": blob, "dedup_of": dedup_of,
               "update": next(updates), "find": find_query(rng, next(finds))}


# --- analytics ---------------------------------------------------------------

ANALYTICS_QUERIES = [
    "q1_agg", "q18_large_orders", "qast_group_having", "ann_ivf_trained_topk",
    "ann_ivfpq_topk", "dedup_clusters", "dedup_simhash_md5", "text_tfidf",
    "graph_kcore", "cid_ingest",
]

# Row counts of TPC-H at scale factor 0.005 (half the repo's sf0.01 test
# data, a twentieth of sf0.1). At sf0.1 a pass takes ~24 s on 4 cores and
# a run of a warm pass plus three timed passes would not fit the
# benchmark's time budget; the job structure is the same at both scales
# (see perfbench/README.md).
ANALYTICS_SIZES = {"customer": 750, "supplier": 50, "part": 1000,
                   "orders": 7500, "lineitem": 30000, "events": 5000,
                   "documents": 250, "embeddings": 100}


def analytics_pass(seed, n):
    """Query order of the n-th pass: a seeded permutation of the pass."""
    order = list(ANALYTICS_QUERIES)
    random.Random("pass-%d-%d" % (seed, n)).shuffle(order)
    return order


def write_analytics_tables(out_dir):
    """The TPC-H-like tables plus events, documents and embeddings, with
    the engine's canonical schemas (graft.Tables), from a fixed seed."""
    import datetime as dt
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(ANALYTICS_DATA_SEED)
    n = ANALYTICS_SIZES
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", {"r_regionkey": pa.array(range(5), i32),
                     "r_name": pa.array(regions, s)})
    write("nation", {"n_nationkey": pa.array(range(25), i32),
                     "n_name": pa.array(["NATION%02d" % i for i in range(25)], s),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    nc, ns, np_ = n["customer"], n["supplier"], n["part"]
    write("customer", {
        "c_custkey": pa.array(range(1, nc + 1), i64),
        "c_name": pa.array(["Customer#%09d" % i for i in range(1, nc + 1)], s),
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(nc)], i32),
        "c_acctbal": pa.array([round(rng.uniform(-999, 9999), 2) for _ in range(nc)], f64),
        "c_mktsegment": pa.array([rng.choice(segs) for _ in range(nc)], s)})
    write("supplier", {
        "s_suppkey": pa.array(range(1, ns + 1), i64),
        "s_name": pa.array(["Supplier#%09d" % i for i in range(1, ns + 1)], s),
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(ns)], i32),
        "s_acctbal": pa.array([round(rng.uniform(-999, 9999), 2) for _ in range(ns)], f64)})
    write("part", {
        "p_partkey": pa.array(range(1, np_ + 1), i64),
        "p_name": pa.array([" ".join(rng.sample(WORDS, 3)) for _ in range(np_)], s),
        "p_brand": pa.array(["Brand#%d%d" % (rng.randint(1, 5), rng.randint(1, 5))
                             for _ in range(np_)], s),
        "p_type": pa.array([rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE"]) + " " +
                            rng.choice(["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"])
                            for _ in range(np_)], s),
        "p_size": pa.array([rng.randint(1, 50) for _ in range(np_)], i32),
        "p_retailprice": pa.array([round(rng.uniform(900, 2000), 2) for _ in range(np_)], f64)})
    base = dt.datetime(1992, 1, 1)
    orders = {k: [] for k in ["o_orderkey", "o_custkey", "o_orderstatus",
                              "o_totalprice", "o_orderdate", "o_orderpriority"]}
    items = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey",
                             "l_linenumber", "l_quantity", "l_extendedprice",
                             "l_discount", "l_tax", "l_returnflag",
                             "l_linestatus", "l_shipdate"]}
    ok = 0
    while len(items["l_orderkey"]) < n["lineitem"]:
        ok += 1
        odate = base + dt.timedelta(days=rng.randrange(2400))
        total = 0.0
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            price = round(qty * rng.uniform(900, 2000), 2)
            total += price
            ship = odate + dt.timedelta(days=rng.randint(1, 121))
            for k, v in zip(items, [ok, rng.randint(1, np_), rng.randint(1, ns), ln,
                                    qty, price, round(rng.randint(0, 10) / 100, 2),
                                    round(rng.randint(0, 8) / 100, 2),
                                    rng.choice("ARN"),
                                    "F" if ship < dt.datetime(1995, 6, 17) else "O",
                                    ship]):
                items[k].append(v)
        for k, v in zip(orders, [ok, rng.randint(1, nc), rng.choice("FOP"),
                                 round(total, 2), odate,
                                 rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                             "4-NOT SPECIFIED", "5-LOW"])]):
            orders[k].append(v)
    otypes = [i64, i64, s, f64, ts, s]
    write("orders", {k: pa.array(v, t) for (k, v), t in zip(orders.items(), otypes)})
    ltypes = [i64, i64, i64, i32, f64, f64, f64, f64, s, s, ts]
    write("lineitem", {k: pa.array(v, t) for (k, v), t in zip(items.items(), ltypes)})
    t0 = dt.datetime(2024, 1, 1)
    tsv, t = [], t0
    for _ in range(n["events"]):
        t += dt.timedelta(seconds=rng.uniform(1, 300))
        tsv.append(t)
    ne = n["events"]
    write("events", {
        "event_id": pa.array(range(ne), i64), "ts": pa.array(tsv, ts),
        "user_id": pa.array([rng.randrange(100) for _ in range(ne)], i64),
        "event_type": pa.array([rng.choice(["view", "click", "purchase", "error"])
                                for _ in range(ne)], s),
        "value": pa.array([round(rng.uniform(0, 20), 2) for _ in range(ne)], f64),
        "props": pa.array(['{"k": %d}' % rng.randrange(100) for _ in range(ne)], s)})
    texts = []
    for i in range(n["documents"]):
        if texts and rng.random() < 0.3:   # near-duplicate of an earlier doc
            toks = rng.choice(texts).split()
            for _ in range(rng.randint(0, 3)):
                toks[rng.randrange(len(toks))] = rng.choice(WORDS)
        else:
            toks = [rng.choice(WORDS) for _ in range(rng.randint(20, 80))]
        texts.append(" ".join(toks))
    nd = n["documents"]
    write("documents", {
        "doc_id": pa.array(range(nd), i64), "text": pa.array(texts, s),
        "lang": pa.array([rng.choice(["en", "en", "de", "fr", "es", "zh"])
                          for _ in range(nd)], s),
        "source": pa.array(["src%d" % rng.randrange(20) for _ in range(nd)], s),
        "n_chars": pa.array([len(x) for x in texts], i64)})
    nv, dim = n["embeddings"], 64
    centers = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(10)]
    labels = [rng.randrange(10) for _ in range(nv)]
    vecs = [[c + rng.gauss(0, 0.3) for c in centers[lb]] for lb in labels]
    write("embeddings", {
        "vec_id": pa.array(range(nv), i64),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
