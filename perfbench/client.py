"""Closed-loop HTTP client: each worker thread holds one keep-alive
connection and sends its next request only after the previous reply."""
import http.client
import json
import threading
import time


class Result:
    __slots__ = ("rid", "op", "start", "end", "ok", "err", "client")

    def __init__(self, rid, op, start, end, ok, err, client):
        self.rid, self.op, self.start, self.end = rid, op, start, end
        self.ok, self.err, self.client = ok, err, client

    @property
    def ms(self):
        return (self.end - self.start) / 1e6


class Conn:
    """One keep-alive connection that records every exchange."""

    def __init__(self, port, sink, client):
        self.port, self.sink, self.client = port, sink, client
        self.conn = None

    def request(self, op, method, path, body=None, ctype=None, check=None):
        """Send one request; `check(status, payload)` returns None when the
        answer is right, else an error string. Returns (ok, payload)."""
        if self.conn is None:
            self.conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                                   timeout=60)
        headers = {"Content-Type": ctype} if ctype else {}
        start = time.time_ns()
        p0 = time.perf_counter_ns()
        payload, status, err = None, None, None
        try:
            self.conn.request(method, path, body, headers)
            r = self.conn.getresponse()
            payload, status = r.read(), r.status
        except Exception as e:  # timeouts and resets are failures too
            err = "%s: %s" % (type(e).__name__, e)
            self.conn.close()
            self.conn = None
        end = start + time.perf_counter_ns() - p0
        if err is None:
            try:
                err = check(status, payload) if check else None
            except Exception as e:
                err = "check raised %s: %s" % (type(e).__name__, e)
        self.sink.add(op, start, end, err, self.client)
        return err is None, payload

    def close(self):
        if self.conn is not None:
            self.conn.close()


class Sink:
    """Thread-safe log of request results."""

    def __init__(self):
        self.results = []
        self._lock = threading.Lock()

    def add(self, op, start, end, err, client):
        with self._lock:
            self.results.append(Result(len(self.results), op, start, end,
                                       err is None, err, client))


def expect_json(fn=None):
    """A check: the status is 200 and `fn(decoded body)` is None."""
    def check(status, payload):
        if status != 200:
            return "status %d: %s" % (status, payload[:200].decode("utf-8", "replace"))
        return fn(json.loads(payload)) if fn else None
    return check


def run_clients(n, worker, seconds):
    """Start n worker threads `worker(client, deadline)`; wait for all."""
    deadline = time.perf_counter() + seconds
    threads = [threading.Thread(target=worker, args=(c, deadline))
               for c in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
