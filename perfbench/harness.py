"""Building the engine plus the benchmark harness from source, and running
the harness JVM."""
import hashlib
import json
import os
import queue
import subprocess
import sys
import threading
import time
import http.client

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

# Server settings: graft.Serve's SparkSession on a 4-core host.
CPUS = 4
HEAP = "2g"
# Matches org.apache.spark.launcher.JavaModuleOptions (as build.sbt does).
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]


class BuildError(RuntimeError):
    pass


def check_sources():
    for p in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, p)):
            raise BuildError("engine sources not found: %s is missing" % p)


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def source_key():
    """Hash of every input of the build: the engine's and the harness's
    build files and sources. The compiled classes live in the engine's own
    `target/` (its build exports no jar), so a cached classpath is reused
    only while none of these has changed."""
    files = []
    for top in (ROOT, HERE):
        files.append(os.path.join(top, "build.sbt"))
        project = os.path.join(top, "project")
        if os.path.isdir(project):
            files += [os.path.join(project, f) for f in os.listdir(project)
                      if f.endswith((".sbt", ".scala", ".properties"))]
        for base, dirs, fs in os.walk(os.path.join(top, "src", "main")):
            files += [os.path.join(base, f) for f in fs]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
        h.update(b"\0")
    return h.hexdigest()


def classpath():
    """Compile the engine and the harness when any build input changed
    since the last build (sbt compiles incrementally); return the
    harness's runtime classpath."""
    check_sources()
    key = source_key()
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached_key, _, cp = f.read().strip().partition("\n")
        if cached_key == key and cp:
            return cp
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = [l for l in lines if not l.startswith("[") and os.pathsep in l]
    if rc != 0 or not cp:
        raise BuildError("build failed (exit %d), see %s" % (rc, log))
    with open(cp_file, "w") as f:
        f.write(key + "\n" + cp[-1])
    return cp[-1]


class Server:
    """The harness JVM: Serve's SparkSession, a LakeServer, and a loopback
    control endpoint."""

    def __init__(self, run_dir, trace, cp):
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.log = open(os.path.join(run_dir, "harness.log"), "w")
        cmd = (["java"] + ADD_OPENS +
               ["-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp,
                "-Dspark.local.dir=" + tmp, "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC",
                "-cp", cp, "graft.perfbench.Harness", str(CPUS), str(trace)])
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                                     stderr=self.log, stdin=subprocess.DEVNULL,
                                     text=True)
        self.port = None
        ready = queue.Queue()
        self.drainer = threading.Thread(target=self._drain, args=(ready,), daemon=True)
        self.drainer.start()
        try:
            self.port = ready.get(timeout=150)
        except queue.Empty:
            pass
        if self.port is None:
            self.stop()
            raise BuildError("harness did not start, see harness.log")
        self.start_s = time.perf_counter() - self.t0

    def _drain(self, ready):
        """Hand the control port over once it is printed; log the rest."""
        for line in self.proc.stdout:
            if line.startswith("CONTROL "):
                ready.put(int(line.split()[1]))
            else:
                self.log.write(line)
        ready.put(None)

    def call(self, path, body=None, timeout=300):
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=timeout)
        try:
            conn.request("POST", path, json.dumps(body or {}).encode())
            r = conn.getresponse()
            data = json.loads(r.read())
        finally:
            conn.close()
        if r.status != 200:
            raise RuntimeError("harness %s: %s" % (path, data.get("error")))
        return data

    def peak_rss_mb(self):
        with open("/proc/%d/status" % self.proc.pid) as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return float("nan")

    def stop(self):
        if self.proc.poll() is None:
            try:
                if self.port:
                    self.call("/stop", timeout=10)
            except Exception:
                pass
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.drainer.join(timeout=10)
        self.log.close()


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)
