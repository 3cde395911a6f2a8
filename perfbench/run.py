"""silo-spark benchmark: one command, seeded workloads, checked answers.

Usage (from the repository root)::

    python3 perfbench/run.py --workload serve_light --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

Workloads (see ``perfbench/NOTES.md`` for why each exists):

- ``serve_light``    4 closed-loop connections, dashboard queries, ``cli api``
- ``serve_heavy``    1 closed-loop connection, side-table scan queries over a
                     store built by ``cli preprocessing`` + ``cli append``
- ``curation_batch`` 1 client in process, whole curation passes

The engine runs in its own process (``engine.py``); this process generates
the inputs from ``--seed``, computes every expected answer without the
engine, drives the load, samples the engine's process tree, and prints a
table and, as the last line, one JSON object. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` enables spans and the Spark event log and
reports the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import platform
import queue
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("serve_light", "serve_heavy", "curation_batch")
#: input sizes, chosen so that set-up plus a 10 s measurement stays well
#: inside the per-run budget on a 4-core host
LIGHT_GENOMES = 600
HEAVY_READS = 40_000
CURATION_DOCS = 600
CURATION_VECTORS = 300
CONNECTIONS = {"serve_light": 4, "serve_heavy": 1}
#: driver heap unless SPARK_DRIVER_MEMORY is set. With the engine's 8g
#: default the JVM grows its heap by GC timing: curation_batch's peak RSS
#: spread 15-25 % across seeds, against 9 % at 2g. 2g is ample here.
DRIVER_MEMORY = "2g"
ENGINE_START_TIMEOUT_S = 120
REQUEST_TIMEOUT_S = 60

END_TO_END = {
    "setup_s": "s", "latency_p50_ms": "ms", "throughput_ops_s": "ops/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "saneql.parse_ms": "ms", "saneql.bind_ms": "ms", "saneql.bind_jobs": "count",
    "operators.mutations_build_ms": "ms", "server.wait_ms": "ms",
    "server.exec_ms": "ms", "server.transfer_ms": "ms",
    "server.response_bytes": "bytes", "server.driver_cpu_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_busy_ms": "ms", "spark.task_wait_ms": "ms",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.gc_ms": "ms", "storage.scan_rows_per_result_row": "ratio",
    "storage.load_ms": "ms", "sources.ingest_build_ms": "ms",
    "storage.append_ms": "ms", "storage.files_written": "count",
    "storage.bytes_written": "bytes", "functions.build_ms": "ms",
    "functions.exec_ms": "ms", "cache.persisted_bytes": "bytes",
    "trace.latency_p50_ms": "ms", "trace.overhead_ms": "ms",
}


class BenchError(RuntimeError):
    """The run could not produce a result (engine missing, crashed, hung)."""


# ---------------------------------------------------------------------------
# host and process-tree observation
# ---------------------------------------------------------------------------

def _tree_pids(root: int) -> list[int]:
    pids, stack = [], [root]
    while stack:
        pid = stack.pop()
        pids.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    stack.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return pids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def _cpu_ms(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) * 1000 / os.sysconf("SC_CLK_TCK")


def _loadavg() -> float:
    return round(os.getloadavg()[0], 2)


def _host_probe_ms() -> float:
    """Time of a fixed single-thread loop. Load from outside this machine's
    view (other tenants of the host) does not show in loadavg but slows
    this loop, so a contaminated run shows in its record."""
    start = time.perf_counter()
    total = 0
    for i in range(2_000_000):
        total += i * i
    return round((time.perf_counter() - start) * 1000, 1)


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


def _host_record(workload: str, seed: int, trace: bool) -> dict:
    def version(pkg: str) -> str:
        from importlib import metadata

        try:
            return metadata.version(pkg)
        except metadata.PackageNotFoundError:
            return "absent"

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10).stdout.strip() or "not-a-git-checkout"
    except (OSError, subprocess.TimeoutExpired):
        commit = "not-a-git-checkout"
    return {
        "workload": workload, "seed": seed, "trace": trace,
        "commit": commit, "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get(
            "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY",
                                              DRIVER_MEMORY),
        "python": platform.python_version(), "pyspark": version("pyspark"),
        "pyarrow": version("pyarrow"), "loadavg_1m_start": _loadavg(),
        "host_probe_ms_start": _host_probe_ms(),
    }


class Engine:
    """The engine child process: launch, progress events, RSS sampling,
    and a shutdown that leaves no process of its group behind."""

    def __init__(self, spec: dict, run_dir: str, env: dict):
        spec_path = os.path.join(run_dir, "spec.json")
        with open(spec_path, "w") as fh:
            json.dump(spec, fh)
        self.log_path = os.path.join(run_dir, "engine.log")
        self._log = open(self.log_path, "w")
        self.events: queue.Queue = queue.Queue()
        self.history: list[dict] = []
        self.peak_rss_kb = 0
        self.peak_by_role_kb: dict[str, int] = {}
        self.launched = time.monotonic()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"), spec_path],
            stdout=subprocess.PIPE, stderr=self._log, text=True, env=env,
            start_new_session=True)
        self._stop = threading.Event()
        self._threads = [threading.Thread(target=self._read, daemon=True),
                         threading.Thread(target=self._sample, daemon=True)]
        for t in self._threads:
            t.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("PERFBENCH "):
                ev = json.loads(line[len("PERFBENCH "):])
                self.history.append(ev)
                self.events.put(ev)
        self.events.put({"event": "exited"})

    def _sample(self) -> None:
        while not self._stop.is_set():
            by_role: dict[str, int] = {}
            for pid in _tree_pids(self.proc.pid):
                role = ("engine" if pid == self.proc.pid
                        else "jvm" if _exe(pid) == "java" else "workers")
                by_role[role] = by_role.get(role, 0) + _rss_kb(pid)
            self.peak_rss_kb = max(self.peak_rss_kb, sum(by_role.values()))
            for role, kb in by_role.items():
                self.peak_by_role_kb[role] = max(
                    self.peak_by_role_kb.get(role, 0), kb)
            self._stop.wait(0.1)

    def wait_for(self, name: str, timeout: float) -> dict:
        deadline = time.monotonic() + timeout
        while True:
            try:
                ev = self.events.get(timeout=max(0.1, deadline - time.monotonic()))
            except queue.Empty:
                ev = None
            if ev is not None and ev["event"] == name:
                return ev
            if ev is not None and ev["event"] == "exited":
                raise BenchError(f"engine exited before '{name}'; "
                                 f"see {self.log_path}:\n{self.tail()}")
            if time.monotonic() >= deadline:
                raise BenchError(f"engine gave no '{name}' within {timeout}s")

    def tail(self, n: int = 25) -> str:
        self._log.flush()
        with open(self.log_path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])

    def stop(self, graceful_s: float = 30) -> None:
        """SIGTERM (the engine flushes spans and stops Spark), then SIGKILL
        for anything left in the process group; returns once it is empty."""
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=graceful_s)
            except subprocess.TimeoutExpired:
                pass
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                break
            self.proc.poll()  # reap the engine, or its zombie keeps the group
            time.sleep(0.2)
        self.proc.wait(timeout=10)
        self._stop.set()
        for t in self._threads:
            t.join(timeout=10)
        self._log.close()


# ---------------------------------------------------------------------------
# serving client
# ---------------------------------------------------------------------------

def _post(port: int, text: str, rid: str) -> dict:
    conn = http.client.HTTPConnection("127.0.0.1", port,
                                      timeout=REQUEST_TIMEOUT_S)
    sent = time.monotonic()
    try:
        conn.request("POST", "/query", body=text.encode(),
                     headers={"X-Request-Id": rid})
        resp = conn.getresponse()
        first = time.monotonic()
        body = resp.read()
        last = time.monotonic()
        return {"rid": rid, "status": resp.status, "sent": sent,
                "first": first, "last": last, "bytes": len(body),
                "body": body}
    except (OSError, http.client.HTTPException) as exc:
        now = time.monotonic()
        return {"rid": rid, "status": None, "sent": sent, "first": now,
                "last": now, "bytes": 0, "body": b"", "error": str(exc)}
    finally:
        conn.close()


def _check(resp: dict, query) -> str | None:
    """None when the response is right, else a short reason."""
    from workloads import canonical

    if resp["status"] != 200:
        detail = resp.get("error") or resp["body"][:200].decode(errors="replace")
        return f"status {resp['status']}: {detail}"
    try:
        rows = [json.loads(line) for line in resp["body"].splitlines() if line]
    except ValueError as exc:
        return f"unparseable response: {exc}"
    if canonical(rows, query.ordered) != query.expected:
        return "wrong answer"
    return None


def drive(port: int, queries: list, connections: int, seconds: float | None,
          prefix: str) -> list[dict]:
    """Closed loop: each connection sends its next query when the previous
    one completes. Queries go out in round order; once ``seconds`` have
    passed no new round starts (``None``: exactly one round)."""
    lock = threading.Lock()
    state = {"next": 0}
    start = time.monotonic()
    results: list[dict] = []

    def take():
        with lock:
            i = state["next"]
            if i % len(queries) == 0 and i > 0 and (
                    seconds is None or time.monotonic() - start >= seconds):
                return None
            state["next"] += 1
            return i

    def worker():
        while (i := take()) is not None:
            q = queries[i % len(queries)]
            r = _post(port, q.text, f"{prefix}-{i}")
            r["kind"] = q.kind
            r["problem"] = _check(r, q)
            del r["body"]
            with lock:
                results.append(r)

    threads = [threading.Thread(target=worker) for _ in range(connections)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results


def _wait_healthy(port: int, engine: Engine, timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if engine.proc.poll() is not None:
            raise BenchError(f"engine exited while starting:\n{engine.tail()}")
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=5)
        try:
            conn.request("GET", "/health")
            if conn.getresponse().status == 200:
                return
        except (OSError, http.client.HTTPException):
            time.sleep(0.1)
        finally:
            conn.close()
    raise BenchError("server never became healthy")


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _engine_env(root: str, run_dir: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(root, ".perfbench", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(run_dir, "java-tmp"), exist_ok=True)
    env.update({
        "PYTHONPATH": root + (os.pathsep + env["PYTHONPATH"]
                              if env.get("PYTHONPATH") else ""),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "JAVA_TOOL_OPTIONS": ("-Djava.io.tmpdir="
                              + os.path.join(run_dir, "java-tmp")
                              + " -XX:-UsePerfData"),
        "PYTHONUNBUFFERED": "1",
    })
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    return env


def _prebuild_jvm_helpers(env: dict) -> None:
    """The engine compiles its JVM UDF jar once per machine into $TMPDIR;
    build it before any timing so no run's set-up pays for javac."""
    cache = os.path.join(env["TMPDIR"], "lapis_silo_spark_jvm")
    if os.path.isdir(cache) and any(n.endswith(".jar") for n in os.listdir(cache)):
        return
    subprocess.run([sys.executable, "-c",
                    "from lapis_silo_spark.jvm import build_udf_jar; "
                    "build_udf_jar()"], env=env, check=False, timeout=300,
                   capture_output=True)


def run_serve(workload: str, seed: int, seconds: int, trace: bool,
              root: str, run_dir: str, record: dict) -> dict:
    import gen
    import workloads as wl

    inputs_dir = os.path.join(run_dir, "inputs")
    if workload == "serve_light":
        data = gen.genome_set(seed, inputs_dir, LIGHT_GENOMES)
        queries, check = wl.light_round(data, seed)
        wl.expect_light(queries + [check], data, root)
        checks = [check]
    else:
        data = gen.amplicon_reads(seed, inputs_dir, HEAVY_READS)
        queries = wl.heavy_round(data, seed)
        checks = []
    record["inputs"] = data.sizes
    record["round"] = [q.kind for q in queries]
    record["setup_checks"] = [q.kind for q in checks]
    port = _free_port()
    store = os.path.join(run_dir, "store")
    spec = {"workload": workload, "trace": trace, "port": port,
            "store": store, "inputs": data.files, "seconds": seconds,
            "spans": os.path.join(run_dir, "spans.json"),
            "event_log": os.path.join(run_dir, "eventlog")}
    env = _engine_env(root, run_dir)
    _prebuild_jvm_helpers(env)
    engine = Engine(spec, run_dir, env)
    try:
        engine.wait_for("serving", ENGINE_START_TIMEOUT_S)
        _wait_healthy(port, engine, 60)
        warm = drive(port, queries, CONNECTIONS[workload], None, "warm")
        if checks:
            warm += drive(port, checks, 1, None, "check")
        setup_done = time.monotonic()
        cpu0 = _cpu_ms(engine.proc.pid)
        results = drive(port, queries, CONNECTIONS[workload], seconds, "req")
        cpu1 = _cpu_ms(engine.proc.pid)
    finally:
        engine.stop()
    _engine_record(record, engine)
    ev = {e["event"] + e.get("label", ""): e for e in engine.history}
    record["engine_events_s"] = {k: round(e["t"] - engine.launched, 3)
                                 for k, e in ev.items()}
    record["warmup_done_s"] = round(setup_done - engine.launched, 3)
    # the warm-up round is the first read of the appended version: its
    # count queries check the acknowledged rows, the rest check contents;
    # the set-up check queries run after it, one at a time
    setup_problems = [f"warm-up {r['kind']}: {r['problem']}"
                      for r in warm if r["problem"]]
    record["setup_check_ms"] = {r["kind"]: (r["last"] - r["sent"]) * 1000
                                for r in warm if r["rid"].startswith("check")}
    versions = sorted(os.listdir(os.path.join(store, "versions")))
    final_files, final_bytes = _dir_stats(
        os.path.join(store, "versions", versions[-1]))
    all_files, all_bytes = _dir_stats(os.path.join(store, "versions"))
    record["storage"] = {
        "versions": len(versions),
        "final_version_files": final_files,
        "final_version_bytes": final_bytes,
        "written_files": all_files, "written_bytes": all_bytes,
        "stored_bytes_per_input_byte": final_bytes / data.sizes["ndjson_bytes"],
        "written_bytes_per_input_byte": all_bytes / data.sizes["ndjson_bytes"],
    }
    build_s = ev["build_done"]["t"] - ev["build_start"]["t"]
    for r in results:
        r["latency_ms"] = (r["last"] - r["sent"]) * 1000
    window = max(r["last"] for r in results) - min(r["sent"] for r in results)
    out = {
        "setup_s": setup_done - engine.launched,
        "input_rows_per_s": data.sizes["rows"] / build_s,
        "window_s": window, "ops": results,
        "peak_rss_mb": engine.peak_rss_kb / 1024,
        "setup_problems": setup_problems,
        "driver_cpu_ms_per_op": (cpu1 - cpu0) / max(1, len(results)),
    }
    if trace:
        out["trace"] = _trace_inputs(spec)
        out["trace"]["store_last_version"] = (final_files, final_bytes)
    return out


def run_curation(seed: int, seconds: int, trace: bool, root: str,
                 run_dir: str, record: dict) -> dict:
    import duckdb

    import gen
    from engine import CURATION_ROWS, digest

    corpus = os.path.join(run_dir, "inputs")
    record["inputs"] = gen.curation_corpus(seed, corpus, CURATION_DOCS,
                                           CURATION_VECTORS)
    from lapis_silo_spark.driver_queries import ORACLES

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(corpus, t)}.parquet')")
    expected = {}
    for name in CURATION_ROWS:
        rel = con.execute(ORACLES[name])
        expected[name] = digest([d[0] for d in rel.description],
                                rel.fetchall())
    con.close()
    spec = {"workload": "curation_batch", "trace": trace, "seconds": seconds,
            "inputs": {"corpus": corpus},
            "spans": os.path.join(run_dir, "spans.json"),
            "event_log": os.path.join(run_dir, "eventlog")}
    env = _engine_env(root, run_dir)
    _prebuild_jvm_helpers(env)
    engine = Engine(spec, run_dir, env)
    try:
        ready = engine.wait_for("ready", ENGINE_START_TIMEOUT_S)
        engine.wait_for("stopped", ENGINE_START_TIMEOUT_S)
    finally:
        engine.stop()
    _engine_record(record, engine)
    ops = []
    for ev in engine.history:
        if ev["event"] != "pass":
            continue
        problems = [f"{r['row']}: {r['error'] or 'wrong answer'}"
                    for r in ev["rows"] if r["digest"] != expected[r["row"]]]
        start, end = ev["rows"][0]["start"], ev["rows"][-1]["end"]
        ops.append({"kind": "pass", "rid": ev["op"], "rows": ev["rows"],
                    "latency_ms": (end - start) * 1000, "sent": start,
                    "last": end, "problem": "; ".join(problems) or None})
    if not ops:
        raise BenchError(f"engine ran no curation pass:\n{engine.tail()}")
    record["row_build_exec_ms"] = [
        {r["row"]: [round((r["built"] - r["start"]) * 1000),
                    round((r["end"] - r["built"]) * 1000)] for r in o["rows"]}
        for o in ops]
    record["engine_events_s"] = {
        e["event"] + e.get("op", ""): round(e["t"] - engine.launched, 3)
        for e in engine.history}
    window = ops[-1]["last"] - ops[0]["sent"]
    median_pass_s = statistics.median(o["latency_ms"] for o in ops) / 1000
    out = {
        "setup_s": ready["t"] - engine.launched,
        "input_rows_per_s": CURATION_DOCS / median_pass_s,
        "window_s": window, "ops": ops,
        "peak_rss_mb": engine.peak_rss_kb / 1024, "setup_problems": [],
    }
    if trace:
        out["trace"] = _trace_inputs(spec)
    return out


def _trace_inputs(spec: dict) -> dict:
    import tracing

    with open(spec["spans"]) as fh:
        traced = json.load(fh)
    logs = sorted(os.path.join(base, n)
                  for base, _dirs, names in os.walk(spec["event_log"])
                  for n in names if not n.startswith("."))
    traced["jobs"] = tracing.read_event_log(logs)
    return traced


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _percentile(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(p / 100 * len(xs)))]


def end_to_end(res: dict) -> dict:
    lat = [o["latency_ms"] for o in res["ops"]]
    return {
        "setup_s": res["setup_s"],
        "latency_p50_ms": _median(lat),
        "throughput_ops_s": len(lat) / res["window_s"],
        "peak_rss_mb": res["peak_rss_mb"],
    }


def _self_times(spans: list[dict]) -> dict[int, float]:
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"] - child.get(s["id"], 0.0)) * 1000
            for s in spans}


def per_layer(workload: str, res: dict, root: str) -> tuple[dict, dict]:
    """Per-layer metrics (medians per operation unless a count) and the
    per-layer self-time table of the traced run."""
    tr = res["trace"]
    spans, jobs, ops = tr["spans"], tr["jobs"], res["ops"]
    selft = _self_times(spans)
    by_op: dict[str, list[dict]] = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)

    def op_jobs(rid: str) -> list[dict]:
        return [j for j in jobs if j["op"] == rid
                or j["group"] == f"http-query-{rid}"]

    def span_ms(name: str, op_spans) -> float:
        return sum((s["end"] - s["start"]) * 1000 for s in op_spans
                   if s["name"] == name)

    m = dict.fromkeys(PER_LAYER, 0.0)
    rows: dict[str, list[float]] = {}
    table: dict[str, list[float]] = {}
    for o in ops:
        sp = by_op.get(o["rid"], [])
        js = op_jobs(o["rid"])
        for key, val in (
                ("spark.jobs", len(js)),
                ("spark.stages", sum(j["stages"] for j in js)),
                ("spark.tasks", sum(j["tasks"] for j in js)),
                ("spark.task_busy_ms", sum(j["task_busy_ms"] for j in js)),
                ("spark.task_wait_ms", sum(j["task_wait_ms"] for j in js)),
                ("spark.shuffle_write_bytes",
                 sum(j["shuffle_write_bytes"] for j in js)),
                ("spark.spill_bytes", sum(j["spill_bytes"] for j in js)),
                ("spark.gc_ms", sum(j["gc_ms"] for j in js))):
            rows.setdefault(key, []).append(val)
        layer_ms: dict[str, float] = {}
        for s in sp:
            layer_ms[s["name"]] = layer_ms.get(s["name"], 0.0) + selft[s["id"]]
        if workload.startswith("serve"):
            binds = [s for s in sp if s["name"] == "saneql.bind"]
            if not binds:
                continue
            bind = binds[0]
            parse = span_ms("saneql.parse", sp)
            rows.setdefault("saneql.parse_ms", []).append(parse)
            rows.setdefault("saneql.bind_ms", []).append(
                (bind["end"] - bind["start"]) * 1000 - parse)
            wait = (bind["start"] - o["sent"]) * 1000
            execute = (o["first"] - bind["end"]) * 1000
            transfer = (o["last"] - o["first"]) * 1000
            rows.setdefault("server.wait_ms", []).append(wait)
            rows.setdefault("server.exec_ms", []).append(execute)
            rows.setdefault("server.transfer_ms", []).append(transfer)
            rows.setdefault("server.response_bytes", []).append(o["bytes"])
            layer_ms.update({"server (wait)": wait,
                             "spark (exec to first byte)": execute,
                             "server (transfer)": transfer})
        else:
            rows.setdefault("functions.build_ms", []).append(
                sum(r["built"] - r["start"] for r in o["rows"]) * 1000)
            rows.setdefault("functions.exec_ms", []).append(
                sum(r["end"] - r["built"] for r in o["rows"]) * 1000)
        for layer, ms in layer_ms.items():
            table.setdefault(layer, []).append(ms)
    # mutations() requests, timed or set-up checks: their bind runs eager jobs
    for rid, sp in by_op.items():
        if any(s["name"] == "operators.mutations_build" for s in sp):
            rows.setdefault("operators.mutations_build_ms", []).append(
                span_ms("operators.mutations_build", sp))
            rows.setdefault("saneql.bind_jobs", []).append(sum(
                1 for j in op_jobs(rid)
                if (j["span"] or "").startswith("saneql.bind")))
    for key, vals in rows.items():
        m[key] = _median(vals)
    scans = [s["scan_rows"] / max(1, s["result_rows"]) for s in tr["scans"]
             if (s["group"] or "").startswith("http-query-req-")]
    m["storage.scan_rows_per_result_row"] = _median(scans)
    setup = by_op.get("setup", [])
    for key, name in (("storage.load_ms", "storage.load"),
                      ("sources.ingest_build_ms", "sources.ingest"),
                      ("storage.append_ms", "storage.append")):
        m[key] = _median((s["end"] - s["start"]) * 1000 for s in setup
                         if s["name"] == name)
    if "store_last_version" in tr:
        m["storage.files_written"], m["storage.bytes_written"] = \
            tr["store_last_version"]
    m["server.driver_cpu_ms"] = res.get("driver_cpu_ms_per_op", 0.0)
    m["cache.persisted_bytes"] = tr["meta"].get("cache_persisted_bytes", 0)
    traced_p50 = _median(o["latency_ms"] for o in ops)
    m["trace.latency_p50_ms"] = traced_p50
    base = [r["latency_p50_ms"] for r in _records(root)
            if r["workload"] == workload and not r["trace"]]
    m["trace.overhead_ms"] = traced_p50 - _median(base) if base else 0.0
    report = {
        "untraced_baseline_runs": len(base),
        "self_ms_per_op": {k: _median(v) for k, v in table.items()},
        "setup_self_ms": {},
    }
    for s in setup:
        layer = s["name"]
        report["setup_self_ms"][layer] = (
            report["setup_self_ms"].get(layer, 0.0) + selft[s["id"]])
    return m, report


def _records(root: str) -> list[dict]:
    path = os.path.join(root, ".perfbench", "records.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _append_record(root: str, entry: dict) -> None:
    with open(os.path.join(root, ".perfbench", "records.jsonl"), "a") as fh:
        fh.write(json.dumps(entry) + "\n")


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------

def _engine_record(record: dict, engine: "Engine") -> None:
    record["peak_rss_mb_by_role"] = {
        k: round(v / 1024, 1) for k, v in engine.peak_by_role_kb.items()}


def run_one(workload: str, seed: int, seconds: int, trace: bool,
            root: str) -> dict:
    run_dir = os.path.join(root, ".perfbench", "runs",
                           f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    record = _host_record(workload, seed, trace)
    try:
        if workload == "curation_batch":
            res = run_curation(seed, seconds, trace, root, run_dir, record)
        else:
            res = run_serve(workload, seed, seconds, trace, root, run_dir,
                            record)
    finally:
        record["loadavg_1m_end"] = _loadavg()
        record["host_probe_ms_end"] = _host_probe_ms()
        for sub in ("store", "inputs", "spark-local", "java-tmp", "eventlog"):
            shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)

    lat = [o["latency_ms"] for o in res["ops"]]
    failed = sum(1 for o in res["ops"] if o["problem"])
    e2e = end_to_end(res)
    record.update({
        "input_rows_per_s": res["input_rows_per_s"],
        "samples": len(lat), "failed": failed,
        "failed_frac": failed / len(lat),
        "setup_problems": res["setup_problems"],
        "problems": sorted({f"{o['kind']}: {o['problem']}"
                            for o in res["ops"] if o["problem"]}),
        "end_to_end": e2e,
        "by_kind_p50_ms": {
            k: _median(o["latency_ms"] for o in res["ops"] if o["kind"] == k)
            for k in dict.fromkeys(o["kind"] for o in res["ops"])},
    })
    if len(lat) >= 100:
        record["latency_p90_ms"] = _percentile(lat, 90)
    if "storage" in record:
        record.update({k: record["storage"][k] for k in (
            "stored_bytes_per_input_byte", "written_bytes_per_input_byte")})
    if trace:
        record["per_layer"], record["trace_report"] = per_layer(
            workload, res, root)
        record["spans_file"] = os.path.join(run_dir, "spans.json")
    else:
        _append_record(root, {"workload": workload, "seed": seed,
                              "trace": False, **e2e})
    with open(os.path.join(run_dir, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    return record


def print_table(rec: dict) -> None:
    w = rec["workload"]
    print(f"== {w}  seed={rec['seed']}  trace={int(rec['trace'])}  "
          f"samples={rec['samples']}  failed={rec['failed']}  "
          f"load {rec['loadavg_1m_start']}->{rec['loadavg_1m_end']}  "
          f"host probe {rec['host_probe_ms_start']}->"
          f"{rec['host_probe_ms_end']} ms  "
          f"SPARK_GRAFT_CPUS={rec['SPARK_GRAFT_CPUS']}  nproc={rec['nproc']}")
    print(f"   inputs: {json.dumps(rec['inputs'])}")
    for name, val in rec["end_to_end"].items():
        print(f"   {name:<32} {val:>14.4f} {END_TO_END[name]}")
    print(f"   {'input_rows_per_s':<32} {rec['input_rows_per_s']:>14.4f} rows/s")
    print(f"   {'failed_frac':<32} {rec['failed_frac']:>14.4f} ratio")
    if "latency_p90_ms" in rec:
        print(f"   {'latency_p90_ms':<32} {rec['latency_p90_ms']:>14.4f} ms")
    for k in ("stored_bytes_per_input_byte", "written_bytes_per_input_byte"):
        if k in rec:
            print(f"   {k:<32} {rec[k]:>14.4f} ratio")
    for kind, p50 in rec["by_kind_p50_ms"].items():
        print(f"   p50[{kind}]{'':<{max(0, 26 - len(kind))}} {p50:>14.1f} ms")
    for p in rec["setup_problems"] + rec["problems"]:
        print(f"   PROBLEM {p}")
    if rec["trace"]:
        rep = rec["trace_report"]
        print(f"   -- per layer (traced run; spans: {rec['spans_file']})")
        for name, val in rec["per_layer"].items():
            print(f"   {name:<36} {val:>14.3f} {PER_LAYER[name]}")
        total = sum(rep["self_ms_per_op"].values()) or 1.0
        print("   -- self time per operation (median ms, share of sum)")
        for layer, ms in sorted(rep["self_ms_per_op"].items(),
                                key=lambda kv: -kv[1]):
            print(f"   {layer:<36} {ms:>10.1f} ms  {100 * ms / total:5.1f} %")
        if rep["self_ms_per_op"]:
            top = max(rep["self_ms_per_op"], key=rep["self_ms_per_op"].get)
            print(f"   largest blocking layer: {top}")
        for layer, ms in sorted(rep["setup_self_ms"].items(),
                                key=lambda kv: -kv[1]):
            print(f"   set-up {layer:<29} {ms:>10.1f} ms")
        print(f"   tracing overhead: {rec['per_layer']['trace.overhead_ms']:.1f}"
              f" ms on p50 vs {rep['untraced_baseline_runs']} untraced runs")


def result_line(rec: dict) -> dict:
    names = PER_LAYER if rec["trace"] else END_TO_END
    values = rec["per_layer"] if rec["trace"] else rec["end_to_end"]
    return {
        "correct": rec["failed"] == 0 and not rec["setup_problems"],
        "attempted": rec["samples"], "failed": rec["failed"],
        "metrics": {n: {"value": values[n], "unit": u}
                    for n, u in names.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an error, so the engine's process group is stopped
    signal.signal(signal.SIGTERM, lambda _sig, _frame: sys.exit(1))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "lapis_silo_spark", "server.py")):
        print("perfbench: run from the repository root; the engine package "
              "lapis_silo_spark/ is not here", file=sys.stderr)
        return 2
    sys.path.insert(1, root)
    os.makedirs(os.path.join(root, ".perfbench"), exist_ok=True)
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    lines = []
    for name in names:
        try:
            rec = run_one(name, args.seed, args.seconds, bool(args.trace),
                          root)
        except BenchError as exc:
            print(f"perfbench: {name}: {exc}", file=sys.stderr)
            return 1
        print_table(rec)
        lines.append((name, result_line(rec)))
    if len(lines) == 1:
        print(json.dumps(lines[0][1]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for _n, r in lines),
            "attempted": sum(r["attempted"] for _n, r in lines),
            "failed": sum(r["failed"] for _n, r in lines),
            "metrics": {f"{n}.{k}": v for n, r in lines
                        for k, v in r["metrics"].items()},
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
