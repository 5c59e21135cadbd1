#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The script builds the program from source
(see ``build.py``), generates the workload's inputs from the seed
(``gen.py``), starts a fresh engine JVM (``scala/Engine.scala``) that hosts
the program through its public surfaces and times its set-up from process
start, drives it for ``--seconds`` from this separate generator process,
checks every output against an oracle (``checks.py``), and prints one JSON
line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (README.md lists both, with the layer each one belongs to).
"""
import argparse
import glob
import http.client
import itertools
import json
import math
import os
import random
import shutil
import socket
import statistics
import subprocess
import sys
import threading
import time

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

# workload -> engine mode
WORKLOADS = {"sparql_read": "serve", "sparql_rw": "serve", "rsp_stream": "rsp",
             "batch_fixpoint": "batch"}

END_TO_END = [
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("op_p50_ms", "ms"),
    ("op_p75_ms", "ms"),
    ("ops_per_s", "1/s"),
]

LISTENER_CALLS = ("sparql.exec", "model.update", "streaming.push", "reasoner.call", "prob.call",
                  "pipeline.call")
LISTENER_FIELDS = (("jobs", "count"), ("tasks", "count"), ("cpu_ms", "ms"),
                   ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
                   ("gc_ms", "ms"), ("driver_ms", "ms"))
SELF_LAYERS = ("bench", "sparql", "catalyst", "spark", "model", "rdfio", "streaming", "reasoner",
               "prob", "pipeline", "functions")

PER_LAYER = [
    ("server.overhead_ms", "ms"), ("server.resp_bytes", "bytes"), ("server.sse_delay_ms", "ms"),
    ("sparql.parse_ms", "ms"), ("sparql.compile_ms", "ms"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("catalyst.plan_nodes", "count"),
    ("model.update_ms", "ms"), ("model.quads_plan_nodes", "count"),
    ("relational.load_s", "s"),
    ("rdfio.parse_ms", "ms"),
    ("streaming.engine.push_ms", "ms"), ("streaming.engine.firings", "count"),
    ("streaming.engine.fire_ms", "ms"), ("streaming.gen_late_ms", "ms"),
    ("reasoner.closure_s", "s"), ("reasoner.taxonomy_s", "s"), ("prob.minmax_s", "s"),
    ("pipeline.components_s", "s"), ("pipeline.bfs_s", "s"),
    ("pipeline.lsh_pairs_s", "s"), ("pipeline.clusters_s", "s"),
    ("pipeline.lsh_recall", "ratio"), ("pipeline.lsh_precision", "ratio"),
    ("functions.minhash_sig_ms", "ms"),
    ("bridge.checkpoint_blocks", "count"), ("bridge.checkpoint_bytes", "bytes"),
] + [(f"{c}.{f}", u) for c in LISTENER_CALLS for f, u in LISTENER_FIELDS] + [
    (f"{layer}.self_ms", "ms") for layer in SELF_LAYERS] + [
    ("trace.overhead_ms", "ms"),
]

READ_CLIENTS = 1    # closed-loop clients of sparql_read (at most nproc)
RW_ROUND_S = 3.0    # nominal seconds of a sparql_rw round, warm, on 4 cores

# Open-loop schedule of rsp_stream, wall-clock ms: the push that opens an
# event-hour (and so fires the window) starts a cycle; the hour's other
# pushes follow FIRE_GAP_MS after it, PUSH_GAP_MS apart. Both gaps are
# above what a push costs (see README), so the generator runs late only
# when the engine slows down. The sessions' schedules are staggered by
# a share of a cycle, so their firings do not overlap.
FIRE_GAP_MS = 450
PUSH_GAP_MS = 50
WARM_FIRINGS = 8    # firings per session on warm-up sessions before timing

# Triplizer.cachedStore keeps a corpus's quad layout under
# /tmp/graft_quads/<key>, <key> being the corpus directory's basename, a
# hash of its path and a suffix; Triplizer.bucketedStore a catalog table
# graft_quads_s_<key> under /tmp/graft_warehouse. The run's corpus
# directory has a basename unique to the run, so these globs match only
# the run's own cache.
STORE_CACHES = ("/tmp/graft_quads/{name}_*", "/tmp/graft_warehouse/graft_quads_s_{name}_*")


class EngineError(RuntimeError):
    pass


class Engine:
    """A fresh engine JVM. It sets up as it starts; `ready_s` is the time
    from process start to its ready line. Then it is driven one JSON
    command per line."""

    def __init__(self, jvm_cmd, log_path):
        self.log_path = log_path
        self.log = open(log_path, "w")
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(jvm_cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log, text=True, bufsize=1)
        self.info = self._reply("set-up")
        self.ready_s = time.perf_counter() - self.t0

    def _reply(self, what):
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise EngineError(f"engine exited during {what} (code {self.proc.poll()})")
            if line.startswith("PB> "):
                out = json.loads(line[4:])
                if "error" in out:
                    raise EngineError(f"{what}: {out['error']}")
                return out

    def call(self, **cmd):
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self._reply(cmd["cmd"])

    def peak_rss_mb(self):
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise EngineError("no VmHWM for the engine process")

    def close(self):
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write('{"cmd":"quit"}\n')
                self.proc.stdin.flush()
                self.proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            pass
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        self.log.close()


def drop_store_cache(data_dir):
    name = os.path.basename(data_dir)
    for pattern in STORE_CACHES:
        for path in glob.glob(pattern.format(name=name)):
            shutil.rmtree(path, ignore_errors=True)


def pct(xs, q):
    """Percentile q (0..100) by the Harrell-Davis estimator: a mean of all
    order statistics under Beta(q(n+1), (1-q)(n+1)) weights. A run holds
    20-35 samples of a few latency clusters (one per template), and a
    single order statistic jumps between clusters from run to run; the
    weighted mean moves smoothly, and with every sample near q."""
    s = np.sort(np.asarray(xs, dtype=float))
    n = len(s)
    if n == 0:
        return 0.0
    a, b = q / 100.0 * (n + 1), (1 - q / 100.0) * (n + 1)
    # Beta CDF by the midpoint rule, which stays finite where a or b < 1
    edges = np.linspace(0.0, 1.0, 20001)
    mid = (edges[1:] + edges[:-1]) / 2
    cdf = np.concatenate([[0.0], np.cumsum(mid ** (a - 1) * (1 - mid) ** (b - 1))])
    weights = np.diff(np.interp(np.arange(n + 1) / n, edges, cdf / cdf[-1]))
    return float(weights @ s)


def steadiness(lat, setup_s):
    """Sample counts behind the reported percentiles."""
    return {"samples": len(lat), "beyond_p50": sum(x > pct(lat, 50) for x in lat),
            "beyond_p75": sum(x > pct(lat, 75) for x in lat), "setups": 1, "setup_s": setup_s}


def end_to_end(eng, setup_s, lat_ms, ops, wall_s):
    return {"setup_s": setup_s, "peak_rss_mb": eng.peak_rss_mb(), "op_p50_ms": pct(lat_ms, 50),
            "op_p75_ms": pct(lat_ms, 75), "ops_per_s": ops / wall_s}


# ---------------------------------------------------------------- SPARQL

class Client:
    """One closed-loop client: one keep-alive connection, one request at a time."""

    def __init__(self, port):
        self.port = port
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)

    def send(self, op):
        kind = "update" if op["kind"] == "update" else "query"
        headers = {"Content-Type": f"application/sparql-{kind}",
                   "Accept": "application/sparql-results+json"}
        t0 = time.perf_counter()
        try:
            self.conn.request("POST", "/query", body=op["text"].encode(), headers=headers)
            resp = self.conn.getresponse()
            body = resp.read()
            status = resp.status
        except (OSError, http.client.HTTPException) as e:
            self.conn.close()
            self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
            body, status = str(e).encode(), 0
        return {"op": op, "ms": (time.perf_counter() - t0) * 1e3, "status": status,
                "body": body, "done": time.perf_counter()}

    def close(self):
        self.conn.close()


def closed_loop(port, ops_for, clients, seconds):
    """`clients` threads, each sending its own op sequence until the time is
    up; every request in flight at the deadline completes and counts."""
    results = [[] for _ in range(clients)]
    t_start = time.perf_counter()
    deadline = t_start + seconds

    def worker(i):
        c = Client(port)
        try:
            for op in ops_for(i):
                if time.perf_counter() >= deadline:
                    break
                results[i].append(c.send(op))
        finally:
            c.close()

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    flat = [r for rs in results for r in rs]
    wall = max((r["done"] for r in flat), default=t_start) - t_start
    return flat, wall


def rw_round(rng):
    """One sparql_rw round: one read of every template, two inserts and a
    delete on a named graph, and a read-your-write check after each update.
    Every round has the same shape and order; only the read constants
    differ."""
    reads = checks.one_of_each(rng)
    return (reads[:3] + [checks.insert_op(0), checks.ryw_op(0, present=True)]
            + reads[3:6] + [checks.insert_op(1), checks.ryw_op(1, present=True)]
            + reads[6:] + [checks.delete_op(0), checks.ryw_op(0, present=False)])


def run_sparql(args, eng, data_dir, work):
    rng = random.Random(args.seed)
    port = eng.info["port"]
    if args.workload == "sparql_read":
        # one read of each template before timing: the first run of a query
        # shape pays JIT and code generation that later reads do not
        warm = checks.one_of_each(rng)
        closed_loop(port, lambda i: warm, 1, 1e9)
        seqs = [checks.sparql_ops(random.Random(args.seed * 1000 + i), 400)
                for i in range(READ_CLIENTS)]

        def one_pass(seconds):
            res, wall = closed_loop(port, lambda i: seqs[i], READ_CLIENTS, seconds)
            return res, wall, 0
    else:
        def round_ops(k):
            # round k's constants come from the seed and k alone
            return rw_round(random.Random(args.seed * 1000 + k))

        # one whole round before timing, updates included, then a fresh
        # server: the first run of a query shape, the first updates and the
        # first reads over an updated store pay JIT and code generation
        # that later rounds do not
        closed_loop(port, lambda i: rw_round(rng), 1, 1e9)
        port = eng.call(cmd="reset")["port"]

        def one_pass(seconds):
            # a fixed number of whole rounds for the time given, not as many
            # as fit: a faster build must not apply more updates, nor time a
            # different number of ops. Each round runs on a fresh server
            # over the loaded quads, so every round applies the same updates
            # to the same store; a round's reads vary only in their constants
            nonlocal port
            res, wall = [], 0.0
            rounds = max(1, math.ceil(seconds / RW_ROUND_S))
            for k in range(rounds):
                if k:
                    port = eng.call(cmd="reset")["port"]
                r, w = closed_loop(port, lambda i: round_ops(k), 1, 1e9)
                res += r
                wall += w
            return res, wall, rounds

    metrics = {}
    if not args.trace:
        res, wall, _ = one_pass(args.seconds)
        lat = [r["ms"] for r in res]
        metrics.update(end_to_end(eng, eng.ready_s, lat, len(res), wall))
        report = steadiness(lat, eng.ready_s)
    else:
        # untraced, traced (listener attached), untraced again: the
        # traced pass against the two untraced ones is the tracing overhead
        third = args.seconds / 3.0

        def fresh_pass():
            nonlocal port
            if args.workload == "sparql_rw":
                port = eng.call(cmd="reset")["port"]
            return one_pass(third)[0]

        res_a = one_pass(third)[0]
        eng.call(cmd="listen", on=True)
        res = fresh_pass()
        eng.call(cmd="listen", on=False)
        res_a += fresh_pass()
        reads = [r for r in res if r["op"]["kind"] == "read"]
        replay_ops = ([r["op"] for r in reads] if args.workload == "sparql_read"
                      else round_ops(0))
        rep = eng.call(cmd="replay", ops=[{"kind": o["kind"], "text": o["text"]}
                                          for o in replay_ops],
                       spans=os.path.join(work, "spans.jsonl"))
        metrics.update(rep["metrics"])
        metrics["server.overhead_ms"] = (statistics.median(r["ms"] for r in reads)
                                         - statistics.median(rep["reads"]))
        metrics["server.resp_bytes"] = statistics.median(len(r["body"]) for r in reads)
        metrics["relational.load_s"] = eng.info["load_s"]
        metrics["trace.overhead_ms"] = (pct([r["ms"] for r in res], 50)
                                        - pct([r["ms"] for r in res_a], 50))
        res = res_a + res
        report = {"samples": len(res), "replayed": len(replay_ops)}
    failed, first = checks.check_sparql(data_dir, res)
    return len(res), failed, first, metrics, report


# ---------------------------------------------------------------- RSP

def load_feed(data_dir):
    """The events of events.parquet in (ts, event_id) order, one push per
    timestamp."""
    t = pq.read_table(os.path.join(data_dir, "events.parquet"))
    t = t.set_column(t.schema.get_field_index("ts"), "ts", t.column("ts").cast("int64"))
    rows = t.sort_by([("ts", "ascending"), ("event_id", "ascending")]).to_pylist()
    feed = [{"ts": ts, "events": list(evs)}
            for ts, evs in itertools.groupby(rows, key=lambda r: r["ts"])]
    for p in feed:
        p["nt"] = checks.push_ntriples(p["events"])
    return feed


def push_offsets(seconds):
    """Send times (s from the start of a pass) of the pushes a pass makes."""
    offs, t, i = [], 0.0, 0
    while t < seconds:
        offs.append(t)
        t += (FIRE_GAP_MS if i % gen.PUSHES_PER_HOUR == 0 else PUSH_GAP_MS) / 1e3
        i += 1
    return offs


def post_json(conn, path, doc):
    conn.request("POST", path, body=json.dumps(doc).encode(),
                 headers={"Content-Type": "application/json"})
    resp = conn.getresponse()
    return resp.status, resp.read()


def register(port):
    """One engine-plane session per query of checks.RSP_QUERIES."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    sids = []
    try:
        for name, query in checks.RSP_QUERIES:
            status, body = post_json(conn, "/rsp/register", {"query": query})
            doc = json.loads(body) if status == 200 else {}
            if doc.get("plane") != "engine":
                raise EngineError(f"/rsp/register {name}: HTTP {status} {body[:300]!r}")
            sids.append(doc["session_id"])
    finally:
        conn.close()
    return sids


class SseReader(threading.Thread):
    """Reads one session's /rsp/events until `expect` firing markers have
    arrived: the rows before the k-th marker are what push k emitted."""

    def __init__(self, port, sid, expect):
        super().__init__()
        self.expect = expect
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
        self.conn.request("GET", f"/rsp/events/{sid}")
        self.sock = self.conn.sock
        self.resp = self.conn.getresponse()
        self.buckets, self.marks, self.error = [[]], [], None

    def run(self):
        event = None
        try:
            while len(self.marks) < self.expect:
                line = self.resp.readline()
                if not line:
                    break
                line = line.decode().rstrip("\r\n")
                if line.startswith("event:"):
                    event = line[6:].strip()
                    if event == "firing":
                        self.marks.append(time.perf_counter())
                elif line.startswith("data:"):
                    if event == "firing":
                        self.buckets.append([])
                    else:
                        self.buckets[-1].append(json.loads(line[5:]))
                    event = None
        except (OSError, http.client.HTTPException, ValueError) as e:
            self.error = str(e)

    def close(self):
        # shutdown wakes a read blocked on a stalled engine; close alone may not
        try:
            self.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.conn.close()


def send_feed(port, sid, pushes, t_start, offsets, sent):
    """Open loop: each push at its scheduled time, or as soon as the one
    before it has been answered if that is later."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        for p, off in zip(pushes, offsets):
            due = t_start + off
            now = time.perf_counter()
            if now < due:
                time.sleep(due - now)
            t_send = time.perf_counter()
            try:
                status, body = post_json(conn, "/rsp/push", {
                    "session_id": sid, "stream": "events", "timestamp": p["ts"],
                    "ntriples": p["nt"]})
            except (OSError, http.client.HTTPException) as e:
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
                status, body = 0, str(e).encode()
            sent.append({"due": due, "late_ms": (t_send - due) * 1e3,
                         "done": time.perf_counter(), "status": status, "body": body})
    finally:
        conn.close()


def warm_up(port, feed):
    """Fires WARM_FIRINGS windows on sessions of their own, pushes sent
    back to back: the first firings pay JIT and code generation that
    later ones do not."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        for sid in register(port):
            for p in feed[:WARM_FIRINGS * gen.PUSHES_PER_HOUR + 1]:
                post_json(conn, "/rsp/push", {"session_id": sid, "stream": "events",
                                              "timestamp": p["ts"], "ntriples": p["nt"]})
    finally:
        conn.close()


def rsp_pass(port, sids, feed, seconds):
    """Replays the feed's first pushes to every session on the schedule,
    one sender thread per session (this thread the first), and reads each
    session's emissions off SSE, one reader thread per session. Returns the emit latencies (scheduled send of a firing push ->
    its firing marker), SSE delays (push answered -> marker), lateness and
    the checks' outcome."""
    offsets = push_offsets(seconds)
    pushes = feed[:len(offsets)]
    readers = [SseReader(port, sid, len(pushes)) for sid in sids]
    for r in readers:
        r.start()
    sent = [[] for _ in sids]
    t_start = time.perf_counter() + 0.05
    cycle = (FIRE_GAP_MS + (gen.PUSHES_PER_HOUR - 1) * PUSH_GAP_MS) / 1e3
    jobs = [(port, sid, pushes, t_start + i * cycle / len(sids), offsets, out)
            for i, (sid, out) in enumerate(zip(sids, sent))]
    # the first session's sender is this thread
    senders = [threading.Thread(target=send_feed, args=j) for j in jobs[1:]]
    for t in senders:
        t.start()
    send_feed(*jobs[0])
    for t in senders:
        t.join()
    wall = max(x["done"] for out in sent for x in out) - t_start
    out = {"emit_ms": [], "sse_ms": [], "late_ms": [], "attempted": 0, "failed": 0,
           "first": None, "wall": wall, "pushes": pushes}
    for (name, _), r, done in zip(checks.RSP_QUERIES, readers, sent):
        r.join(timeout=60)
        r.close()
        r.join()
        for k, (fires, _) in enumerate(checks.rsp_expected(pushes, name)):
            if fires and k < len(r.marks):
                out["emit_ms"].append((r.marks[k] - done[k]["due"]) * 1e3)
                out["sse_ms"].append((r.marks[k] - done[k]["done"]) * 1e3)
        out["late_ms"] += [x["late_ms"] for x in done]
        failed, first = checks.check_rsp(name, pushes, done, r.buckets[:len(r.marks)])
        out["attempted"] += len(done)
        out["failed"] += failed
        out["first"] = out["first"] or first or (r.error and {"session": name, "sse": r.error})
    return out


def run_rsp(args, eng, data_dir, work):
    port = eng.info["port"]
    sids = register(port)
    setup_s = time.perf_counter() - eng.t0
    feed = load_feed(data_dir)
    warm_up(port, feed)
    metrics = {}
    if not args.trace:
        res = rsp_pass(port, sids, feed, args.seconds)
        metrics.update(end_to_end(eng, setup_s, res["emit_ms"], res["attempted"], res["wall"]))
        report = steadiness(res["emit_ms"], setup_s)
        passes = [res]
    else:
        # untraced, then listener attached on fresh sessions, then the
        # traced pass's pushes replayed in-process for the layer split
        half = args.seconds / 2.0
        res_a = rsp_pass(port, sids, feed, half)
        eng.call(cmd="listen", on=True)
        res = rsp_pass(port, register(port), feed, half)
        eng.call(cmd="listen", on=False)
        rep = eng.call(cmd="replay", queries=[q for _, q in checks.RSP_QUERIES],
                       pushes=[{"ts": p["ts"], "nt": p["nt"]} for p in res["pushes"]],
                       spans=os.path.join(work, "spans.jsonl"))
        metrics.update(rep["metrics"])
        metrics["server.sse_delay_ms"] = statistics.median(res["sse_ms"])
        metrics["streaming.gen_late_ms"] = pct(res["late_ms"], 90)
        metrics["trace.overhead_ms"] = pct(res["emit_ms"], 50) - pct(res_a["emit_ms"], 50)
        report = {"samples": len(res["emit_ms"]) + len(res_a["emit_ms"]),
                  "replayed": len(res["pushes"])}
        passes = [res_a, res]
    report["gen_late_p90_ms"] = [pct(r["late_ms"], 90) for r in passes]
    attempted = sum(r["attempted"] for r in passes)
    failed = sum(r["failed"] for r in passes)
    first = next((r["first"] for r in passes if r["first"]), None)
    return attempted, failed, first, metrics, report


# ---------------------------------------------------------------- batch

def run_batch(args, eng, data_dir, work, truth):
    def job(i):
        return sum(o["s"] for o in eng.call(**{"cmd": "run", "pass": i})["ops"])

    metrics = {}
    if not args.trace:
        # exactly one cold job: a batch job as a user runs it once
        run = eng.call(**{"cmd": "run", "pass": 0})
        job_s = sum(o["s"] for o in run["ops"])
        metrics.update(end_to_end(eng, eng.ready_s, [job_s * 1e3], len(run["ops"]), job_s))
        report = steadiness([job_s * 1e3], eng.ready_s)
        report["ops_s"] = [(o["name"], round(o["s"], 3)) for o in run["ops"]]
        jobs = 1
    else:
        # a cold job, then untraced, traced, untraced: the traced job
        # against the mean of the two untraced ones around it is the
        # tracing overhead
        job(0)
        untraced = [job(1)]
        tr = eng.call(cmd="trace", spans=os.path.join(work, "spans.jsonl"))
        untraced.append(job(3))
        metrics.update(tr["metrics"])
        metrics["trace.overhead_ms"] = (tr["traced_job_s"] - statistics.mean(untraced)) * 1e3
        report = {"untraced_job_s": untraced, "traced_job_s": tr["traced_job_s"]}
        jobs = 4
    report["jobs"] = jobs
    out_dir = os.path.join(work, "out")
    eng.call(cmd="dump", dir=out_dir)
    failures, lsh = checks.check_batch(data_dir, out_dir, truth)
    if args.trace:
        metrics.update(lsh)
    # the outputs are the same on every job of a run: a failed check fails
    # that operator's call in each job
    attempted = len(checks.BATCH_OPS) * jobs
    failed = jobs * len({f["op"] for f in failures})
    return attempted, failed, (failures[0] if failures else None), metrics, report


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    out_root = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath = build.build(root, out_root)

    cpus = os.cpu_count() or 1
    mode = WORKLOADS[args.workload]
    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(out_root, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    # the corpus directory's basename keys Triplizer's cache: unique per run
    data_dir = os.path.join(work, f"pb-{tag}")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    eng = None
    ok = False
    try:
        truth = None
        if mode == "batch":
            truth = gen.write_batch(args.seed, data_dir)
        elif mode == "rsp":
            gen.write_events(args.seed, data_dir)
        else:
            gen.write_relational(args.seed, data_dir)
        drop_store_cache(data_dir)
        jvm = build.java_cmd(root, classpath, work) + [
            "perfbench.Engine", mode, work, data_dir, str(cpus)]
        eng = Engine(jvm, os.path.join(work, "engine.log"))
        if mode == "batch":
            attempted, failed, first, metrics, report = run_batch(args, eng, data_dir, work, truth)
        elif mode == "rsp":
            attempted, failed, first, metrics, report = run_rsp(args, eng, data_dir, work)
        else:
            attempted, failed, first, metrics, report = run_sparql(args, eng, data_dir, work)
        report["engine_wall_s"] = time.perf_counter() - eng.t0
        ok = True
    finally:
        if eng is not None:
            eng.close()
            if not ok:
                with open(eng.log_path) as f:
                    sys.stderr.write(f.read()[-4000:])
        drop_store_cache(data_dir)
        shutil.rmtree(work, ignore_errors=True)

    names = END_TO_END if not args.trace else PER_LAYER
    result = {name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
              for name, unit in names}
    env = {"nproc": cpus, "local": f"local[{cpus}]", "shuffle_partitions": cpus,
           "heap": build.HEAP,
           "clients": {"sparql_read": READ_CLIENTS, "rsp_stream": len(checks.RSP_QUERIES)}.get(
               args.workload, 1)}
    sys.stderr.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                 "steadiness": report, "env": env,
                                 "first_failure": first}) + "\n")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result}))


if __name__ == "__main__":
    main()
