#!/usr/bin/env python3
"""Serving benchmark: OpenTSDB traffic through the real HTTP and WS facades.

One run starts ``server.py`` in its own process (session, backlog ingest,
hot cache, facades), drives one workload from this process with at most
``nproc`` client threads and connections, checks every answer it can
against an independent oracle outside the timed region, and prints one
JSON result as its last stdout line.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json. ``--trace 1``
installs the layer wrappers of ``tracing.py`` in the server, reports the
per-layer metrics and prints the per-layer table ranked by self time; when
an untraced result for the same workload, seed and length is on file it
also prints the tracing overhead per end-to-end metric.

Every workload is a closed loop: each client sends its next request only
after the previous reply, as a Grafana panel or a collector does.
"""

from __future__ import annotations

import argparse
import base64
import http.client
import json
import os
import shutil
import signal
import socket
import statistics
import struct
import subprocess
import sys
import threading
import time
from pathlib import Path

import gen

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
READY_TIMEOUT_S = 300
REQUEST_TIMEOUT_S = 120
DRAIN_TIMEOUT_S = 20
DUPLICATE_WAIT_S = 1.2  # one WS trigger interval plus slack
# Query latency keeps falling for tens of seconds after the builds, as the
# JVM compiles the query path. Warming up for a count of requests, not a
# time, leaves the JVM in a like state at the start of timing on a fast or
# a slow host.
WARMUP_REQUESTS = 16  # completed queries, over all readers
WARMUP_MAX_S = 90.0
CHECKED_PER_CLIENT = 40

SETUP_BUILDS = 3  # set-ups per run; setup_s takes their median

# Each workload: its reader threads as (request kind, auths), whether it
# also runs the writer and the WS subscriber, and why it was chosen.
# Threads stay within nproc (= 4).
WORKLOADS = {
    "dashboard": {
        "readers": [("dashboard", "A"), ("dashboard", "A"), ("dashboard", ""), ("dashboard", "")],
        "writes": False,
        "why": "4 Grafana-panel readers (2 auth A, 2 anonymous) over the newest 1-6 h inside "
               "the hot cache: driver-bound request parse, plan building, viz and shaping",
    },
    "history": {
        "readers": [("history", "A"), ("history", "")],
        "writes": False,
        "why": "2 readers (auth A, anonymous) of 1-4 day by-host windows wider than the hot "
               "cache: execution-bound scan, pruning, shuffle and response shaping",
    },
    # Not in BENCHMARK.json: at this commit a query can fail with HTTP 500
    # when a concurrent put's HotCache.refresh unpersists the pinned window
    # it reads, so runs of this workload are not always correct.
    "ingest_mixed": {
        "readers": [("dashboard", "A"), ("dashboard", "")],
        "writes": True,
        "why": "1 writer POSTing 100-point batches beside 2 dashboard readers and 1 WS "
               "subscriber: put path, side-writes, cache refresh and push lag",
    },
}


# --------------------------------------------------------------- clients


class Ops:
    """Thread-safe log of every operation a client issued."""

    def __init__(self):
        self.lock = threading.Lock()
        self.ops: list[dict] = []
        self.rid = 0

    def next_rid(self, kind: str) -> str:
        with self.lock:
            self.rid += 1
            return f"{kind}-{self.rid}"

    def add(self, op: dict) -> None:
        with self.lock:
            self.ops.append(op)


class Gate:
    """Holds the clients between their requests while the server's memory
    is read: a full collection is only steady on a quiet server."""

    def __init__(self):
        self.cv = threading.Condition()
        self.open = True
        self.busy = 0

    def enter(self, stop: threading.Event) -> bool:
        """Waits while the gate is shut; False once the run stops."""
        with self.cv:
            while not self.open and not stop.is_set():
                self.cv.wait(0.1)
            if stop.is_set():
                return False
            self.busy += 1
            return True

    def leave(self) -> None:
        with self.cv:
            self.busy -= 1
            self.cv.notify_all()

    def shut(self) -> None:
        """Returns once no request is in flight."""
        with self.cv:
            self.open = False
            if not self.cv.wait_for(lambda: not self.busy, REQUEST_TIMEOUT_S):
                raise RuntimeError("a client request did not end")

    def reopen(self) -> None:
        with self.cv:
            self.open = True
            self.cv.notify_all()


def post(conn_box: list, port: int, path: str, body, headers: dict):
    """POST JSON; reconnects once on a dropped keep-alive connection.
    Returns (status, body bytes)."""
    data = json.dumps(body).encode()
    for attempt in (0, 1):
        if conn_box[0] is None:
            conn_box[0] = http.client.HTTPConnection(
                "127.0.0.1", port, timeout=REQUEST_TIMEOUT_S
            )
        conn = conn_box[0]
        try:
            conn.request("POST", path, data, {"Content-Type": "application/json", **headers})
            resp = conn.getresponse()
            return resp.status, resp.read()
        except (ConnectionError, http.client.HTTPException):
            conn.close()
            conn_box[0] = None
            if attempt:
                raise
    raise AssertionError("unreachable")


def reader(client, auths, requests, port, ops, stop, gate, checked, progress):
    box = [None]
    i = 0
    while gate.enter(stop):
        req = requests[i % len(requests)]
        i += 1
        rid = ops.next_rid("q")
        op = {"kind": "query", "rid": rid, "client": client, "auths": auths,
              "start": time.perf_counter()}
        try:
            status, body = post(box, port, "/api/query", req,
                                {"X-Auths": auths, "X-Request-Id": rid})
            op["ok"] = status == 200
            op["bytes"] = len(body)
            if status == 200 and not req["queries"][0].get("rate") and len(checked) < CHECKED_PER_CLIENT:
                checked.append((req, auths, json.loads(body)))
            if status != 200:
                op["error"] = f"HTTP {status}: {body[:200]!r}"
        except (OSError, http.client.HTTPException) as e:
            op["ok"], op["error"] = False, repr(e)
        op["end"] = time.perf_counter()
        gate.leave()
        ops.add(op)
        progress[client] = progress.get(client, 0) + 1
    if box[0] is not None:
        box[0].close()


def writer(inputs, port, ops, stop, gate, acked, progress):
    box = [None]
    k = 0
    while gate.enter(stop):
        batch = inputs.put_batch(k)
        rid = ops.next_rid("p")
        op = {"kind": "put", "rid": rid, "client": "writer", "batch": k, "points": len(batch),
              "start": time.perf_counter()}
        try:
            status, body = post(box, port, "/api/put", batch, {"X-Request-Id": rid})
            op["ok"] = status == 200
            if status != 200:
                op["error"] = f"HTTP {status}: {body[:200]!r}"
        except (OSError, http.client.HTTPException) as e:
            op["ok"], op["error"] = False, repr(e)
        op["end"] = time.perf_counter()
        gate.leave()
        if op["ok"]:
            for p in batch:
                acked[(p["metric"], p["tags"]["host"], p["timestamp"])] = (p["value"], op["start"], k)
        ops.add(op)
        progress["put"] = progress.get("put", 0) + 1
        k += 1
    if box[0] is not None:
        box[0].close()


class WsClient:
    """Minimal RFC 6455 client: masked text frames out, frames in."""

    def __init__(self, port: int):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=REQUEST_TIMEOUT_S)
        key = base64.b64encode(os.urandom(16)).decode()
        self.sock.sendall(
            (
                "GET / HTTP/1.1\r\nHost: 127.0.0.1\r\nUpgrade: websocket\r\n"
                f"Connection: Upgrade\r\nSec-WebSocket-Key: {key}\r\n"
                "Sec-WebSocket-Version: 13\r\n\r\n"
            ).encode()
        )
        self.buf = b""
        while b"\r\n\r\n" not in self.buf:
            chunk = self.sock.recv(4096)
            if not chunk:
                raise ConnectionError("WS handshake closed")
            self.buf += chunk
        head, self.buf = self.buf.split(b"\r\n\r\n", 1)
        if b" 101 " not in head.split(b"\r\n")[0]:
            raise ConnectionError(f"WS handshake refused: {head[:80]!r}")

    def send(self, obj: dict, opcode: int = 0x1) -> None:
        payload = json.dumps(obj).encode() if obj is not None else b""
        mask = os.urandom(4)
        n = len(payload)
        head = bytes([0x80 | opcode])
        if n < 126:
            head += bytes([0x80 | n])
        else:
            head += bytes([0x80 | 126]) + struct.pack(">H", n)
        self.sock.sendall(head + mask + bytes(b ^ mask[i % 4] for i, b in enumerate(payload)))

    def recv(self) -> tuple[int, bytes]:
        """(opcode, payload) of the next server frame. A socket timeout
        leaves a partly received frame in the buffer."""
        while True:
            b = self.buf
            n, off = (b[1] & 0x7F, 2) if len(b) >= 2 else (0, None)
            if n == 126:
                n, off = (struct.unpack(">H", b[2:4])[0], 4) if len(b) >= 4 else (0, None)
            elif n == 127:
                n, off = (struct.unpack(">Q", b[2:10])[0], 10) if len(b) >= 10 else (0, None)
            if off is not None and len(b) >= off + n:
                self.buf = b[off + n:]
                return b[0] & 0x0F, b[off:off + n]
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("WS closed")
            self.buf += chunk


def subscriber(port, ws_ready, stop_ws, received, errors):
    """Subscribes to the live metric and records when each point arrives."""
    try:
        ws = WsClient(port)
        ws.send({"operation": "create", "subscriptionId": "bench"})
        ws.send({"operation": "add", "subscriptionId": "bench",
                 "metric": gen.LIVE_METRIC, "delayTime": 1000})
        ws.sock.settimeout(0.5)
        ws_ready.set()
        while not stop_ws.is_set():
            try:
                opcode, payload = ws.recv()
            except (TimeoutError, socket.timeout):
                continue
            now = time.perf_counter()
            if opcode != 0x1:
                continue
            msg = json.loads(payload)
            if "error" in msg:
                errors.append(msg["error"])
            for r in msg.get("responses", []):
                if r.get("complete"):
                    continue
                host = next(t["value"] for t in r["tags"] if t["key"] == "host")
                received.setdefault((r["metric"], host, r["timestamp"]), []).append((now, r["value"]))
        ws.sock.settimeout(5)
        ws.send({"operation": "close", "subscriptionId": "bench"})
        ws.send(None, opcode=0x8)
        ws.sock.close()
    except (OSError, ValueError) as e:
        errors.append(repr(e))
        ws_ready.set()


# ----------------------------------------------------------------- server


class Server:
    """The server subprocess and its process group."""

    def __init__(self, backlog: Path, trace: int, log: Path):
        env = dict(os.environ)
        env.update(
            SPARK_GRAFT_CPUS=str(nproc()),
            PYTHONPATH=os.pathsep.join([str(ROOT), str(HERE)]),
            SPARK_LOCAL_DIRS=str(WORK / "spark-local"),
            TMPDIR=str(WORK / "tmp"),
            PYTHONUNBUFFERED="1",
        )
        (WORK / "tmp").mkdir(parents=True, exist_ok=True)
        self.log = log
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "server.py"), "--work", str(WORK),
             "--backlog", str(backlog), "--builds", str(SETUP_BUILDS), "--trace", str(trace)],
            cwd=WORK, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=open(log, "w"), text=True, start_new_session=True,
        )
        self.pgid = self.proc.pid

    def read(self, timeout: float) -> dict:
        deadline = time.monotonic() + timeout
        box: list = []

        def pump():
            for line in self.proc.stdout:
                if line.startswith("@@"):
                    box.append(json.loads(line[2:]))
                    return

        t = threading.Thread(target=pump, daemon=True)
        t.start()
        t.join(max(0.0, deadline - time.monotonic()))
        if not box:
            raise RuntimeError(f"server gave no reply in {timeout:.0f} s; log tail:\n{self.tail()}")
        return box[0]

    def call(self, cmd: str, timeout: float = 120) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self.read(timeout)

    def tail(self) -> str:
        try:
            return "".join(open(self.log).readlines()[-30:])
        except OSError:
            return ""

    def stop(self) -> None:
        """Ask the server to quit, then make sure its whole process group
        (JVM and Python workers included) has ended."""
        try:
            if self.proc.poll() is None:
                self.call("quit", timeout=60)
        except (RuntimeError, OSError, ValueError):
            pass
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            pass
        for sig in (signal.SIGTERM, signal.SIGKILL):
            if not _group_alive(self.pgid):
                break
            try:
                os.killpg(self.pgid, sig)
            except ProcessLookupError:
                break
            deadline = time.monotonic() + 10
            while _group_alive(self.pgid) and time.monotonic() < deadline:
                time.sleep(0.1)
        if self.proc.poll() is None:
            self.proc.wait(timeout=10)


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                stat = open(f"/proc/{d}/stat").read()
            except OSError:
                continue
            fields = stat.rsplit(")", 1)[1].split()
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- metrics


def closed_loop_rate(ops: list[dict], weight: str | None = None) -> float:
    """Completed work per second at the fixed client count. Each client
    waits for a reply before sending again, so its rate is its work over
    the time it spent waiting; the rates of the clients add up. Unlike a
    count over the window, this has no edge effect from the operation in
    flight when the window closes."""
    work: dict = {}
    busy: dict = {}
    for o in ops:
        c = o["client"]
        work[c] = work.get(c, 0) + (o[weight] if weight else 1)
        busy[c] = busy.get(c, 0.0) + o["end"] - o["start"]
    return sum(work[c] / busy[c] for c in work)


def end_to_end(ops, acked, received, t0, setup_s, store_bytes, mem_mb, inputs, writes):
    """(metrics, extra metrics, sample counts). Every workload has the
    metrics; the extras, which go to the run metadata, are the tail
    percentiles and, on a writing workload, the put and push figures."""
    timed = [o for o in ops if o["start"] >= t0 and o["ok"]]
    queries = [o for o in timed if o["kind"] == "query"]
    puts = [o for o in timed if o["kind"] == "put"]
    if not queries or (writes and not puts):
        raise RuntimeError("no completed queries or puts in the timed window")
    q_ms = [(o["end"] - o["start"]) * 1000 for o in queries]
    points = len(inputs.ts) * len(gen.METRICS) * len(inputs.hosts) + len(acked)
    metrics = {
        "setup_s": (setup_s, "s"),
        "query_p50_ms": (statistics.median(q_ms), "ms"),
        "query_qps": (closed_loop_rate(queries), "1/s"),
        "store_bytes_per_point": (store_bytes / points, "B"),
        "server_mem_mb": (sum(mem_mb.values()), "MB"),
    }
    samples = {"query": len(q_ms)}
    cuts = statistics.quantiles(q_ms, n=20) if len(q_ms) > 1 else q_ms * 19
    extra: dict = {"query_p75_ms": (cuts[14], "ms"), "query_p90_ms": (cuts[17], "ms")}
    if writes:
        timed_batches = {o["batch"] for o in puts}
        lags = [
            (arr[0][0] - sent) * 1000
            for key, (_, sent, k) in acked.items()
            if key[0] == gen.LIVE_METRIC and k in timed_batches
            for arr in [received.get(key)]
            if arr
        ]
        if not lags:
            raise RuntimeError("no live point reached the WS subscriber in the timed window")
        p_ms = [(o["end"] - o["start"]) * 1000 for o in puts]
        extra.update({
            "put_p50_ms": (statistics.median(p_ms), "ms"),
            "ingest_points_per_s": (closed_loop_rate(puts, "points"), "1/s"),
            "push_lag_p50_ms": (statistics.median(lags), "ms"),
        })
        samples.update(put=len(p_ms), push_lag=len(lags), push_lag_batches=len(
            {acked[k][2] for k in acked if k[0] == gen.LIVE_METRIC and acked[k][2] in timed_batches}))
    return metrics, extra, samples


def store_stats(store: Path) -> tuple[int, int]:
    files = [p for p in store.rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


# ----------------------------------------------------------------- checks


def read_back(port: int, acked: dict, out: list) -> None:
    """Reads every acknowledged put back through /api/query: one sum per
    (metric, host, ts) returns the point's value, and a duplicate stored
    copy would double it. Appends {(metric, host, ts): value}, or None
    when the query fails."""
    if not acked:
        out.append({})
        return
    body = {"start": gen.END_MS + 1, "end": max(ts for _, _, ts in acked) + 1,
            "msResolution": True,
            "queries": [{"metric": m, "aggregator": "sum", "tags": {"host": "*"}}
                        for m in sorted({m for m, _, _ in acked})]}
    box = [None]
    try:
        status, raw = post(box, port, "/api/query", body, {"X-Auths": gen.AUTH_LABEL})
    except (OSError, http.client.HTTPException):
        status = None
    if box[0] is not None:
        box[0].close()
    out.append(None if status != 200 else {
        (s["metric"], s["tags"]["host"], int(t)): v
        for s in json.loads(raw) for t, v in s["dps"].items()
    })


def check_responses(inputs, checked, inject_wrong: bool, out: list) -> None:
    """Compares every recorded non-rate response with the DuckDB oracle and
    looks for labelled hosts in anonymous responses. Appends (failed
    responses, reasons)."""
    from oracle import Oracle, as_series, same

    failed, why = 0, []
    oracle = Oracle(inputs.backlog_rows())
    for i, (req, auths, resp) in enumerate(checked):
        got = as_series(resp)
        if inject_wrong and i == 0:
            got = {k: {t: v + 1 for t, v in d.items()} for k, d in got.items()} or {("x", ()): {}}
        want = oracle.expected(req, {auths} if auths else set())
        leaked = not auths and any(
            dict(tags).get("host") in inputs.labelled for _, tags in got
        )
        if leaked or not same(got, want):
            failed += 1
            why.append(f"wrong response ({'viz leak' if leaked else 'oracle mismatch'}): "
                       f"{json.dumps(req)[:160]}")
    out.append((failed, why))


def check_puts(acked, stored, received, ws_errors) -> tuple[int, list[str]]:
    """Counts put batches with a point that is missing, wrong or duplicated
    in the store or on the WS subscription, plus WS errors."""
    why = []
    bad_batches: set[int] = set()
    if acked and stored is None:
        why.append("read-back query failed")
    seen = stored or {}
    # every acknowledged put is readable exactly once through /api/query
    for key, (value, _, k) in acked.items():
        if seen.get(key) != value:
            bad_batches.add(k)
    extra = seen.keys() - acked.keys()
    for _, _, ts in extra:
        bad_batches.add((ts - gen.END_MS) // gen.LIVE_STEP_MS - 1)
    if extra:
        why.append(f"{len(extra)} stored points were never acknowledged")
    # every live point reached the WS subscriber exactly once
    for key, (value, _, k) in acked.items():
        if key[0] != gen.LIVE_METRIC:
            continue
        arr = received.get(key, [])
        if len(arr) != 1 or arr[0][1] != value:
            bad_batches.add(k)
    for key in received.keys() - acked.keys():
        bad_batches.add((key[2] - gen.END_MS) // gen.LIVE_STEP_MS - 1)
    if bad_batches:
        why.append(f"put batches with missing, wrong or duplicated points: {sorted(bad_batches)[:10]}")
    if ws_errors:
        why.append(f"WS errors: {ws_errors[:3]}")
    return len(bad_batches) + len(ws_errors), why


# ------------------------------------------------------------------- main


def main() -> int:
    try:
        return run()
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1


def run() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(gen.SCALES), default="full")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="corrupt one checked response (self-test of the checks)")
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "timely_spark" / "__init__.py").is_file() or not spec_path.is_file():
        print(f"perfbench: no timely_spark package or BENCHMARK.json under {ROOT}",
              file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())
    workload = WORKLOADS[args.workload]
    writes = workload["writes"]

    # a fresh work area per run; results of earlier runs stay for the
    # tracing-overhead comparison
    WORK.mkdir(exist_ok=True)
    for p in WORK.iterdir():
        if p.name != "results":
            shutil.rmtree(p) if p.is_dir() else p.unlink()
    t_run = time.perf_counter()
    inputs = gen.Inputs(args.seed, args.scale)
    backlog = WORK / "backlog.txt"
    backlog.write_text("\n".join(inputs.backlog_lines()) + "\n")

    meta = {"workload": args.workload, "why": workload["why"], "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "scale": args.scale,
            "nproc": nproc(), "commit": _commit()}
    timeline = {"inputs": time.perf_counter() - t_run}
    server = Server(backlog, args.trace, WORK / "server.log")
    stop, stop_ws = threading.Event(), threading.Event()
    threads: list[threading.Thread] = []
    ws_t = None
    try:
        ready = server.read(READY_TIMEOUT_S + 60 * SETUP_BUILDS)
        if not ready.get("ready"):
            raise RuntimeError(f"server failed: {ready}")
        meta.update(spark_version=ready["spark_version"], master=ready["master"],
                    session_s=ready["session_s"], build_s=ready["build_s"])
        port, store = ready["http_port"], Path(ready["store"])
        timeline["server_ready"] = time.perf_counter() - t_run
        meta["calibration_before_ms"] = server.call("calibrate")["calibration_ms"]

        ops, acked, received, ws_errors = Ops(), {}, {}, []
        gate = Gate()
        progress: dict = {}  # completed operations per client
        checked_by: list[list] = []
        t_warm = time.perf_counter()
        if writes:
            ws_ready = threading.Event()
            ws_t = threading.Thread(target=subscriber,
                                    args=(ready["ws_port"], ws_ready, stop_ws, received, ws_errors))
            ws_t.start()
            ws_ready.wait(60)
        for c, (kind, auths) in enumerate(workload["readers"]):
            reqs = (inputs.dashboard_requests if kind == "dashboard"
                    else inputs.history_requests)(c, 500)
            checked_by.append([])
            threads.append(threading.Thread(
                target=reader,
                args=(c, auths, reqs, port, ops, stop, gate, checked_by[-1], progress)))
        if writes:
            threads.append(threading.Thread(target=writer,
                                            args=(inputs, port, ops, stop, gate, acked, progress)))
        for t in threads:
            t.start()

        # warm-up: the readers have completed WARMUP_REQUESTS, each at least
        # one, the writer a put and the subscriber has received live points,
        # so lazy set-up is behind us
        n_readers = len(workload["readers"])
        while True:
            el = time.perf_counter() - t_warm
            if el > WARMUP_MAX_S or ws_errors:
                raise RuntimeError(f"warm-up did not finish: {progress} {ws_errors}")
            if (sum(progress.get(c, 0) for c in range(n_readers)) >= WARMUP_REQUESTS
                    and all(progress.get(c, 0) >= 1 for c in range(n_readers))
                    and (not writes or (received and progress.get("put", 0) >= 1))):
                break
            time.sleep(0.05)
        warmup_s = time.perf_counter() - t_warm
        # memory is read at the mark, after a fixed count of requests and
        # with the clients held: at the end of the run the JVM heap also
        # holds the status of every Spark job run, so it would grow with
        # the host's speed
        gate.shut()
        mem_mb = server.call("mark")["mem_mb"]
        gate.reopen()
        t0 = time.perf_counter()
        timeline["warm"] = t0 - t_run
        time.sleep(args.seconds)
        stop.set()
        for t in threads:
            t.join(REQUEST_TIMEOUT_S + 10)
        # the checks run beside the drain and the server's final figures
        stored: list = []
        responses: list = []
        checked = [c for lst in checked_by for c in lst]
        checkers = [threading.Thread(target=check_responses,
                                     args=(inputs, checked, args.inject_wrong, responses))]
        if writes:
            checkers.append(threading.Thread(target=read_back, args=(port, acked, stored)))
        for t in checkers:
            t.start()
        threads += checkers
        if writes:
            # drain: wait for the subscriber to see every acknowledged live point
            deadline = time.perf_counter() + DRAIN_TIMEOUT_S
            live = [k for k in acked if k[0] == gen.LIVE_METRIC]
            while time.perf_counter() < deadline and any(k not in received for k in live):
                time.sleep(0.1)
        t_drained = time.perf_counter()
        timeline["drained"] = t_drained - t_run
        stats = server.call("stats", timeout=300)
        if writes:
            # a duplicate delivery would arrive within one more trigger
            time.sleep(max(0.0, DUPLICATE_WAIT_S - (time.perf_counter() - t_drained)))
            stop_ws.set()
            ws_t.join(30)
        timeline["stats"] = time.perf_counter() - t_run
        for t in checkers:
            t.join(REQUEST_TIMEOUT_S + 10)
        meta["calibration_after_ms"] = server.call("calibrate")["calibration_ms"]
        files, store_bytes = store_stats(store)
        if not responses:
            raise RuntimeError("the response check did not finish")
        failed, why = responses[0]
        if writes:
            f, w = check_puts(acked, stored[0] if stored else None, received, ws_errors)
            failed, why = failed + f, why + w
        timeline["checked"] = time.perf_counter() - t_run
    finally:
        stop.set()
        stop_ws.set()
        for t in threads + ([ws_t] if ws_t else []):
            t.join(REQUEST_TIMEOUT_S + 10)
        server.stop()
        timeline["stopped"] = time.perf_counter() - t_run

    errors = [o for o in ops.ops if not o["ok"]]
    failed += len(errors)
    why += [f"{o['kind']} {o['rid']}: {o.get('error')}" for o in errors[:5]]
    attempted = len(ops.ops)
    setup_s = ready["session_s"] + statistics.median(ready["build_s"])
    metrics, extra, samples = end_to_end(ops.ops, acked, received, t0, setup_s,
                                         store_bytes, mem_mb, inputs, writes)
    meta.update(samples=samples, warmup_s=warmup_s, checked_responses=len(checked),
                store_files=files, failures=why, timeline_s=timeline,
                unlisted={k: v[0] for k, v in extra.items()}, memory_mb=mem_mb)
    print("run metadata: " + json.dumps(meta))
    metrics.update(extra)
    _save(args, metrics)

    if args.trace:
        from layers import per_layer

        calib = meta["calibration_before_ms"] + meta["calibration_after_ms"]
        out_metrics = per_layer(stats, ops.ops, t0, files, metrics, calib, nproc(),
                                print_table=True)
        _overhead(args, metrics)
        names = [m["name"] for m in spec["per_layer"]]
    else:
        out_metrics = metrics
        names = [m["name"] for m in spec["end_to_end"]]
    for n in names:
        v, u = out_metrics[n]
        print(f"  {n:40s} {v:14.4f} {u}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": out_metrics[n][0], "unit": out_metrics[n][1]} for n in names},
    }
    print(json.dumps(result), flush=True)
    return 0


def _commit() -> str | None:
    """The checked-out commit, when the checkout is a git work tree."""
    if not (ROOT / ".git").exists():
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def _result_path(args, trace: int) -> Path:
    return WORK / "results" / f"{args.workload}-seed{args.seed}-s{args.seconds:g}-trace{trace}.json"


def _save(args, metrics) -> None:
    p = _result_path(args, args.trace)
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(json.dumps({k: v[0] for k, v in metrics.items()}))


def _overhead(args, traced) -> None:
    p = _result_path(args, 0)
    if not p.is_file():
        print(f"tracing overhead: no untraced result on file for seed {args.seed}")
        return
    base = json.loads(p.read_text())
    print("tracing overhead (traced - untraced, same workload, seed and length):")
    for k, (v, u) in traced.items():
        b = base[k]
        print(f"  {k:28s} {v - b:+12.3f} {u:6s} ({(v - b) / b * 100:+.1f}%)")


if __name__ == "__main__":
    sys.exit(main())
