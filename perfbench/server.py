"""Server process of the serving benchmark.

Builds the engine the way a deployment does and serves it over the real
HTTP and WebSocket facades:

1. a session from ``timely_spark.session.get_spark`` (the caller sets
   ``SPARK_GRAFT_CPUS``; no Spark conf is set here);
2. the backlog ingested through ``TimelyEngine.put_lines`` into a fresh
   store, so the meta and visibility catalogs exist as in deployment;
3. the hot cache enabled over the newest 6 h.

Steps 2 and 3 (one build) run ``--builds`` times, each into its own fresh
store, so that the caller can report the median build time; every build
but the last is closed and deleted, and the last one is served by
``TimelyHttpServer`` with a per-request authenticator (header ``X-Auths``)
and ``TimelyWebSocketServer`` on the same engine.

Control protocol: one JSON object per stdout line prefixed with ``@@``;
commands arrive one per stdin line (``calibrate``, ``mark`` (start of
timing), ``stats``, ``quit``).

Usage: python3 perfbench/server.py --work DIR --backlog FILE [--builds N] [--trace 0|1]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

CACHE_WINDOW_MS = 6 * 3_600_000
CALIBRATION_ROWS = 20_000_000


def emit(obj: dict) -> None:
    sys.stdout.write("@@" + json.dumps(obj, default=str) + "\n")
    sys.stdout.flush()


def calibrate(spark) -> float:
    """One fixed synthetic job (milliseconds): a host-speed reference that
    no engine change moves."""
    t = time.perf_counter()
    spark.range(CALIBRATION_ROWS).selectExpr("sum(id * 7 % 13)").collect()
    return (time.perf_counter() - t) * 1000


def memory_mb(spark, samples: int = 3) -> dict:
    """Memory the server retains: this process's resident set and the JVM
    heap in use after a full collection, each the least of a few samples
    so that an allocation racing the collection does not count. Peak RSS
    would mostly measure when the collector last ran."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    heap, rss_kb = [], []
    for _ in range(samples):
        jvm.java.lang.System.gc()
        heap.append(rt.totalMemory() - rt.freeMemory())
        with open("/proc/self/status") as f:
            rss_kb.append(next(int(x.split()[1]) for x in f if x.startswith("VmRSS:")))
    return {"python_rss": min(rss_kb) / 1024, "jvm_heap": min(heap) / 2**20}


def authenticator(headers: dict) -> set[str]:
    return {a for a in (headers.get("X-Auths") or "").split(",") if a}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--backlog", required=True)
    ap.add_argument("--builds", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    t0 = time.perf_counter()
    from timely_spark.api import TimelyEngine
    from timely_spark.session import get_spark

    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    with open(args.backlog) as f:
        lines = f.read().splitlines()

    build_s = []
    for i in range(args.builds):
        build_dir = os.path.join(args.work, f"build{i}")
        store = os.path.join(build_dir, "store")
        t = time.perf_counter()
        engine = TimelyEngine(spark, store_path=store)
        engine.put_lines(lines)
        engine.enable_hot_cache(window_ms=CACHE_WINDOW_MS)
        build_s.append(time.perf_counter() - t)
        if i + 1 < args.builds:
            engine.attach_hot_cache(None)  # unpins this build's window
            shutil.rmtree(build_dir)  # store, meta and viz catalogs

    tracer = None
    if args.trace:
        from tracing import install

        tracer = install(spark)

    from timely_spark.http_facade import TimelyHttpServer
    from timely_spark.ws_facade import TimelyWebSocketServer

    http = TimelyHttpServer(engine, authenticator=authenticator).start()
    ws = TimelyWebSocketServer(spark, store, engine=engine).start()
    emit({
        "ready": True,
        "http_port": http.port,
        "ws_port": ws.port,
        "store": store,
        "session_s": session_s,
        "build_s": build_s,
        "spark_version": spark.version,
        "master": spark.sparkContext.master,
    })

    marked_batch: dict[str, int] = {}
    for cmd in sys.stdin:
        cmd = cmd.strip()
        if cmd == "calibrate":
            emit({"calibration_ms": [calibrate(spark) for _ in range(2)]})
        elif cmd == "mark":
            if tracer is not None:
                tracer.reset()
            marked_batch = {q.name: _last_batch(q) for q in spark.streams.active}
            emit({"marked": True, "mem_mb": memory_mb(spark)})
        elif cmd == "stats":
            out: dict = {}
            if tracer is not None:
                out.update(tracer.dump())
                out["progress"] = [
                    p
                    for q in spark.streams.active
                    for p in map(_progress, q.recentProgress)
                    if p["batchId"] > marked_batch.get(q.name, -1)
                ]
            emit(out)
        elif cmd == "quit":
            break
    # the WS listener's accept thread is a daemon that ends with the
    # process; its subscriptions are stopped here with the session
    http.stop()
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    emit({"stopped": True})
    return 0


def _progress(p) -> dict:
    return p if isinstance(p, dict) else json.loads(p.json)


def _last_batch(q) -> int:
    prog = q.lastProgress
    return -1 if prog is None else int(_progress(prog)["batchId"])


if __name__ == "__main__":
    sys.exit(main())
