"""Per-layer figures of a traced run.

Input: the server's span and job-group dump (``tracing.Tracer.dump``), the
client's operation log and the run's end-to-end figures. Each per-layer
metric is a median over the timed requests of its kind (queries or puts)
unless its name says otherwise. The put and subscription figures exist
only on a workload that writes. A layer's self time is its span's
duration minus the part of that interval its child spans cover; the
client's wait is its latency minus the facade handler's time.
"""

from __future__ import annotations

import statistics
from collections import defaultdict


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _self_ms(span: dict, children: list[dict]) -> float:
    covered, cur_lo, cur_hi = 0.0, None, None
    for c in sorted(children, key=lambda c: c["start"]):
        lo, hi = max(c["start"], span["start"]), min(c["end"], span["end"])
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (span["end"] - span["start"] - covered) * 1000


def per_layer(stats: dict, ops: list[dict], t0: float, store_files: int,
              e2e: dict, calibration_ms: list[float], nproc: int,
              print_table: bool = False) -> dict:
    timed = {o["rid"]: o for o in ops if o["start"] >= t0 and o["ok"]}
    q_rids = [r for r, o in timed.items() if o["kind"] == "query"]
    p_rids = [r for r, o in timed.items() if o["kind"] == "put"]
    spans = [s for s in stats["spans"] if s.get("rid") in timed and "end" in s]
    kids: dict[int, list] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    by_rid: dict[str, list] = defaultdict(list)
    for s in spans:
        s["ms"] = (s["end"] - s["start"]) * 1000
        s["self_ms"] = _self_ms(s, kids[s["id"]])
        by_rid[s["rid"]].append(s)

    def total(rid, name, field="ms"):
        return sum(s[field] for s in by_rid[rid] if s["name"] == name)

    def med(rids, name, field="ms"):
        return _median(total(r, name, field) for r in rids if any(
            s["name"] == name for s in by_rid[r]))

    def inclusive_py4j(span):
        return span["py4j"] + sum(inclusive_py4j(c) for c in kids[span["id"]])

    latency = {r: (o["end"] - o["start"]) * 1000 for r, o in timed.items()}
    jobs = stats["jobs"]

    def job_med(rids, key):
        return _median(jobs[r][key] for r in rids if r in jobs)

    busy = [
        jobs[r]["run_ms"] / (total(r, "api.query") * nproc)
        for r in q_rids if r in jobs and total(r, "api.query") > 0
    ]
    put_other = [
        total(r, "api.put_json") - total(r, "sources.store.write")
        - total(r, "sources.hot_cache.refresh")
        for r in p_rids if total(r, "api.put_json") > 0
    ]
    prog = [p for p in stats.get("progress", []) if p.get("numInputRows", 0) > 0]
    out = {
        "http_facade.handler_ms": (med(q_rids, "http_facade"), "ms"),
        "http_facade.wait_ms": (_median(
            latency[r] - total(r, "http_facade") for r in q_rids if total(r, "http_facade")), "ms"),
        "http_facade.response_bytes": (_median(timed[r]["bytes"] for r in q_rids), "B"),
        "plans.request.parse_ms": (med(q_rids, "plans.request"), "ms"),
        "sources.store.read_points_ms": (med(q_rids, "sources.store.read"), "ms"),
        "sources.store.files": (float(store_files), "count"),
        "plans.builder.plan_ms": (med(q_rids, "plans.builder"), "ms"),
        "plans.builder.py4j_calls": (_median(
            sum(inclusive_py4j(s) for s in by_rid[r] if s["name"] == "plans.builder")
            for r in q_rids), "count"),
        "functions.viz.filter_ms": (med(q_rids, "functions.viz"), "ms"),
        "sources.hot_cache.hybrid_ms": (med(q_rids, "sources.hot_cache.hybrid"), "ms"),
        "sources.hot_cache.hit_share": (_median(
            s["hit_share"] for r in q_rids for s in by_rid[r] if s["name"] == "api.query"), "ratio"),
        "spark.jobs": (job_med(q_rids, "jobs"), "count"),
        "spark.stages": (job_med(q_rids, "stages"), "count"),
        "spark.tasks": (job_med(q_rids, "tasks"), "count"),
        "spark.executor_run_ms": (job_med(q_rids, "run_ms"), "ms"),
        "spark.executor_cpu_ms": (job_med(q_rids, "cpu_ms"), "ms"),
        "spark.shuffle_read_bytes": (job_med(q_rids, "shuffle_read"), "B"),
        "spark.shuffle_write_bytes": (job_med(q_rids, "shuffle_write"), "B"),
        "spark.busy_share": (_median(busy), "ratio"),
        "plans.response.collect_shape_ms": (med(q_rids, "plans.response"), "ms"),
        "plans.response.dps": (med(q_rids, "plans.response", "dps"), "count"),
        "sources.store.bytes_per_point": (e2e["store_bytes_per_point"][0], "B"),
        "host.calibration_ms": (_median(calibration_ms), "ms"),
    }
    if p_rids:
        out.update({
            "sources.hot_cache.refresh_ms": (med(p_rids, "sources.hot_cache.refresh"), "ms"),
            "api.put_json_ms": (med(p_rids, "api.put_json"), "ms"),
            "sources.store.write_points_ms": (med(p_rids, "sources.store.write"), "ms"),
            "api.put_other_ms": (_median(put_other), "ms"),
            "spark.jobs_per_put": (job_med(p_rids, "jobs"), "count"),
            "streaming.subscription.trigger_ms": (_median(
                p["durationMs"].get("triggerExecution", 0) for p in prog), "ms"),
            "streaming.subscription.add_batch_ms": (_median(
                p["durationMs"].get("addBatch", 0) for p in prog), "ms"),
            "streaming.subscription.triggers": (float(len(prog)), "count"),
            "streaming.subscription.rows_per_trigger": (
                _median(p["numInputRows"] for p in prog), "count"),
            "streaming.subscription.push_lag_ms": (e2e["push_lag_p50_ms"][0], "ms"),
        })
    if print_table:
        _table(spans, latency, q_rids, p_rids, jobs, by_rid)
        print(f"  py4j calls outside any request span (streaming, harvesting): "
              f"{stats['unattributed_py4j']}")
    return out


def _table(spans, latency, q_rids, p_rids, jobs, by_rid) -> None:
    """Per-layer self time over the timed requests, largest first."""
    rows: dict[str, list[float]] = defaultdict(list)
    for s in spans:
        rows[s["name"]].append(s["self_ms"])
    for r in q_rids + p_rids:
        h = sum(s["ms"] for s in by_rid[r] if s["name"] == "http_facade")
        if h:
            rows["client+transport wait"].append(latency[r] - h)
    grand = sum(sum(v) for v in rows.values()) or 1.0
    print(f"per-layer self time over {len(q_rids)} queries and {len(p_rids)} puts "
          "(driver wall time; executor time below):")
    print(f"  {'layer':28s} {'spans':>6s} {'self ms':>10s} {'ms/span':>9s} {'share':>7s} {'py4j':>7s}")
    py4j = defaultdict(int)
    for s in spans:
        py4j[s["name"]] += s["py4j"]
    for name, v in sorted(rows.items(), key=lambda kv: -sum(kv[1])):
        print(f"  {name:28s} {len(v):6d} {sum(v):10.1f} {sum(v) / len(v):9.1f} "
              f"{sum(v) / grand * 100:6.1f}% {py4j.get(name, 0):7d}")
    run = sum(jobs[r]["run_ms"] for r in q_rids + p_rids if r in jobs)
    cpu = sum(jobs[r]["cpu_ms"] for r in q_rids + p_rids if r in jobs)
    print(f"  spark executors (all requests): run {run:.0f} ms, cpu {cpu:.0f} ms")
