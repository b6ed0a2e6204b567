"""Seeded input generator for the serving benchmark.

Independent of ``timely_spark``: it uses only the standard library and
NumPy, so the engine under test receives nothing but the put lines, JSON
put batches and OpenTSDB query bodies made here. The same seed gives the
same backlog, the same request sequences and the same put batches.

The backlog follows the metric templates of ``tools/loadgen.py`` (copied
as data, not imported): every host reports every metric on a fixed step,
so all series of a metric share their timestamps and the oracle needs no
interpolation. Every third host is labelled ``viz=A``.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np

METRICS = [
    ("sys.cpu.user", "uniform"),
    ("sys.cpu.idle", "uniform"),
    ("sys.eth0.rx", "ramp"),
    ("sys.eth0.tx", "ramp"),
    ("app.req.count", "counter"),
    ("app.req.latency", "lognormal"),
]
LIVE_METRIC = "app.live.ingest"
AUTH_LABEL = "A"
DAY_MS = 86_400_000
HOUR_MS = 3_600_000
# the newest backlog point; live puts continue from here on a synthetic
# clock, so inputs never depend on wall time
END_MS = 1_700_006_400_000 + 18 * HOUR_MS  # 2023-11-15 18:00 UTC
LIVE_STEP_MS = 1_000  # one put batch per synthetic second
BATCH_POINTS = 100
BATCH_LIVE = 20


@dataclass(frozen=True)
class Scale:
    hosts: int
    days: int
    step_s: int


SCALES = {
    # 6 metrics x 12 hosts x 4 days at a 10-min step = 41,472 points over
    # five daily dt partitions: a backlog whose ingest fits the per-run
    # set-up budget while history windows still span several partitions
    "full": Scale(hosts=12, days=4, step_s=600),
    "tiny": Scale(hosts=6, days=2, step_s=1800),
}


def host_name(i: int) -> str:
    return f"h{i:03d}"


def host_tags(i: int) -> dict[str, str]:
    tags = {"host": host_name(i), "rack": f"r{i % 4}"}
    if i % 3 == 0:
        tags["viz"] = AUTH_LABEL
    return tags


class Inputs:
    """Everything one run sends, derived from ``seed`` and ``scale``."""

    def __init__(self, seed: int, scale: str = "full"):
        self.seed = seed
        self.scale = SCALES[scale]
        self.hosts = [host_name(i) for i in range(self.scale.hosts)]
        self.labelled = {host_name(i) for i in range(self.scale.hosts) if i % 3 == 0}
        n = self.scale.days * 86_400 // self.scale.step_s
        self.start_ms = END_MS - (n - 1) * self.scale.step_s * 1000
        self.ts = self.start_ms + np.arange(n, dtype=np.int64) * self.scale.step_s * 1000
        rng = np.random.default_rng([seed, 1])
        # values[m, h, i], rounded to the 4 decimals the put lines carry so
        # the oracle sees exactly the doubles the engine parses
        vals = np.empty((len(METRICS), self.scale.hosts, n))
        for m, (_, shape) in enumerate(METRICS):
            for h in range(self.scale.hosts):
                if shape == "uniform":
                    v = rng.uniform(0, 100, n)
                elif shape == "ramp":
                    v = np.arange(n, dtype=float) * rng.uniform(0.5, 2.0) + h
                elif shape == "counter":
                    v = np.cumsum(rng.uniform(0, 10, n)) % 65535
                else:
                    v = np.exp(rng.normal(3, 1, n))
                vals[m, h] = np.round(v, 4)
        self.values = vals

    # ------------------------------------------------------------ backlog

    def backlog_lines(self) -> list[str]:
        """OpenTSDB telnet put lines for the whole backlog."""
        out = []
        for m, (metric, _) in enumerate(METRICS):
            for h in range(self.scale.hosts):
                tags = " ".join(f"{k}={v}" for k, v in host_tags(h).items())
                row = self.values[m, h]
                out.extend(
                    f"put {metric} {t} {v:.4f} {tags}" for t, v in zip(self.ts.tolist(), row.tolist())
                )
        return out

    def backlog_rows(self):
        """(metric, ts, value, host, rack, viz) column arrays for the oracle."""
        n = len(self.ts)
        metric, ts, value, host, rack, viz = [], [], [], [], [], []
        for m, (name, _) in enumerate(METRICS):
            for h in range(self.scale.hosts):
                t = host_tags(h)
                metric += [name] * n
                ts += self.ts.tolist()
                value += self.values[m, h].tolist()
                host += [t["host"]] * n
                rack += [t["rack"]] * n
                viz += [t.get("viz")] * n
        return {"metric": metric, "ts": ts, "value": value, "host": host,
                "rack": rack, "viz": viz}

    # ------------------------------------------------------------- writes

    def put_batch(self, k: int) -> list[dict]:
        """Batch ``k`` of the writer: 20 points on the live metric and 80
        on backlog metrics, all stamped inside synthetic second ``k``."""
        rng = random.Random(f"{self.seed}/put/{k}")
        base = END_MS + (k + 1) * LIVE_STEP_MS
        nh = self.scale.hosts
        series = [(m, h) for m in range(len(METRICS)) for h in range(nh)]
        rng.shuffle(series)
        out = []
        for j in range(BATCH_LIVE):
            h = j % nh
            out.append(self._point(LIVE_METRIC, base + (j // nh) * 10, h, rng))
        for j in range(BATCH_POINTS - BATCH_LIVE):
            m, h = series[j % len(series)]
            out.append(
                self._point(METRICS[m][0], base + 500 + (j // len(series)) * 10, h, rng)
            )
        return out

    @staticmethod
    def _point(metric: str, ts: int, h: int, rng: random.Random) -> dict:
        return {
            "metric": metric,
            "timestamp": ts,
            "value": round(rng.uniform(0, 1000), 4),
            "tags": host_tags(h),
        }

    # -------------------------------------------------------------- reads

    # Each request sequence repeats a fixed block of request shapes in a
    # seeded order, with seeded metrics and hosts: any run-length slice
    # carries the stated mix whatever the seed, so seeds vary the inputs
    # without varying the workload.

    def dashboard_requests(self, client: int, count: int) -> list[dict]:
        """Grafana-panel queries over the newest 1-6 h (inside the hot-cache
        window): mixed avg/sum/max with 1m-15m downsamples, half of them
        single-host, a quarter of them rates."""
        return self._requests("dashboard", client, count, DASHBOARD_BLOCK, HOUR_MS)

    def history_requests(self, client: int, count: int) -> list[dict]:
        """By-host queries over 1 to 4 days (wider than the hot-cache
        window): host=* group-bys and host regexes, half of them rates."""
        return self._requests("history", client, count, HISTORY_BLOCK, DAY_MS)

    def _requests(self, kind, client, count, block, unit_ms) -> list[dict]:
        rng = random.Random(f"{self.seed}/{kind}/{client}")
        out = []
        while len(out) < count:
            for shape, rate, span, ds, agg in rng.sample(block, len(block)):
                sub = {"aggregator": agg, "metric": rng.choice(METRICS)[0],
                       "downsample": ds, "rate": rate}
                if shape == "host":
                    sub["tags"] = {"host": rng.choice(self.hosts)}
                elif shape == "rack":
                    sub["tags"] = {"rack": "*"}
                elif shape == "host=*":
                    sub["tags"] = {"host": "*"}
                elif shape == "regex":
                    lo = rng.randrange(0, len(self.hosts) - 3)
                    sub["tags"] = {"host": "|".join(self.hosts[lo : lo + 4])}
                out.append({"start": END_MS - span * unit_ms, "end": END_MS, "queries": [sub]})
        return out[:count]


# (tags shape, rate, window in hours or days, downsample, aggregator)
DASHBOARD_BLOCK = [
    ("host", False, 1, "1m-avg", "avg"),
    ("host", False, 3, "5m-avg", "sum"),
    ("host", True, 6, "10m-max", "max"),
    ("host", False, 2, "15m-max", "avg"),
    ("rack", False, 4, "5m-sum", "sum"),
    ("rack", True, 2, "1m-sum", "avg"),
    ("all", False, 6, "15m-avg", "max"),
    ("all", False, 5, "10m-avg", "avg"),
]
HISTORY_BLOCK = [
    ("host=*", False, 1, "15m-avg", "avg"),
    ("regex", True, 1, "30m-max", "sum"),
    ("regex", False, 2, "1h-avg", "max"),
    ("host=*", True, 2, "15m-min", "min"),
    ("host=*", False, 3, "30m-sum", "sum"),
    ("regex", True, 3, "1h-max", "avg"),
    ("regex", False, 4, "15m-max", "max"),
    ("host=*", True, 4, "30m-avg", "avg"),
]
