"""Independent DuckDB answers for the benchmark's correctness checks.

The oracle never imports ``timely_spark``: it restates the OpenTSDB query
semantics over the generated points. A request's start is floored to the
downsample period; a point's bucket is ``ts - ts % period``; when the
downsample aggregator equals the cross-series aggregator one aggregation
runs over the raw points of each projected tag group, otherwise each
series (metric plus all its tags) is downsampled first and the buckets are
then combined across the group. Anonymous callers see unlabelled points
only.
"""

from __future__ import annotations

import math
import re

import duckdb
import pandas as pd

_UNIT_MS = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, "d": 86_400_000}
_SPEC = re.compile(r"^(\d+)(ms|s|m|h|d)-(\w+)$")
_PLAIN = re.compile(r"^\w+$")
_AGG = {"avg": "avg({})", "sum": "sum({})", "max": "max({})", "min": "min({})"}


class Oracle:
    def __init__(self, rows: dict[str, list]):
        self.con = duckdb.connect()
        self.con.register("pts_src", pd.DataFrame(rows))
        self.con.execute("CREATE TABLE pts AS SELECT * FROM pts_src")

    def expected(self, request: dict, auths: set[str]) -> dict:
        """{(metric, ((tag, value), ...)): {dps key: value}} for a non-rate
        request, keyed the way the response renders its series."""
        out: dict = {}
        for q in request["queries"]:
            if q.get("rate"):
                raise ValueError("the oracle covers non-rate queries only")
            n, unit, ds_agg = _SPEC.match(q["downsample"]).groups()
            period = int(n) * _UNIT_MS[unit]
            start = request["start"] - request["start"] % period
            where = ["metric = ?", "ts >= ?", "ts <= ?"]
            params: list = [q["metric"], start, request["end"]]
            if not auths:
                where.append("viz IS NULL")
            tags = q.get("tags") or {}
            for k, v in sorted(tags.items()):
                if v in ("*", ".*"):
                    where.append(f"{k} IS NOT NULL")
                elif _PLAIN.match(v):
                    where.append(f"{k} = ?")
                    params.append(v)
                else:
                    where.append(f"regexp_full_match({k}, ?)")
                    params.append(v)
            keys = sorted(tags)
            sel = "".join(f"{k}, " for k in keys)
            agg = _AGG[q["aggregator"]]
            cond = " AND ".join(where)
            if ds_agg == q["aggregator"]:
                sql = (
                    f"SELECT {sel}ts - ts % {period} AS b, {agg.format('value')} "
                    f"FROM pts WHERE {cond} GROUP BY ALL"
                )
            else:
                sql = (
                    f"WITH ds AS (SELECT host, rack, ts - ts % {period} AS b, "
                    f"{_AGG[ds_agg].format('value')} AS v FROM pts WHERE {cond} "
                    f"GROUP BY ALL) SELECT {sel}b, {agg.format('v')} FROM ds GROUP BY ALL"
                )
            for row in self.con.execute(sql, params).fetchall():
                key = (q["metric"], tuple(zip(keys, row[: len(keys)])))
                b, v = row[len(keys)], row[len(keys) + 1]
                out.setdefault(key, {})[str(b // 1000)] = v
        return out


def as_series(response: list[dict]) -> dict:
    """The response's series in the oracle's keying."""
    return {
        (s["metric"], tuple(sorted(s["tags"].items()))): s["dps"] for s in response
    }


def same(got: dict, want: dict) -> bool:
    if got.keys() != want.keys():
        return False
    for key, dps in want.items():
        g = got[key]
        if g.keys() != dps.keys():
            return False
        for t, v in dps.items():
            if not math.isclose(g[t], v, rel_tol=1e-9, abs_tol=1e-9):
                return False
    return True
