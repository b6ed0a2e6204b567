"""Retention (age-off) — per-metric TTLs.

Reference: MetricAgeOffIterator (server/.../store/MetricAgeOffIterator.java:26-217)
applies a default TTL plus per-metric-prefix overrides (longest-prefix
match via a PatriciaTrie) and *seeks* past dead key ranges at scan and
compaction time; MetaAgeOffIterator does the same for the catalog.

Spark split (SURVEY.md §4): age-off is two pieces —

1. ``ageoff_filter``  — the QUERY-TIME guard ``ts >= now - ttl(metric)``
   (the cache applies the same guard, DataStoreCache.java:747-750). A pure
   Column predicate; with the store partitioned by day it prunes whole
   partitions.
2. ``retention_delete_plan`` — the MAINTENANCE job: enumerate the
   partition directories wholly older than the TTL and drop them (the
   Parquet analogue of seek-skipping + TieredCompactionStrategy's
   drop-RFiles-wholesale, TieredCompactionStrategy.java:25-156).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ttl_for_metric(metric_col: Column | str, ttls: dict[str, int], default_ttl_ms: int) -> Column:
    """Longest-prefix TTL lookup as a CASE expression.

    ``ttls`` maps metric-name prefixes to TTL ms. Longest prefix wins
    (MetricAgeOffIterator.java:78-120's PatriciaTrie semantics); the CASE
    checks prefixes longest-first so the first hit is the longest match.
    """
    c = F.col(metric_col) if isinstance(metric_col, str) else metric_col
    # longest prefixes take precedence: build shortest-first so each longer
    # prefix wraps (and therefore shadows) the shorter ones
    result = F.lit(default_ttl_ms)
    for prefix in sorted(ttls, key=len):
        result = F.when(c.startswith(prefix), F.lit(ttls[prefix])).otherwise(result)
    return result


def ageoff_filter(
    df: DataFrame,
    now_ms,
    ttls: dict[str, int] | None = None,
    default_ttl_ms: int = 7 * 86_400_000,
    ts_col: str = "ts",
) -> DataFrame:
    """Query-time age-off guard: keep rows with ts >= now - ttl(metric).

    ``now_ms`` is an epoch-ms int (the query path pins the clock per
    request) or a Column (long-lived SQL views evaluate the clock at
    QUERY time, not registration time)."""
    from pyspark.sql import Column

    now = now_ms if isinstance(now_ms, Column) else F.lit(now_ms)
    ttl = ttl_for_metric("metric", ttls or {}, default_ttl_ms)
    return df.filter(F.col(ts_col) >= (now - ttl))


def retention_delete_plan(
    spark, store_path: str, now_ms: int, ttls: dict[str, int], default_ttl_ms: int
) -> list[str]:
    """Enumerate store partition directories (layout: metric=<m>/dt=<day>)
    that are wholly expired, listed through the Hadoop FS that owns
    ``store_path``. Returns the paths; the caller deletes them.
    Partition-drop is metadata-only — no row-level rewrite at 100 TB.
    """
    import os

    from ..fsutil import list_dirs

    doomed: list[str] = []
    for top in list_dirs(spark, store_path):
        key, _, value = top.partition("=")
        if key == "metric_bucket":
            # metric-bucketed layout: a bucket directory mixes metrics, so
            # it may only drop once past EVERY metric's TTL (conservative =
            # max over configured TTLs). The query-time ageoff_filter hides
            # shorter-TTL metrics in the meantime; per-metric reclamation
            # inside a bucket would be a row-level rewrite, deliberately
            # not done at rest (compaction can fold it in if storage
            # pressure demands).
            ttl = max([default_ttl_ms, *ttls.values()])
        elif key == "metric":
            prefix = max((p for p in ttls if value.startswith(p)), key=len, default=None)
            ttl = default_ttl_ms if prefix is None else ttls[prefix]
        else:
            continue
        cutoff_day = (now_ms - ttl) // 86_400_000
        for ddir in list_dirs(spark, os.path.join(store_path, top)):
            # whole day strictly older than the cutoff day
            if ddir.startswith("dt=") and int(ddir[3:]) < cutoff_day:
                doomed.append(os.path.join(store_path, top, ddir))
    return doomed
