"""Compile a QueryRequest into a DataFrame plan over one of two inputs:
raw points (:func:`run_query`) or per-series rollup partials
(:func:`series_partials`, :func:`run_rollup_query`).

Pipeline per SubQuery, mirroring the reference's iterator stack order
(DataStore.java:711-745: TagFilter(100) -> Rate(499) -> Downsample(500)
-> Aggregation(501), then the coordinator merge at :748-779):

    scan -> time-range + metric + tag + visibility filters
         -> [rate]
         -> downsample (per-series buckets)
         -> cross-series combine on the projected tag keys

All filters are plain Column predicates so Catalyst pushes them into the
Parquet scan (the analogue of the reference's hour-range planning
DataStore.getQueryRanges:997-1039 + column-family fetch :936-947 — with a
time/metric-partitioned store these become partition pruning for free).

Semantics notes:
- Tag values that are not ``^\\w+$`` are regexes (DataStore.java:860-862),
  compiled to ``rlike`` anchored on both ends, matching Java
  ``Matcher.matches()``.
- When the cross-series aggregator equals the downsample aggregator (or
  there is no downsample), the two groupBys collapse into ONE aggregation
  over the projected tags — this reproduces the reference's partial-merge
  semantics exactly (Aggregation.java:85-96 re-accumulates raw
  sums/counts, so e.g. avg is the weighted average over all points, and
  count counts points, not series) while saving a shuffle.
- ``start`` is floored to the downsample period before bucketing
  (DataStore.java:693-695).
- Over rollup partials the answer is the same, or ``ValueError`` when
  partials cannot give it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.time import query_aligned_bucket, time_bucket_ms
from ..functions.viz import viz_filter
from ..model import projected_tags, series_id
from ..operators.downsample import combine_series, downsample
from ..operators.rate import rate
from ..operators.rollup import (
    PARTIAL_AGGREGATORS,
    merge_partial_aggs,
    partial_aggs,
    partial_value,
)
from ..parse import DownsampleSpec, is_tag_regex
from .request import QueryRequest, SubQuery


def _decode_tsuid(t: str) -> str:
    """Wire tsuid -> series_id string. Hex-encoded UTF-8 (the comma-free GET
    form, encode_tsuid's output) decodes; anything non-hex is already a raw
    series_id string and passes through."""
    try:
        return bytes.fromhex(t).decode("utf-8")
    except ValueError:
        return t


def encode_tsuid(series: str) -> str:
    """series_id string -> wire tsuid (hex UTF-8), safe inside the GET
    ``?tsuid=agg:id,id`` comma list."""
    return series.encode("utf-8").hex()


def tag_value_matches(col: Column, v: str) -> Column:
    """Whether tag value ``col`` matches the queried value ``v``: a
    wildcard matches any value, a regex must match the whole value
    (Java ``Matcher.matches()``), anything else matches literally."""
    if v == "*" or v == ".*":
        return col.isNotNull()
    if is_tag_regex(v):
        return col.rlike(f"^(?:{v})$")
    return col == v


def _tag_predicates(df: DataFrame, tags: dict[str, str]) -> DataFrame:
    for k, v in tags.items():
        # prefer a promoted tag_<k> column (sources/store.with_promoted_tags):
        # a plain string column's predicate reaches PushedFilters + row-group
        # stats, which a tags-map access never can
        pc = f"tag_{k}"
        col = F.col(pc) if pc in df.columns else F.col("tags").getItem(k)
        df = df.filter(tag_value_matches(col, v))
    return df


def _floor_start(start_ms: int, spec: DownsampleSpec | None) -> int:
    """Floor the query start to the bucket period (DataStore.java:693-695)."""
    return start_ms - start_ms % spec.period_ms if spec else start_ms


def catalog_has_tags(meta: DataFrame, q: SubQuery) -> bool:
    """True iff the meta catalog holds a series matching the SubQuery's
    metric + tag predicates. The reference's "No matching tags" check
    consults the META table, not the query result (DataStore.java:
    938-941): a matching-tags query over an empty time window is a
    valid 200/empty response, never a 400."""
    if q.tsuids:
        return True  # tsuid SubQueries name series directly, no tag check
    base = meta.filter(F.col("metric") == q.metric)
    if not base.limit(1).take(1):
        return False  # unknown metric
    for k, v in {**q.tags, **q.filters}.items():
        m = base.filter(F.col("tag_key") == k).filter(
            tag_value_matches(F.col("tag_value"), v)
        )
        if not m.limit(1).take(1):
            return False
    return True


def build_subquery(
    points: DataFrame,
    q: SubQuery,
    start_ms: int,
    end_ms: int,
    auths: set[str] | None = None,
    viz_exprs: list[str] | None = None,
    bucket_metrics: int | None = None,
) -> DataFrame:
    """Returns (metric, tags, bucket_ts, value) for one SubQuery.

    ``bucket_metrics``: the store's metric-bucket modulus (layout
    sidecar, sources/store.read_layout) — lets the metric predicate
    reconstruct its directory bucket so partition pruning survives the
    bucketed layout a >100k-metric deployment needs."""
    spec = q.downsample_spec()
    start_ms = _floor_start(start_ms, spec)

    if q.tsuids:
        # tsuid SubQuery (GET ?tsuid=agg:id,.. — QueryRequest.java:615-627):
        # a tsuid here IS the canonical series_id (metric + sorted k=v tag
        # pairs, model.series_id), hex-encoded on the wire so the GET
        # comma-separated list stays unambiguous (the reference's tsuids are
        # likewise hex UID strings). Raw series-id strings are accepted too
        # (JSON path). Selects the listed series directly; the metric
        # predicate is skipped (metric is "" on these SubQueries).
        ids = [_decode_tsuid(t) for t in q.tsuids]
        if "series_key" in points.columns:
            # series-bucketed store: the materialized key is a plain string
            # column, so the IN-list reaches PushedFilters and the
            # (series_key, ts)-sorted row groups prune
            df = points.filter(F.col("series_key").isin(ids))
        else:
            df = points.filter(series_id().isin(ids))
    else:
        df = points.filter(F.col("metric") == q.metric)
        if bucket_metrics and "metric_bucket" in df.columns:
            # directory pruning under the bucketed layout: the bucket id
            # is a pure function of the metric literal, so this predicate
            # folds to a constant and lands in PartitionFilters
            df = df.filter(
                F.col("metric_bucket")
                == F.pmod(F.xxhash64(F.lit(q.metric)), F.lit(bucket_metrics))
            )
    if "metric_bucket" in df.columns:
        df = df.drop("metric_bucket")
    df = df.filter((F.col("ts") >= start_ms) & (F.col("ts") <= end_ms))
    if "dt" in df.columns:
        # partition pruning: dt = ts div 1d is a store partition column
        # (sources/store.py), so this predicate prunes whole directories —
        # the F1 hour-range-scan analogue (DataStore.java:997-1039)
        day_ms = 86_400_000
        df = df.filter(
            (F.col("dt") >= start_ms // day_ms) & (F.col("dt") <= end_ms // day_ms)
        ).drop("dt")
    df = _tag_predicates(df, q.tags)
    # non-grouping filters (Filter.groupBy=false): predicate only — the
    # tag key does NOT enter the projected tag set / series identity
    df = _tag_predicates(df, q.filters)
    promoted = [c for c in df.columns if c.startswith("tag_")]
    if promoted:  # layout columns: filtered on above, never projected
        df = df.drop(*promoted)
    if auths is not None:
        # ALWAYS before any aggregation; viz_exprs (from the meta catalog)
        # saves the per-query distinct-viz scan
        df = viz_filter(df, auths, known_exprs=viz_exprs)

    if q.rate:
        opts = q.rate_options
        if spec and opts.interval_ms is None:
            # DataStore.java:713-721: rate interval defaults to the
            # downsample period when one is set
            from dataclasses import replace

            opts = replace(opts, interval_ms=spec.period_ms)
        # series-bucketed store: window on the materialized series_key —
        # the bucketed scan's HashPartitioning already satisfies the
        # window distribution, so the rate stage adds NO Exchange
        df = rate(
            df,
            opts,
            series_col="series_key" if "series_key" in df.columns else None,
        )

    group_keys = sorted(q.tags.keys())

    if q.aggregator == "none":
        # 'none' disables downsampling AND cross-series combine
        # (Aggregator.java:40-59): raw points, tags projected
        return df.select(
            "metric",
            projected_tags(group_keys).alias("tags"),
            F.col("ts").alias("bucket_ts"),
            "value",
        )

    if spec is None or spec.aggregator in ("none", q.aggregator):
        # single-shuffle path: one aggregation over (projected tags, bucket)
        if spec is None or spec.aggregator == "none":
            bucket = F.col("ts")
        else:
            bucket = query_aligned_bucket("ts", start_ms, spec.period_ms)
        return combine_series(
            df.withColumn("bucket_ts", bucket), group_keys, q.aggregator
        )

    # two-stage path: downsample agg differs from the cross-series agg.
    # Over a series-bucketed store the per-series stage groups on the
    # materialized series_key — HashPartitioning(series_key) satisfies the
    # grouping distribution, so only the cross-series combine shuffles.
    ds = downsample(
        df,
        spec,
        start_ms=start_ms,
        series_col="series_key" if "series_key" in df.columns else None,
    )
    return combine_series(ds, group_keys, q.aggregator)


def run_query(
    points: DataFrame,
    request: QueryRequest,
    auths: set[str] | None = None,
    viz_exprs: list[str] | None = None,
    bucket_metrics: int | None = None,
) -> list[DataFrame]:
    """One result DataFrame per SubQuery (concatenated by the API layer,
    QueryRequest.java:370-372 / DataStore.java:645)."""
    return [
        build_subquery(
            points,
            q,
            request.start,
            request.end,
            auths=auths,
            viz_exprs=viz_exprs,
            bucket_metrics=bucket_metrics,
        )
        for q in request.queries
    ]


def series_partials(points: DataFrame, level_ms: int) -> DataFrame:
    """Classic partials per series at ``level_ms``: (metric, __series,
    bucket_ts, tags, n, vsum, vmin, vmax) — the input of
    :func:`run_rollup_query`."""
    return (
        points.withColumn("__series", series_id())
        .groupBy("metric", "__series", time_bucket_ms("ts", level_ms))
        .agg(F.first("tags").alias("tags"), *partial_aggs())
    )


def build_rollup_subquery(
    partials: DataFrame,
    q: SubQuery,
    start_ms: int,
    end_ms: int,
    level_ms: int,
) -> DataFrame:
    """:func:`build_subquery`'s answer, merged from
    :func:`series_partials` at ``level_ms``."""
    spec = q.downsample_spec()
    if (
        q.rate
        or q.tsuids
        or spec is None
        or spec.period_ms % level_ms != 0
        or spec.aggregator not in PARTIAL_AGGREGATORS
        or q.aggregator not in PARTIAL_AGGREGATORS
    ):
        raise ValueError(
            f"SubQuery not rollup-eligible (metric={q.metric!r}); use query()"
        )
    if (end_ms + 1) % level_ms != 0:
        # partials cannot cut inside a level bucket: an unaligned end
        # would silently include points past it (the raw path filters
        # ts <= end exactly)
        raise ValueError(
            f"SubQuery not rollup-eligible: end={end_ms} does not "
            f"align to the level boundary (end = k*{level_ms} - 1); "
            "use query()"
        )
    start_ms = _floor_start(start_ms, spec)
    df = partials.filter(F.col("metric") == q.metric).filter(
        (F.col("bucket_ts") >= start_ms) & (F.col("bucket_ts") <= end_ms)
    )
    df = _tag_predicates(df, q.tags)
    df = _tag_predicates(df, q.filters)
    df = df.withColumn(
        "bucket_ts", query_aligned_bucket("bucket_ts", start_ms, spec.period_ms)
    )
    group_keys = sorted(q.tags.keys())
    if spec.aggregator == q.aggregator:
        # the single-aggregation collapse: partials merge over ALL series
        # of a (projected tags, bucket), so avg is the weighted average
        # and count counts points, exactly as on raw points
        df = df.withColumn("tags", projected_tags(group_keys)).withColumn(
            "__series", series_id()
        )
    ds = df.groupBy("__series", "bucket_ts").agg(
        F.first("metric").alias("metric"),
        F.first("tags").alias("tags"),
        *merge_partial_aggs(),
    ).select(
        "metric", "tags", "bucket_ts", partial_value(spec.aggregator).alias("value")
    )
    if spec.aggregator == q.aggregator:
        return ds
    return combine_series(ds, group_keys, q.aggregator)


def run_rollup_query(
    partials: DataFrame, request: QueryRequest, level_ms: int
) -> list[DataFrame]:
    """:func:`run_query` over :func:`series_partials` at ``level_ms``."""
    return [
        build_rollup_subquery(partials, q, request.start, request.end, level_ms)
        for q in request.queries
    ]
