"""Histogram summarization — the Flink analytics job, Spark-native.

Reference: analytics/src/main/java/timely/analytics/flink/SummarizationJob.java:40-105
keyed tumbling event-time windows per (metric, tags) emitting
``<metric>_summarized`` points carrying count/min/max/sum/avg/p50/p75/
p90/p99 (MetricHistogram.java:64-167) back into the store.

Spark: one windowed aggregation. Batch and streaming share the same
expression list; the streaming variant adds a watermark (the lag analogue,
WebsocketProperties.java:20 => 120 s default) and writes back through the
store sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.time import time_bucket_ms
from ..model import series_id

SUMMARY_PERCENTILES = [0.5, 0.75, 0.9, 0.99]  # MetricHistogram.java:123-167


def _summary_aggs(exact: bool = True):
    if exact:
        # the reference's OWN percentile rule, not linear interpolation
        # (MetricHistogram.getPercentile:85-92): nearest-rank into the
        # sorted values — index max(round(p*n), 1), 1-based. Java
        # Math.round == Spark HALF_UP round for positive args. The sorted
        # per-group list is bounded by one series' points per window
        # (the summarization bucket), so collect_list here is the same
        # state the reference's window accumulator holds. Sort ONCE and
        # index the named result: the aggregate's result projection is
        # not codegen'd, so repeating array_sort(collect_list(...)) per
        # percentile would re-sort the list up to 8x per group.
        pct = F.array_sort(F.collect_list("value")).alias("__pv")
    else:
        # the 100 TB path: bounded-sketch approximation, documented
        # divergence from the nearest-rank rule (both converge as n grows)
        pct = F.percentile_approx(
            "value", F.array(*[F.lit(p) for p in SUMMARY_PERCENTILES]), 10_000
        ).alias("pcts")
    return [
        F.count("value").alias("n"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.sum("value").alias("sum_value"),
        F.avg("value").alias("avg_value"),
        pct,
    ]


def _pct_cols(exact: bool):
    """The four percentile columns for the POST-agg select: the exact
    path indexes the once-sorted ``__pv`` list per percentile (indexing
    N times is cheap; sorting inside the agg result projection N times
    is not), the approx path unpacks the sketch's array."""
    if not exact:
        return [
            F.col("pcts")[i].alias(n)
            for i, n in enumerate(["p50", "p75", "p90", "p99"])
        ]
    n = F.size(F.col("__pv"))
    return [
        F.element_at(
            F.col("__pv"),
            F.greatest(F.round(n * F.lit(p)).cast("int"), F.lit(1)),
        ).alias(name)
        for p, name in zip(SUMMARY_PERCENTILES, ["p50", "p75", "p90", "p99"])
    ]


def summarize_batch(points: DataFrame, window_ms: int, exact: bool = True) -> DataFrame:
    """Batch summarization: one row per (metric, tags, window start).

    ``exact=True`` uses the exact percentile aggregate (fine to a few
    hundred M points/bucket); ``exact=False`` switches to
    ``percentile_approx`` — the 100 TB path where buckets are huge.
    """
    bucket = time_bucket_ms("ts", window_ms)
    out = (
        points.withColumn("bucket_ts", bucket)
        .withColumn("__series", series_id())
        .groupBy("metric", "__series", "bucket_ts")
        .agg(F.first("tags").alias("tags"), *_summary_aggs(exact))
    )
    return out.select(
        F.concat("metric", F.lit("_summarized")).alias("metric"),
        "tags",
        "bucket_ts",
        "n",
        "min_value",
        "max_value",
        "sum_value",
        "avg_value",
        *_pct_cols(exact),
    )


def summarization_query(
    stream: DataFrame,
    window_seconds: int,
    checkpoint: str,
    out_path: str,
    watermark_seconds: int = 120,
    exact: bool = False,
    available_now: bool = False,
    processing_time: str | None = None,
    state_store: str = "auto",
    expected_keys: int | None = None,
):
    """Streaming variant: event-time tumbling window + watermark,
    append-mode Parquet sink (points flow back into the lake as
    ``*_summarized`` metrics like the Flink job's put-lines).

    Keyed per (metric, series) like the batch path and the reference's
    keyBy(metric, tags) (SummarizationJob.java:60-78), so the two
    variants emit identical rows for closed windows —
    tests/test_streaming.py asserts the hash-level parity.

    ``exact`` selects the exact percentile aggregate (parity/testing);
    the default approx path is the 100 TB choice. ``available_now``
    drains a bounded backlog in one run then terminates (the batch-mode
    execution of the same streaming plan).

    ``state_store`` / ``expected_keys``: state-store provider knob
    (streaming/state.py) — 'auto' flips to RocksDB past the MEASURED
    ~1M-open-keys-per-GiB heap ceiling; pass the expected open-window
    key count ((metric, series) x in-flight windows) when known.
    """
    wm = stream.withColumn(
        "event_time", F.timestamp_millis(F.col("ts"))
    ).withWatermark("event_time", f"{watermark_seconds} seconds")
    agg = (
        wm.withColumn("__series", series_id())
        .groupBy(
            F.col("metric"),
            F.col("__series"),
            F.window("event_time", f"{window_seconds} seconds").alias("w"),
        )
        .agg(F.first("tags").alias("tags"), *_summary_aggs(exact))
        .select(
            F.concat("metric", F.lit("_summarized")).alias("metric"),
            "tags",
            F.unix_millis(F.col("w.start")).alias("bucket_ts"),
            "n",
            "min_value",
            "max_value",
            "sum_value",
            "avg_value",
            *_pct_cols(exact),
        )
    )
    writer = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        # the forever-loop mode (MetricScanner.run() is a loop, not a
        # drain): fire on a wall-clock cadence and keep running as new
        # files land — the soak test's mode (tests/test_streaming_soak)
        writer = writer.trigger(processingTime=processing_time)
    from .state import provider_for_start

    with provider_for_start(stream.sparkSession, state_store, expected_keys):
        return writer.start()


# sample-tag vocabulary of the reference's put-line serializer
# (MetricHistogram.java:17-25: " sample=min\n", " sample=50p\n", ...)
SAMPLE_TAG = {
    "min_value": "min",
    "max_value": "max",
    "n": "count",
    "sum_value": "sum",
    "avg_value": "avg",
    "p50": "50p",
    "p75": "75p",
    "p90": "90p",
    "p99": "99p",
}


def summary_to_points(summary: DataFrame) -> DataFrame:
    """Unpivot a summary row into the reference's write-back point shape:
    one point per stat, metric ``X_summarized``, tag ``sample=<stat>``
    appended to the series tags (MetricHistogram.serialize:123-167).
    Feeding this to the store closes the Flink job's loop — summarized
    series are queryable through the same API as raw ones."""
    pairs = F.array(
        *[
            F.struct(F.lit(s).alias("s"), F.col(c).cast("double").alias("v"))
            for c, s in SAMPLE_TAG.items()
        ]
    )
    has_tags = "tags" in summary.columns
    base_tags = (
        F.col("tags") if has_tags else F.create_map().cast("map<string,string>")
    )
    ex = summary.select(
        "metric",
        F.col("bucket_ts").alias("ts"),
        base_tags.alias("__base"),
        F.explode(pairs).alias("e"),
    )
    return ex.select(
        "metric",
        "ts",
        F.col("e.v").alias("value"),
        F.map_concat("__base", F.create_map(F.lit("sample"), F.col("e.s"))).alias("tags"),
        F.lit(None).cast("string").alias("viz"),
    )
