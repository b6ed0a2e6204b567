"""WebSocket-style subscriptions as named Structured Streaming queries.

Reference protocol (SURVEY.md §2.9): ``create``/``add``/``remove``/
``close`` ops on a WS session; each ``add`` starts a tail-follow scan of
one metric (server/.../subscription/MetricScanner.java:106-268) that
re-scans ``(lastSeen, now - lag]`` forever — lag (120 s default) being the
hand-rolled watermark (WebsocketProperties.java:20-24). Batches flush at
1000 responses or 30 s.

Spark mapping: ``add`` = start a readStream on the store filtered to the
metric/tags with ``withWatermark(ts, lag)``; flush pacing = trigger
interval; ``remove``/``close`` = stop the named query. Backfill-then-tail
is native (file sources replay existing data before following new files).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.viz import viz_filter
from ..model import METRIC_SCHEMA


@dataclass
class Subscription:
    subscription_id: str
    queries: dict[str, object] = field(default_factory=dict)  # metric -> StreamingQuery


class SubscriptionManager:
    """create/add/remove/close lifecycle over Structured Streaming."""

    def __init__(
        self,
        spark: SparkSession,
        store_path: str,
        lag_seconds: int = 120,
        flush_seconds: int = 30,
        sink: str | Callable[[str, str], Callable[[DataFrame, int], None]] = "files",
        out_root: str | None = None,
        on_complete: Callable[[str, str], None] | None = None,
    ):
        """``sink``: ``"files"`` (default) writes each flush as JSON-lines
        into a per-(subscription, metric) spool directory — a fully
        distributed write the WS server tails and frames, never a driver
        collect. ``"buffer"`` collects into ``self.buffers`` (tests /
        small demos only — driver-bounded by construction). A callable is
        a custom factory ``(sub_id, metric) -> foreachBatch sink`` (e.g. a
        real socket push)."""
        self.spark = spark
        self.store_path = store_path
        self.lag_seconds = lag_seconds
        self.flush_seconds = flush_seconds
        self._subs: dict[str, Subscription] = {}
        self.buffers: dict[tuple[str, str], list] = {}
        self.out_root = out_root or store_path.rstrip("/") + "__subs_out"
        if callable(sink):
            self._sink_factory, self._kind = sink, "custom"
        elif sink == "buffer":
            self._sink_factory, self._kind = self._buffer_sink, "buffer"
        else:
            self._sink_factory, self._kind = self._file_sink, "files"
        self._completed: set[tuple[str, str]] = set()
        # transport hook: the WS facade turns this into the
        # sendCompletedResponse frame (MetricScanner.java:270-281)
        self._on_complete = on_complete

    def _buffer_sink(self, sub_id: str, metric: str):
        buf = self.buffers.setdefault((sub_id, metric), [])

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            # the reference caps batches at 1000 responses per flush
            # (MetricScanner.java:186-199); trigger pacing covers the 30 s leg
            buf.extend(batch_df.limit(100_000).collect())

        return sink

    # ------------------------------------------------------- default sink

    def results_path(self, sub_id: str, metric: str) -> str:
        return f"{self.out_root}/{sub_id}/{metric}"

    def _file_sink(self, sub_id: str, metric: str):
        """Spool each flush as JSON lines (executor-side write, the
        response-batch analogue of MetricScanner's 1000-response flushes).
        The WS layer tails the spool and frames lines to the client, so
        result volume never passes through the driver."""
        out = self.results_path(sub_id, metric)

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("append").json(out)

        return sink

    def read_results(self, sub_id: str, metric: str) -> DataFrame:
        """The spooled responses for one (subscription, metric)."""
        return self.spark.read.json(self.results_path(sub_id, metric))

    def create(self, subscription_id: str) -> Subscription:
        sub = Subscription(subscription_id)
        self._subs[subscription_id] = sub
        return sub

    def add(
        self,
        subscription_id: str,
        metric: str,
        tags: dict[str, str] | None = None,
        start_time_ms: int = 0,
        end_time_ms: int = 0,
        viz_auths: set[str] | None = None,
        viz_exprs: set[str] | None = None,
        delay_seconds: float | None = None,
    ):
        """Start the tail-follow stream for one metric (AddSubscription.java:8-55).

        ``viz_auths``: the subscribing session's authorization set — the
        reference scans subscriptions under the session's Accumulo auths,
        so visibility filters inside the scan (MetricScanner scans with
        the subscription's auths; ConfigurableVisibilityFilter.java).
        None (no auth layer) leaves the stream unfiltered; a set filters
        fail-closed. ``viz_exprs``: the store's distinct viz expressions
        (TimelyEngine's catalog) so the filter stays a JVM predicate."""
        sub = self._subs[subscription_id]
        stream = (
            self.spark.readStream.schema(self._store_schema())
            .option("maxFilesPerTrigger", 64)  # scanner-batch pacing analogue
            .parquet(self.store_path)
        )
        df = stream.filter(F.col("metric") == metric)
        if start_time_ms:
            df = df.filter(F.col("ts") >= start_time_ms)
        if end_time_ms:
            df = df.filter(F.col("ts") <= end_time_ms)
        for k, v in (tags or {}).items():
            df = df.filter(F.col("tags").getItem(k) == v)
        if viz_auths is not None:
            df = viz_filter(
                df,
                set(viz_auths),
                known_exprs=None if viz_exprs is None else sorted(viz_exprs),
            )
        # watermark = the reference's lag: exclude/settle the most recent
        # window so late arrivals aren't missed
        df = df.withColumn("event_time", F.timestamp_millis(F.col("ts"))).withWatermark(
            "event_time", f"{self.lag_seconds} seconds"
        )
        writer = (
            df.drop("event_time")
            .writeStream.foreachBatch(self._sink_factory(subscription_id, metric))
            .option(
                "checkpointLocation",
                f"{self.store_path}__subs/{subscription_id}/{metric}",
            )
            .queryName(f"sub-{subscription_id}-{metric}")
        )
        if end_time_ms:
            # finite range: a bounded stream — drain everything available,
            # then terminate and send the end-of-range marker, matching the
            # scanner's exhausted->sendCompletedResponse (MetricScanner.java:254-281)
            writer = writer.trigger(availableNow=True)
        else:
            # delay_seconds: the subscriber's requested scan pacing
            # (AddSubscription.delayTime, the MetricScanner sleep between
            # tail scans); defaults to the server flush interval
            pace = delay_seconds if delay_seconds else self.flush_seconds
            writer = writer.trigger(processingTime=f"{pace} seconds")
        q = writer.start()
        sub.queries[metric] = q
        if end_time_ms:
            import threading

            def _watch() -> None:
                try:
                    q.awaitTermination()
                finally:
                    self._send_complete(subscription_id, metric)

            threading.Thread(target=_watch, daemon=True).start()
        return q

    def _send_complete(self, subscription_id: str, metric: str) -> None:
        """complete:true response, once per scanner
        (MetricScanner.java:270-281 sendCompletedResponse)."""
        key = (subscription_id, metric)
        if key in self._completed:
            return
        self._completed.add(key)
        marker = {"metric": metric, "subscriptionId": subscription_id, "complete": True}
        self.buffers.setdefault(key, []).append(marker)
        if self._kind == "files":
            import json
            import os

            out = self.results_path(subscription_id, metric)
            os.makedirs(out, exist_ok=True)
            with open(os.path.join(out, "complete.marker.json"), "w") as f:
                json.dump(marker, f)
        if self._on_complete is not None:
            self._on_complete(subscription_id, metric)

    def _store_schema(self):
        from ..fsutil import path_exists

        if path_exists(self.spark, self.store_path):
            try:
                return self.spark.read.parquet(self.store_path).schema
            except Exception:
                pass
        return METRIC_SCHEMA

    def remove(self, subscription_id: str, metric: str) -> None:
        q = self._subs[subscription_id].queries.pop(metric, None)
        if q is not None:
            q.stop()
            # the scanner's close() also sends the completed response
            # (MetricScanner.java:283-291)
            self._send_complete(subscription_id, metric)

    def close(self, subscription_id: str) -> None:
        sub = self._subs.pop(subscription_id, None)
        if sub:
            for metric, q in sub.queries.items():
                q.stop()
                self._send_complete(subscription_id, metric)
