"""Micro-batch incremental load (M2) — Structured Streaming around SCD2.

The reference's scheduler is a polling loop: ``schedule.every(8).minutes``
re-runs the whole pipeline, re-reading the full source folder every cycle
(reference project/etl2.py:462-467). The engine expresses the same
contract as a Structured Streaming file source feeding ``foreachBatch``:

- **file source** discovers only NEW files per trigger (checkpointed) —
  the reference re-reads everything, every cycle;
- each micro-batch is a full source *snapshot*, merged with the SCD2
  operator (operators/scd2.py) inside ``foreachBatch`` — exactly-once via
  the checkpoint + deterministic batch semantics;
- ``Trigger.AvailableNow`` = drain-everything-then-stop (one driver
  invocation per cycle, cron-style); ``processingTime='8 minutes'`` =
  resident-driver clone of the reference's cadence.

No watermarks/event-time windows are needed for reference parity (the
reference processes full snapshots); ``run_windowed_agg_stream`` below is
the event-time extension for stream-shaped tables (events).
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from _data_engineering_pipeline_project_spark.operators.scd2 import Scd2Table
from _data_engineering_pipeline_project_spark.streaming.versioned import (
    drain_available_now,
)


class IncrementalLoader:
    """Streaming wrapper: watch a directory of snapshot files, SCD2-merge
    each micro-batch into a parquet-backed table.

    Each arriving file is a full snapshot of the source table (the
    reference's model: the CSV folder IS the current state). Batches are
    merged in arrival order; ``batch_ts`` derives from the micro-batch id
    so replays are deterministic.
    """

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        schema: T.StructType,
        table_dir: str,
        pk: list[str],
        source_format: str = "parquet",
    ):
        self.spark = spark
        self.source_dir = source_dir
        self.schema = schema
        self.table = Scd2Table(spark, table_dir, pk)
        self.source_format = source_format
        self.batches_seen: list[int] = []

    def _merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # deterministic, monotone batch timestamp (replay-safe); wall-clock
        # would break exactly-once on retry
        batch_ts = datetime(2024, 1, 1) + batch_id * timedelta(minutes=8)
        self.table.merge(batch_df, batch_ts)
        self.batches_seen.append(batch_id)

    def run_available_now(self, checkpoint_dir: str) -> None:
        """Drain all pending files and stop — the cron-style trigger."""
        drain_available_now(
            self.spark,
            self.source_dir,
            self.schema,
            checkpoint_dir,
            self._merge_batch,
            self.source_format,
            maxFilesPerTrigger=1,  # one snapshot file per batch
        )

    def run_processing_time(
        self,
        checkpoint_dir: str,
        poll: str = "1 second",
        until_batches: int = 1,
        timeout_sec: float = 120.0,
    ) -> None:
        """The reference's wall-clock polling scheduler (reference
        project/etl2.py:462-467: ``schedule.every(8).minutes`` + a sleep
        loop) as a long-running ``processingTime`` trigger: the SAME
        query keeps polling the source directory on the wall clock and
        merges whatever arrived — files dropped while the query runs are
        picked up WITHOUT restarting it (AvailableNow, by contrast, is
        the drain-and-exit cron shape). Runs until ``until_batches``
        non-empty merges have committed (or ``timeout_sec``), then stops
        the query gracefully — the bounded-soak harness for tests; a
        production deployment simply never stops it."""
        import time

        reader = (
            self.spark.readStream.format(self.source_format)
            .schema(self.schema)
            .option("maxFilesPerTrigger", 1)
        )
        stream = reader.load(self.source_dir)
        q = (
            stream.writeStream.foreachBatch(self._merge_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=poll)
            .start()
        )
        try:
            deadline = time.time() + timeout_sec
            while time.time() < deadline and len(self.batches_seen) < until_batches:
                time.sleep(0.2)
        finally:
            q.stop()
            q.awaitTermination()

    def current(self) -> DataFrame | None:
        return self.table.current()

    def history(self) -> DataFrame:
        return self.table.history()


def run_stream_stream_join(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    schema: T.StructType,
    key: str = "user_id",
    ts_col: str = "ts",
    within: str = "30 minutes",
    watermark: str = "1 hour",
    query_name: str = "ss_join",
) -> DataFrame:
    """Stream-stream inner join with event-time constraint: left rows pair
    with right rows for the same key within ``within`` after the left
    event. Both sides carry watermarks so the state store can evict rows
    older than the join window — the unbounded-state failure mode of
    naive stream joins. AvailableNow drains both sources and stops."""
    left = (
        spark.readStream.format("parquet")
        .schema(schema)
        .load(left_dir)
        .withWatermark(ts_col, watermark)
        .select(
            F.col(key),
            F.col(ts_col).alias("l_ts"),
            F.col("event_id").alias("l_event_id"),
        )
    )
    right = (
        spark.readStream.format("parquet")
        .schema(schema)
        .load(right_dir)
        .withWatermark(ts_col, watermark)
        .select(
            F.col(key).alias(f"r_{key}"),
            F.col(ts_col).alias("r_ts"),
            F.col("event_id").alias("r_event_id"),
        )
    )
    joined = left.join(
        right,
        (F.col(key) == F.col(f"r_{key}"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
        "inner",
    ).select(key, "l_event_id", "r_event_id", "l_ts", "r_ts")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}")


def run_windowed_agg_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    query_name: str = "windowed_agg",
) -> DataFrame:
    """Event-time tumbling-window aggregation with late-data handling —
    the streaming twin of the batch ``events_hourly_agg`` query. Late rows
    beyond the watermark are dropped; results land in an in-memory sink
    (swap for parquet/kafka in production)."""
    stream = spark.readStream.format("parquet").schema(schema).load(source_dir)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("event_type"),
            F.col("n_events"),
            F.col("total_value"),
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}")


def run_session_window_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    query_name: str = "session_agg",
) -> DataFrame:
    """Event-time session windows (gap-merged, state-store backed) — the
    streaming twin of the batch ``session_window_events`` query. State per
    (user, open session) is bounded by the watermark: sessions whose end
    is older than the watermark are finalized and evicted."""
    stream = spark.readStream.format("parquet").schema(schema).load(source_dir)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.col("user_id"),
            F.session_window(F.col(ts_col), gap).alias("sw"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}")


def run_streaming_dedup(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
    query_name: str = "stream_dedup",
) -> DataFrame:
    """Streaming exact dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps the first-seen row per key and
    evicts key state once the watermark passes — unlike plain
    ``dropDuplicates`` on a stream, whose state grows forever. The batch
    twin is keep_first (A3/A4)."""
    stream = spark.readStream.format("parquet").schema(schema).load(source_dir)
    dedup = stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )
    q = (
        dedup.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}")


def run_stream_static_enrichment(
    spark: SparkSession,
    stream_dir: str,
    stream_schema: T.StructType,
    dim: DataFrame,
    key: str = "user_id",
    query_name: str = "enriched",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against a
    static dimension (broadcast — no state store involved, unlike
    stream-stream joins). The canonical shape for attaching slowly-
    changing reference data (user profiles, product catalogs) to a fact
    stream. Left join keeps facts whose key has no dimension row yet
    (late-arriving dims must not drop facts).

    NOTE (file-index caching): for a file-backed ``dim``, Spark captures
    the FILE LISTING in the DataFrame's InMemoryFileIndex at creation —
    per-batch re-evaluation re-reads file *contents*, but files
    added/removed under the path after creation are invisible (or raise
    FileNotFoundException if overwritten in place). To pick up dimension
    swaps across triggers, use ``run_stream_refreshed_enrichment``,
    which re-creates the dim frame inside foreachBatch."""
    stream = (
        spark.readStream.format("parquet").schema(stream_schema).load(stream_dir)
    )
    enriched = stream.join(F.broadcast(dim), on=key, how="left")
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def run_stream_refreshed_enrichment(
    spark: SparkSession,
    stream_dir: str,
    stream_schema: T.StructType,
    dim_path: str,
    out_dir: str,
    checkpoint_dir: str,
    key: str = "user_id",
) -> DataFrame:
    """Stream-static enrichment that REFRESHES the dimension every
    micro-batch: the dim DataFrame is re-created from ``dim_path`` inside
    ``foreachBatch``, so each trigger gets a fresh file listing and
    dimension swaps between triggers are picked up without restarting
    the query (the InMemoryFileIndex staleness the fixed-plan variant
    documents). foreachBatch is at-least-once, so each batch writes to its
    own ``out_dir/batch-<id>`` subdir with mode=overwrite — a retried
    micro-batch clobbers its own previous (possibly partial) output
    instead of double-appending, which together with the checkpoint's
    exactly-once file discovery makes the END-TO-END output exactly-once
    (ADVICE r2). This is the cron-style "one invocation per cycle"
    deployment shape. Returns the accumulated output (empty frame with
    the enriched schema if no batch ever fired)."""
    import os

    def _enrich(batch_df: DataFrame, batch_id: int) -> None:
        dim = spark.read.parquet(dim_path)  # fresh listing per batch
        (
            batch_df.join(F.broadcast(dim), on=key, how="left")
            .write.mode("overwrite")  # idempotent per-batch commit
            .parquet(os.path.join(out_dir, f"batch-{batch_id:09d}"))
        )

    stream = (
        spark.readStream.format("parquet").schema(stream_schema).load(stream_dir)
    )
    q = (
        stream.writeStream.foreachBatch(_enrich)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wrote_any = os.path.isdir(out_dir) and any(
        name.startswith("batch-") for name in os.listdir(out_dir)
    )
    if not wrote_any:
        dim = spark.read.parquet(dim_path)
        empty = spark.createDataFrame([], stream_schema)
        return empty.join(F.broadcast(dim), on=key, how="left").limit(0)
    return (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(out_dir)
    )


class BatchMetricsListener:
    """Streaming observability: collects per-micro-batch progress
    (rows, processing time, sink description) from Spark's
    StreamingQueryListener bus — the streaming twin of the batch
    Observation metrics (pipeline.observed_load). At scale this is what
    feeds lag/throughput dashboards and backpressure alerts; locally the
    test asserts the engine actually surfaces per-batch row counts.

    Use: ``with BatchMetricsListener.attach(spark) as m: ...run query...``
    then read ``m.progress`` (list of dicts)."""

    def __init__(self, spark: SparkSession):
        from pyspark.sql.streaming import StreamingQueryListener

        self.progress: list[dict] = []
        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                outer.progress.append(
                    {
                        "batch_id": p.batchId,
                        "num_input_rows": p.numInputRows,
                        "duration_ms": p.durationMs.get("triggerExecution"),
                        "sink": p.sink.description,
                    }
                )

            def onQueryTerminated(self, event):
                pass

            def onQueryIdle(self, event):
                pass

        self._listener = _L()
        self._spark = spark

    @classmethod
    def attach(cls, spark: SparkSession) -> "BatchMetricsListener":
        m = cls(spark)
        spark.streams.addListener(m._listener)
        return m

    def detach(self) -> None:
        self._spark.streams.removeListener(self._listener)

    def __enter__(self) -> "BatchMetricsListener":
        return self

    def __exit__(self, *exc) -> None:
        self.detach()


def run_chained_window_rollup(
    spark: SparkSession,
    source_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    small: str = "5 minutes",
    big: str = "1 hour",
    ts_col: str = "ts",
) -> None:
    """TWO chained event-time stateful aggregations in ONE streaming
    query (Spark 3.4+ multiple-stateful-operator support): fine-grained
    window counts roll up into coarse windows without leaving the
    stream — the two-tier aggregation a 100 TB metrics pipeline runs as
    one job instead of a stream + a batch compactor.

    The second aggregation windows over ``window_time(w)`` (the
    event-time column of the FIRST aggregation's result) — chaining
    requires append-mode semantics, so a coarse window only emits once
    the watermark passes its end: with a bounded drain
    (``Trigger.AvailableNow``), the trailing window stays unemitted
    exactly as it would in production (it is not yet final)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    fine = (
        stream.withWatermark(ts_col, "0 seconds")
        .groupBy(F.window(F.col(ts_col), small).alias("w5"), "event_type")
        .agg(F.count(F.lit(1)).alias("n5"))
    )
    coarse = (
        fine.groupBy(
            F.window(F.window_time("w5"), big).alias("wh"), "event_type"
        )
        .agg(F.sum("n5").alias("n"), F.count(F.lit(1)).alias("n_subwindows"))
        .select(
            F.col("wh.start").alias("hour_start"),
            "event_type",
            "n",
            "n_subwindows",
        )
    )
    q = (
        coarse.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def emit_watermark_heartbeat(
    spark: SparkSession,
    heartbeat_dir: str,
    ts,
    schema,
    ts_col: str = "ts",
    key_col: str = "user_id",
    sentinel_key=-(2**31),
) -> None:
    """Append one heartbeat row (``ts_col`` = ts, ``key_col`` = a
    sentinel outside the real key domain, all else NULL) to a heartbeat
    directory consumed by an idle-timeout-wrapped stream.

    The operational half of idle-timeout watermarking: Spark's global
    watermark is the MIN across a stateful operator's inputs, so a
    stalled sparse side freezes outer-null emission for the whole join
    (docs/SCALE.md). A scheduler (cron / foreachBatch maintainer) calls
    this every idle-timeout period with ``wall_clock − max_allowed_skew``
    while the source is idle. Mirrors Flink's ``withIdleness``
    semantics composed from Spark primitives.

    Why a SENTINEL key and not NULL: the equi-join compiles an
    ``IsNotNull(key)`` pruning filter that Catalyst pushes below the
    EventTimeWatermark node all the way into the heartbeat parquet scan
    — a NULL-keyed heartbeat file is skipped entirely (its row-group
    stats say all-null) and never advances the watermark (measured, r4).
    A non-null key outside the live domain survives the pushdown,
    reaches the watermark node, matches nothing, and is dropped by the
    left-outer semantics."""
    empty = spark.createDataFrame([], schema)
    row = tuple(
        ts if f.name == ts_col else (sentinel_key if f.name == key_col else None)
        for f in empty.schema.fields
    )
    spark.createDataFrame([row], empty.schema).coalesce(1).write.mode(
        "append"
    ).parquet(heartbeat_dir)


def run_stream_stream_left_join(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    schema: T.StructType,
    key: str = "user_id",
    ts_col: str = "ts",
    within: str = "30 minutes",
    watermark: str = "1 hour",
    query_name: str = "ss_left_join",
    idle_heartbeat_dir: str | None = None,
) -> DataFrame:
    """Stream-stream LEFT OUTER join with event-time bounds: matched
    pairs emit like the inner join, and an UNMATCHED left row emits with
    right-side NULLs — but only once the watermark proves no matching
    right row can still arrive (left + join window + watermark delay all
    passed). That deferred-null emission is the semantic difference from
    the inner form, and the reason outer stream joins REQUIRE watermarks
    on both sides: without the eviction bound the state store could
    never declare a left row unmatched. A bounded drain therefore keeps
    trailing left rows (whose window is still open) in state, exactly as
    production would.

    ``idle_heartbeat_dir``: idle-timeout watermarking for a SPARSE right
    side. The global watermark is the min across inputs, so a right
    stream with no traffic freezes left-null emission indefinitely
    (docs/SCALE.md). When set, the right side is unioned with a
    heartbeat file stream (see ``emit_watermark_heartbeat``) BEFORE the
    single ``withWatermark`` — one watermark node sees the max event
    time across real rows and heartbeats, so the join keeps expiring
    left state while the real side is idle. Heartbeat rows carry a
    sentinel key outside the live domain (see
    ``emit_watermark_heartbeat`` for why NULL does not work) and
    unmatched right rows are dropped by the left-outer semantics, so
    the output is unaffected."""
    # one file per micro-batch: outer-null emission happens during a
    # LATER batch's state cleanup (after the watermark advanced), so a
    # single-batch drain would never declare any left row unmatched
    left = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(left_dir)
        .withWatermark(ts_col, watermark)
        .select(
            F.col(key),
            F.col(ts_col).alias("l_ts"),
            F.col("event_id").alias("l_event_id"),
        )
    )
    right = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(right_dir)
        .select(
            F.col(key).alias(f"r_{key}"),
            F.col(ts_col).alias("r_ts"),
            F.col("event_id").alias("r_event_id"),
        )
    )
    if idle_heartbeat_dir is not None:
        hb = (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", 1)
            .load(idle_heartbeat_dir)
            .select(
                F.col(key).alias(f"r_{key}"),
                F.col(ts_col).alias("r_ts"),
                F.col("event_id").alias("r_event_id"),
            )
        )
        # union BEFORE the watermark: two separately-watermarked inputs
        # would re-introduce the min-across-inputs freeze this exists
        # to break
        right = right.unionByName(hb)
    right = right.withWatermark("r_ts", watermark)
    joined = left.join(
        right,
        (F.col(key) == F.col(f"r_{key}"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
        "leftOuter",
    ).select(key, "l_event_id", "r_event_id", "l_ts", "r_ts")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}")


def run_stream_stream_full_outer_join(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    schema: T.StructType,
    key: str = "user_id",
    ts_col: str = "ts",
    within: str = "30 minutes",
    watermark: str = "1 hour",
    query_name: str = "ss_full_join",
    left_heartbeat_dir: str | None = None,
    right_heartbeat_dir: str | None = None,
    sentinel_key=-(2**31),
) -> DataFrame:
    """Stream-stream FULL OUTER join with event-time bounds: matched
    pairs emit like the inner join; an unmatched row on EITHER side
    emits with other-side NULLs once the watermark proves no partner can
    still arrive. The global-MIN watermark freeze documented for the
    left join (docs/SCALE.md) afflicts BOTH directions here — a stalled
    left freezes right-null emission and vice versa — so the idle
    heartbeat wrapper accepts a heartbeat directory PER SIDE, each
    unioned with its real stream BEFORE that side's single
    ``withWatermark`` (VERDICT r4 #8; see ``emit_watermark_heartbeat``
    for the sentinel-key pushdown subtlety).

    Unlike the left join — where unmatched right rows vanish by
    definition — full-outer semantics would EMIT an expired heartbeat
    row as an unmatched row. A post-join filter on the sentinel key
    removes exactly those (the sentinel is outside the live key domain,
    and a matched row always carries a live key on both sides), keeping
    the output identical to a heartbeat-free run that never froze."""

    def _side(src_dir, hb_dir, prefix):
        s = (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", 1)
            .load(src_dir)
            .select(
                F.col(key).alias(f"{prefix}_{key}"),
                F.col(ts_col).alias(f"{prefix}_ts"),
                F.col("event_id").alias(f"{prefix}_event_id"),
            )
        )
        if hb_dir is not None:
            hb = (
                spark.readStream.format("parquet")
                .schema(schema)
                .option("maxFilesPerTrigger", 1)
                .load(hb_dir)
                .select(
                    F.col(key).alias(f"{prefix}_{key}"),
                    F.col(ts_col).alias(f"{prefix}_ts"),
                    F.col("event_id").alias(f"{prefix}_event_id"),
                )
            )
            # union BEFORE the watermark: two separately-watermarked
            # inputs would re-introduce the min-across-inputs freeze
            s = s.unionByName(hb)
        return s.withWatermark(f"{prefix}_ts", watermark)

    left = _side(left_dir, left_heartbeat_dir, "l")
    right = _side(right_dir, right_heartbeat_dir, "r")
    joined = (
        left.join(
            right,
            (F.col(f"l_{key}") == F.col(f"r_{key}"))
            & (F.col("r_ts") >= F.col("l_ts"))
            & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
            "fullOuter",
        )
        # drop expired HEARTBEAT rows (they surface as unmatched under
        # full-outer semantics); real unmatched rows keep their NULL
        # other side untouched
        .filter(
            (F.col(f"l_{key}").isNull() | (F.col(f"l_{key}") != sentinel_key))
            & (
                F.col(f"r_{key}").isNull()
                | (F.col(f"r_{key}") != sentinel_key)
            )
        )
        .select(
            F.coalesce(F.col(f"l_{key}"), F.col(f"r_{key}")).alias(key),
            "l_event_id",
            "r_event_id",
            "l_ts",
            "r_ts",
        )
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}")
