"""Structured Streaming ingestion of the events table.

The reference is batch-only (a bounded Beam PCollection over a BigQuery
export, ``executor.py:103-108,156-160``); its event-time semantics exist
only logically (point-in-time join, TTL). This module is the SURVEY.md §7
extension: the same event-time semantics expressed over an unbounded
stream with Structured Streaming —

- TTL -> watermark delay (`withWatermark`)
- latest-wins dedup -> `dropDuplicatesWithinWatermark`
- snapshot aggregation -> tumbling/sliding `window()` aggregates

Tests drive these with a file source + ``trigger(availableNow=True)`` so
the streaming plans execute to completion deterministically; the same
transformations run unchanged against kafka/rate sources in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_events_stream(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of the events table (schema locked from batch).

    Parquet NANOS timestamps are normalized exactly as in batch
    (nanosAsLong + ``timestamp_micros``), so stream and batch plans share
    every downstream transformation.
    """
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(batch_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # The streaming file source monitors directories; a single-file table
    # is read via its parent dir + a glob filter on the file name.
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    df = reader.parquet(path)
    from ..session import normalize_timestamps

    return normalize_timestamps(df, ("ts",))


def windowed_event_counts(
    events: DataFrame,
    *,
    window_duration: str = "1 day",
    slide: str | None = None,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Tumbling (or sliding) event-time window aggregation with watermark.

    Output: (window_start, window_end, event_type, n_events, total_value).
    Late rows beyond ``watermark_delay`` are dropped; state for closed
    windows is evicted — bounded memory on unbounded input.
    """
    w = (
        F.window("ts", window_duration, slide)
        if slide
        else F.window("ts", window_duration)
    )
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(w.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def dedup_events_stream(
    events: DataFrame,
    *,
    key_cols: list[str] | None = None,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Exactly-once event stream: drop duplicate event_ids within the
    watermark horizon (state is GC'd as the watermark advances —
    the streaming analog of the batch latest-wins dedup J3).
    """
    keys = key_cols or ["event_id"]
    return events.withWatermark("ts", watermark_delay).dropDuplicatesWithinWatermark(
        keys
    )


def latest_feature_state(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Continuously-updated per-key latest feature values.

    The streaming materialization of the PIT join's "latest at-or-before
    now" semantics: max_by over an update-mode aggregate. Downstream
    sinks receive upserts per key (update output mode).
    """
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(key_col)
        .agg(
            F.max_by(
                F.struct("value", "event_type"), F.struct("ts", "event_id")
            ).alias("latest"),
            F.max("ts").alias("latest_ts"),
        )
        .select(
            key_col,
            F.col("latest.value").alias("value"),
            F.col("latest.event_type").alias("event_type"),
            "latest_ts",
        )
    )


def stream_examples_to_tfrecords(
    stream_df: DataFrame,
    out_dir: str,
    *,
    checkpoint_dir: str,
    query_name: str = "examples_sink",
    available_now: bool = True,
):
    """Continuous ExampleGen: stream rows -> tf.Example TFRecords.

    ``foreachBatch`` bridges the streaming plan to the batch encode+split
    +sink chain (the standard pattern for sinks Spark lacks a streaming
    writer for). Each micro-batch is hash-split on its serialized bytes
    and APPENDED under ``Split-{name}/`` with a per-batch shard prefix
    (``part-b{batch_id}``): batches accumulate side by side, and a
    batch replayed after a crash (restart between the write and the
    checkpoint commit) overwrites exactly its own shards — idempotent
    per micro-batch, which together with the checkpoint gives
    effectively-once output. Each shard's records are sorted by split,
    then bytes, with no shuffle.
    """
    from ..operators.split import hash_split
    from ..sources.examplegen import _cluster, encode_examples
    from ..sources.tfrecord import write_partitioned_tfrecords

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        encoded = _cluster(
            hash_split(encode_examples(batch_df), ["example"]), "split"
        )
        write_partitioned_tfrecords(
            encoded,
            out_dir,
            bytes_col="example",
            split_col="split",
            mode="append",
            file_prefix=f"part-b{batch_id:06d}",
        )

    writer = (
        stream_df.writeStream.foreachBatch(_sink)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q


def run_to_completion(
    stream_df: DataFrame, *, output_mode: str = "append", query_name: str = "q"
):
    """Execute a streaming plan over all currently-available input
    (``availableNow`` trigger) into an in-memory sink; returns the
    resulting batch DataFrame. Test/backfill harness — production uses a
    durable sink with checkpointing instead.
    """
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    *,
    key_col: str = "user_id",
    lookback: str = "1 hour",
    watermark_delay: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each left event matched to right
    events of the same key whose timestamp falls in
    ``[left.ts - lookback, left.ts]`` (the attribution-join shape: a
    purchase joined to the clicks that preceded it).

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark can GC join state — the requirement for unbounded
    stream-stream joins (state held per side is at most
    ``watermark_delay + lookback`` of input). Inner-join matches emit in
    the micro-batch where both rows are present; the watermark governs
    state eviction only, so running to completion over a bounded source
    yields exactly the batch join's result (the property the oracle
    checks).

    ``how="left_outer"`` additionally emits unmatched left rows with
    null right columns — but only once the watermark proves no matching
    right row can still arrive, so bounded replay equals the batch left
    join ONLY if the final watermark passes every left row's join window
    (append a far-future sentinel to both sides to force that; see
    queries.py's stream_stream_left_join).

    Output columns are prefixed ``l_`` / ``r_`` (event_id, ts, value);
    the key keeps its name.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be 'inner' or 'left_outer': {how!r}")
    l = left.withWatermark("ts", watermark_delay)
    r = right.withWatermark("ts", watermark_delay)
    lsel = l.select(
        F.col(key_col),
        F.col("event_id").alias("l_event_id"),
        F.col("ts").alias("l_ts"),
        F.col("value").alias("l_value"),
    )
    rsel = r.select(
        F.col(key_col).alias("__rkey"),
        F.col("event_id").alias("r_event_id"),
        F.col("ts").alias("r_ts"),
        F.col("value").alias("r_value"),
    )
    cond = (
        (lsel[key_col] == rsel["__rkey"])
        & (rsel["r_ts"] >= lsel["l_ts"] - F.expr(f"INTERVAL {lookback}"))
        & (rsel["r_ts"] <= lsel["l_ts"])
    )
    return lsel.join(rsel, cond, how).drop("__rkey")


def enrich_stream_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    *,
    stream_key: str,
    dim_key: str,
    dim_cols: list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static join: enrich each streaming event with columns from
    a static dimension table (the feature-lookup shape: events gain the
    user's profile attributes on the way in).

    Spark joins each micro-batch against the static side natively — no
    watermark or state needed because the static side never changes
    mid-query; small dims broadcast, so the stream never shuffles. At
    100 TB/day of events this is THE pattern for attaching slowly-
    changing reference data; pair with `latest_feature_state` when the
    dimension itself is a stream.
    """
    d = dim.select(F.col(dim_key).alias(stream_key), *dim_cols)
    return stream.join(d, stream_key, how)
