"""Streaming jobs that are registered as driver queries.

Each job runs a REAL Structured Streaming query (micro-batch file source,
``availableNow`` trigger, memory sink), then returns the sink table as a
DataFrame. Because the transformations are deterministic aggregations and
the watermark is generous enough to drop nothing on the bounded fixture,
the streaming result equals the batch SQL result — which is what lets the
driver hash-match a streaming query against a DuckDB oracle.

100 TB notes: the same pipelines run unbounded by swapping the trigger
for ``processingTime`` and the memory sink for kafka/delta. The tumbling
agg's state stays bounded: one row per (window, key) until the watermark
closes the window. The dropDuplicates state is NOT bounded by
the watermark: event time is not one of its keys (``user_id``,
``event_type``), so it keeps one row per distinct key for the life of the
query -- O(distinct keys), which an exact all-time distinct count needs
anyway. The reference's ingest loop (app.py:100-136 — page cap,
1.2 s sleep, word-count stop) maps to maxFilesPerTrigger (pagination),
trigger interval (rate limit), and a foreachBatch stop condition
(tests/test_streaming.py exercises it).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..sources.catalog import check_columns


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the declared schema and the
    batch loader's footer column check."""
    # Watermarks require TIMESTAMP (not NTZ); the session timezone is
    # pinned to UTC so the cast below preserves wall-clock values exactly.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, "events.parquet")
    reader = spark.readStream.schema(schemas.EVENTS)
    if os.path.isdir(path):  # Spark-written table: stream its part files
        stream = reader.parquet(path)
    else:
        # The file source wants a directory, so a single file is streamed
        # from its parent through a glob filter.
        stream = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    check_columns("events", path)
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


# Streaming state partition count, pinned at query start (Spark fixes it
# per checkpoint). Each HDFS-backed state store instance costs per-batch
# snapshot/commit I/O, so oversizing it dominates small-batch latency; on
# a cluster, size it to distinct-key volume / executor count instead.
STATE_PARTITIONS = 8


def _run_to_memory(result: DataFrame, mode: str) -> DataFrame:
    """Execute with availableNow into a uniquely-named memory sink and return
    its rows. The sink's temp view is dropped, also when the run fails; the
    returned DataFrame keeps the sink's data alive only while it is
    referenced."""
    name = f"sink_{uuid.uuid4().hex[:12]}"
    spark = result.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    try:
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.catalog.dropTempView(name)  # also after a failed run


def run_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 + C32 + C35 + C37: watermarked tumbling window counts, complete
    mode. The 1-day watermark drops nothing on the fixture, so the result
    equals the batch tumbling query."""
    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("win_start"), "event_type", "cnt")
    )
    return _run_to_memory(agg, "complete")


def run_streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C36 + C37: stateful streaming dedup on (user_id, event_type), then
    a per-type distinct-user count — arrival-order independent, so it
    matches count(DISTINCT user_id) in batch."""
    ev = _stream_events(spark, sf_dir)
    deduped = ev.withWatermark("ts", "1 day").dropDuplicates(
        ["user_id", "event_type"]
    )
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    return _run_to_memory(agg, "complete")


QUERIES = {
    "streaming_tumbling_counts": run_streaming_tumbling,
    "streaming_dedup_counts": run_streaming_dedup_counts,
}

ORACLES = {
    "streaming_tumbling_counts": """
        SELECT date_trunc('hour', ts) AS win_start, event_type,
               count(*) AS cnt
        FROM events
        GROUP BY 1, 2
    """,
    "streaming_dedup_counts": """
        SELECT event_type, count(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY event_type
    """,
}
