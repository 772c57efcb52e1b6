"""Streaming behaviors that need multi-micro-batch orchestration:
watermark late-data dropping (C35) and the reference's paginated,
rate-limited, word-capped ingest loop (R1, R19, R20, R34)."""

import os
import time

from pyspark.sql import functions as F

from social_media_big_data_analyzer_spark.io import load_table
from tools.oracle_check import oracle_mismatch, spark_rows

from .conftest import SF_DIR


def test_watermark_drops_late_rows(spark, tmp_path):
    """Run 1 advances the watermark to 2024-01-10; run 2 (restored from
    the same checkpoint) receives rows ten days behind it and must drop
    them — asserted via the state-store drop metric, so an unprocessed
    file can't masquerade as a pass."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def run():
        stream = (
            spark.readStream.schema("id long, ts_s string, ts timestamp")
            .parquet(os.path.join(src, "*"))
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        emitted = []

        def sink(df, _bid):
            emitted.extend(df.collect())

        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return emitted, q.recentProgress

    fresh = spark.createDataFrame(
        [(i, "2024-01-10 12:00:05") for i in range(10)], "id long, ts_s string"
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    fresh.coalesce(1).write.parquet(os.path.join(src, "f1"))
    run()

    late = spark.createDataFrame(
        [(100 + i, "2024-01-01 00:00:05") for i in range(5)], "id long, ts_s string"
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    late.coalesce(1).write.parquet(os.path.join(src, "f2"))
    emitted2, progress2 = run()

    n_input = sum(p["numInputRows"] for p in progress2)
    n_dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progress2
        for op in p.get("stateOperators", [])
    )
    assert n_input == 5, f"late file not processed: {n_input} input rows"
    # partial (map-side) aggregation collapses the 5 same-window rows
    # into one state-store row before the watermark check, so the
    # metric counts 1 dropped row, not 5
    assert n_dropped >= 1, "late rows not dropped by watermark"
    got = {r.w.start.isoformat() for r in emitted2}
    assert all(not s.startswith("2024-01-01") for s in got), got


def test_paginated_ingest_with_word_cap(spark, tmp_path):
    """Reference ingest loop shape (app.py:100-136): pages arrive one
    file per trigger (pagination + rate limit), a foreachBatch consumer
    accumulates cleaned word counts and stops at the target — the
    running-sum stop criterion, streaming edition."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    for page in range(5):
        df = spark.createDataFrame(
            [(page * 10 + i, "alpha beta gamma delta") for i in range(10)],
            "id long, text string",
        )
        df.coalesce(1).write.parquet(os.path.join(src, f"page{page}"))
        time.sleep(0.15)

    state = {"words": 0, "batches": 0}
    target = 100  # 2.5 pages worth at 4 words/row, 10 rows/page

    def consume(batch_df, batch_id):
        if state["words"] >= target:
            return  # stop criterion reached: later pages are ignored
        n = (
            batch_df.select(
                F.size(F.split(F.col("text"), " ")).alias("n")
            ).agg(F.sum("n").alias("s")).collect()[0].s
        )
        state["words"] += int(n or 0)
        state["batches"] += 1

    stream = (
        spark.readStream.schema("id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "*"))
    )
    q = (
        stream.writeStream.foreachBatch(consume)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # cap reached (120 >= 100) without consuming all 5 pages' words
    assert state["words"] >= target
    assert state["words"] < 200, state
    assert state["batches"] == 3, state


def test_streaming_reads_spark_dir_and_drops_sinks(spark, entry_mod, duck, tmp_path):
    """`events.parquet` written by Spark is a directory of part files. Both
    streaming queries must read all of it and match their batch oracles on
    the same rows, and no memory-sink view may outlive its query."""
    load_table(spark, SF_DIR, "events").repartition(3).write.parquet(
        str(tmp_path / "events.parquet")
    )
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    for name in ("streaming_tumbling_counts", "streaming_dedup_counts"):
        cols, srows = spark_rows(qs[name](spark, str(tmp_path)))
        why = oracle_mismatch(cols, srows, duck, oracles[name])
        assert why is None, f"{name}: {why}"
    sinks = [t.name for t in spark.catalog.listTables() if t.name.startswith("sink_")]
    assert sinks == []
