"""The engine's SparkSession: its runtime confs and the local builder.

Reference analog: process boot at /root/reference/app.py:13-34 (cached
NLTK init, page config, session-state init). Here the long-lived
resource is the SparkSession itself; NLTK-style per-executor init lives
inside the pandas UDFs (functions/lemmatize.py).

Scale notes (100 TB):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy switching replace any hand-tuned plan.
- Arrow on: every pandas UDF / toPandas crosses the JVM<->Python boundary
  in columnar batches.
- UTC session timezone: deterministic timestamp semantics (oracle parity).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

#: SQL confs that are settable at runtime on ANY session (including one
#: handed to us by an external driver -- see __spark_entry__.py).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Size post-shuffle partitions by BYTES, not by core count
    # (spark_optimization_guide.md §2.2 "fewer, larger reduce partitions").
    # parallelismFirst=true (the default) pins reduce-side task count to
    # the default parallelism even for KB-sized shuffles -- pure scheduler
    # overhead locally and quadratic shuffle-block growth at cluster scale.
    # 64 MB suits the local fixtures; big clusters raise it toward 256 MB
    # (guide §9).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Small dims (region/nation/supplier/part at test SFs) must broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (best-effort)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build, or restricted -- keep going
    return spark


def local_session(cores: int | str, driver_memory: str | None = None) -> SparkSession:
    """The one ``local[cores]`` session of bench.py, the tests and tools/.

    Shuffle partitions follow ``cores``; the UI and the console progress bar
    are off (progress bars corrupt captured stdout); the log level is ERROR;
    then :func:`configure` applies ``RUNTIME_CONFS``.
    """
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if driver_memory:
        b = b.config("spark.driver.memory", driver_memory)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return configure(spark)
