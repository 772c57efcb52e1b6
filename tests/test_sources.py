"""Source lifecycle: typed failures -> empty relation (R35, R21) and
schema-drift validation (R32 analog: fail fast on a bad source)."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_DIR

from social_media_big_data_analyzer_spark import schemas
from social_media_big_data_analyzer_spark.sources.catalog import (
    load_table,
    load_table_or_empty,
)
from social_media_big_data_analyzer_spark.streaming.jobs import (
    _stream_events,
    run_streaming_dedup_counts,
)


def _events_table(ts_unit: str, ts_name: str = "ts") -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            ts_name: pa.array([1_700_000_000_000_000, 1_700_000_360_000_000], pa.int64())
            .cast(pa.timestamp("us"))
            .cast(pa.timestamp(ts_unit)),
            "user_id": pa.array([7, 8], pa.int64()),
            "event_type": pa.array(["click", "view"]),
            "value": pa.array([1.0, 2.0]),
            "props": pa.array(["{}", "{}"]),
        }
    )


def _drift_spark_dir(spark, d):
    # Spark-written directory with an unrelated column
    spark.range(3).selectExpr("id AS wrong_col").write.parquet(str(d / "events.parquet"))


def _drift_renamed_file(spark, d):
    # single pyarrow file, right types, one column renamed
    pq.write_table(_events_table("us", ts_name="event_ts"), d / "events.parquet")


def test_missing_source_degrades_to_empty_with_schema(spark, tmp_path):
    df = load_table_or_empty(spark, str(tmp_path / "nope"), "customer")
    assert df.isEmpty()
    assert [f.name for f in df.schema.fields] == [
        f.name for f in schemas.CUSTOMER.fields
    ]


def test_present_source_loads_normally(spark):
    df = load_table_or_empty(spark, SF_DIR, "region")
    assert df.count() == load_table(spark, SF_DIR, "region").count() > 0


@pytest.mark.parametrize(
    "write", [_drift_spark_dir, _drift_renamed_file], ids=["spark_dir", "renamed_file"]
)
@pytest.mark.parametrize(
    "read",
    [lambda spark, d: load_table_or_empty(spark, d, "events"), _stream_events],
    ids=["batch", "stream"],
)
def test_schema_drift_still_raises(spark, tmp_path, write, read):
    write(spark, tmp_path)
    with pytest.raises(ValueError, match="schema drift"):
        read(spark, str(tmp_path))


@pytest.mark.parametrize(
    "run",
    [
        lambda spark, d: load_table(spark, d, "events").collect(),
        run_streaming_dedup_counts,
    ],
    ids=["batch", "stream"],
)
def test_nanos_events_fail_loudly(spark, tmp_path, run):
    """A TIMESTAMP(NANOS) events file has the declared column names, so it
    passes the footer check; the declared-schema read must then refuse the
    column type instead of returning silent values."""
    pq.write_table(_events_table("ns"), tmp_path / "events.parquet")
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type == pa.timestamp("ns")
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        run(spark, str(tmp_path))
