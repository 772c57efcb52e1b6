"""Parquet table catalog keyed by scale-factor directory (SURVEY.md M0).

Reference analog: the paginated API source at /root/reference/app.py:82-150
(R1). In the engine, batch ingestion is a parquet scan -- Catalyst pushes
filters and prunes columns into the scan (the reference hand-compiled its
predicates into the API query string, app.py:89; here that's free).

Every table is read with its declared schema (``schemas.SCHEMAS``), so a
load starts no schema-inference job. A declared-schema read turns a
missing column into NULLs, so the column names in the parquet footer are
checked against the declaration instead (:func:`check_columns`).

Scale: a scan stays one job regardless of table size, and the footer check
reads metadata only -- no Spark job, no data pages.
"""

from __future__ import annotations

import os

import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession

from .. import schemas


def check_columns(name: str, path: str) -> None:
    """Fail loudly on column-name drift between the parquet footer at
    ``path`` (one file or a Spark-written directory) and the declared schema.

    The explicit StructTypes in schemas.py are the contract; parquet
    footers are untrusted input at 100 TB (one bad file must not silently
    change query semantics).
    """
    got = pads.dataset(path, format="parquet").schema.names
    want = schemas.SCHEMAS[name].names
    if got != want:
        raise ValueError(
            f"schema drift in table {name!r}: columns {got} != declared {want}"
        )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table with its declared schema.

    The Spark read runs first so a missing path raises ``AnalysisException``
    (:func:`load_table_or_empty` relies on it); the footer check runs second.
    """
    # UTC keeps timestamp semantics identical to the DuckDB oracle, also on
    # a session handed in by an external driver.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(schemas.SCHEMAS[name]).parquet(path)
    check_columns(name, path)
    return df


def load_table_or_empty(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Typed source failure -> empty relation with the declared schema
    (SURVEY §2.1 R35, R21; reference app.py:140-148 maps API auth/HTTP
    failures to an empty frame plus a user-visible error).

    Only *missing-source* failures degrade to empty; schema drift
    (`ValueError` from :func:`check_columns`) still raises, because a
    readable-but-wrong table is corruption, not absence.
    """
    from pyspark.errors import AnalysisException

    try:
        return load_table(spark, sf_dir, name)
    except AnalysisException:
        return spark.createDataFrame([], schema=schemas.SCHEMAS[name])
