"""Import path of the table loader for the query modules.

The loader is :func:`.sources.catalog.load_table`. It is looked up at call
time, so replacing that module attribute reaches every query path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from .sources import catalog

    return catalog.load_table(spark, sf_dir, name)
