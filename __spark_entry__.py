"""Driver contract of the spark-graft engine (PySpark target).

Every query and its DuckDB oracle SQL is registered in
``social_media_big_data_analyzer_spark.queries``; this module only exposes
that registry in the shape the driver expects.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from social_media_big_data_analyzer_spark.queries import ORACLES, REGISTRY  # noqa: E402
# q_revenue_by_flag is re-exported: bench.py and perfbench warm up with it.
from social_media_big_data_analyzer_spark.queries.core import (  # noqa: E402,F401
    q_revenue_by_flag,
    q_word_freq_topk,
)

_SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_word_freq_topk(spark, _SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(REGISTRY)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
