"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash; ``tools/check_oracle.py`` runs the same check).

The engine lives in ``metadata_ingestion_framework_spark/``; the query
inventory (one entry per SURVEY.md §2 operator plus the training-data
extensions) lives in ``metadata_ingestion_framework_spark/catalog_queries.py``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from metadata_ingestion_framework_spark.catalog_queries import ORACLES, QUERIES
from metadata_ingestion_framework_spark.catalog_queries import q_revenue_by_nation


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: revenue by nation —
    6-way star join with broadcast dims + exact decimal aggregation."""
    return q_revenue_by_nation(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ extensions)."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; rows-only ops are omitted
    (media_* only — their decoders are deterministic fakes)."""
    return dict(ORACLES)
