"""Bucketed tables for shuffle-free co-located joins.

At 100 TB the repeated cost is not the scan — it's re-shuffling the same
tables on the same keys for every join. Bucketing materializes the hash
partitioning once: two tables bucketed by the same key into the same
bucket count join with ZERO exchange on either side (verified by plan
inspection in tests). This is the parquet-catalog analog of Iceberg's
bucket partition transform the north rule's table layout would use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, key: str,
                   n_buckets: int = 16) -> None:
    """Materialize df as a bucketed+sorted managed table (overwrite).
    Drops any stale table AND its warehouse location first — an orphaned
    location from a previous in-memory catalog session blocks
    saveAsTable with LOCATION_ALREADY_EXISTS."""
    import shutil

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = warehouse.replace("file:", "") + "/" + table.lower()
    shutil.rmtree(loc, ignore_errors=True)

    df.write.mode("overwrite").bucketBy(n_buckets, key).sortBy(key) \
        .saveAsTable(table)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  key: str) -> DataFrame:
    """Join two same-key bucketed tables — Catalyst sees compatible output
    partitioning and plans SortMergeJoin with no Exchange."""
    return spark.table(left_table).join(spark.table(right_table), key)


def has_exchange(df: DataFrame) -> bool:
    """Plan introspection helper: does the physical plan shuffle?"""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange" in plan
