"""`summary` -- per (keyspace, table) rollup of SSTable metadata.

Reference: cli/SummaryCollector.java:23-72 -- per column family: #sstables,
disk size (Σ disk_length), data size (Σ uncompressed_length), last repaired-at
over the repaired subset (:52-56), and repair % computed as
``floor(repaired_data_len * 100 / data_size)`` (:65 -- integer floor
replicated here; SURVEY.md X5).

Spark shape: single ``groupBy().agg()`` over the small metadata table --
one shuffle on (keyspace, table_name); conditional aggregation via
``sum(when(...))`` (operator A2/F3). At 100 TB the metadata table is still
tiny (1 row per SSTable), so this query is O(#sstables), not O(data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_sstable_tools_spark.oracles import with_adapter
from cassandra_sstable_tools_spark.sources import tpch_adapter


def summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference cmd 1 (SummaryCollector): per-table SSTable counts, disk
    and data sizes, int-truncated averages (X5), last-repaired sentinel."""
    return summary_of(tpch_adapter.sstables(spark, sf_dir))


def summary_of(meta: DataFrame) -> DataFrame:
    """``summary`` over any per-sstable metadata frame (keyspace,
    table_name, disk_length, uncompressed_length, is_repaired,
    repaired_at). ``repair_pct`` is NULL for a table whose sstables hold 0
    bytes: ``try_divide`` instead of ``/``, which raises DIVIDE_BY_ZERO
    under ANSI mode and fails the whole report."""
    return meta.groupBy("keyspace", "table_name").agg(
        F.count(F.lit(1)).alias("sstable_count"),
        F.sum("disk_length").alias("disk_size"),
        F.sum("uncompressed_length").alias("data_size"),
        F.max(F.when(F.col("is_repaired"), F.col("repaired_at"))).alias("last_repaired"),
        F.floor(F.try_divide(
            F.sum(F.when(F.col("is_repaired"), F.col("uncompressed_length")).otherwise(0))
            * 100,
            F.sum("uncompressed_length"),
        )).alias("repair_pct"),
    )


ORACLE_SUMMARY = with_adapter("""
SELECT keyspace,
       table_name,
       count(*) AS sstable_count,
       CAST(sum(disk_length) AS BIGINT) AS disk_size,
       CAST(sum(uncompressed_length) AS BIGINT) AS data_size,
       max(CASE WHEN is_repaired THEN repaired_at END) AS last_repaired,
       CAST(floor(sum(CASE WHEN is_repaired THEN uncompressed_length ELSE 0 END) * 100
                  / sum(uncompressed_length)) AS BIGINT) AS repair_pct
FROM sstables_meta
GROUP BY 1, 2
""")

QUERIES = {"summary": summary}
ORACLES = {"summary": ORACLE_SUMMARY}
