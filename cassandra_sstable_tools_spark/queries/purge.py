"""`purge` -- simulated-compaction reclaimable-space report (reference cmd 5).

Reference: PurgeStatisticsCollector.java:24-103 -- top-N partitions by
reclaimable bytes + global totals. The heavy lifting is operator A7
(operators/purge.py); this module shapes the two reports, each written
once over a per-partition purge frame (``top_reclaimable``,
``purge_totals``): ``purge_stats`` of the parquet cells here, or of the
decoded Data.db cells for the registered ``purge_*_cassdir`` queries
(sources/data_cells.py). The directory CLI's no-SQL pass finishes the
same two reports on the driver (sources/merge_scan.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_sstable_tools_spark.constants import DEFAULT_TOP_N
from cassandra_sstable_tools_spark.operators.purge import (
    merge_enriched,
    purge_stats,
    purge_stats_sql,
)
from cassandra_sstable_tools_spark.operators.topn import top_n_per_group
from cassandra_sstable_tools_spark.oracles import with_adapter
from cassandra_sstable_tools_spark.sources import tpch_adapter


def _per_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return purge_stats(tpch_adapter.cells(spark, sf_dir))


def top_reclaimable(per_part: DataFrame, n: int = DEFAULT_TOP_N) -> DataFrame:
    """Top-N partitions by reclaimable bytes of a per-partition purge frame
    (PurgeStatisticsCollector.java:65-68, comparator
    PurgeStatistics.java:14-20 -- reclaimable, size tiebreak)."""
    return top_n_per_group(
        per_part,
        ["keyspace", "table_name"],
        [F.desc("reclaimable"), F.desc("pre_size"), F.asc("partition_key")],
        n,
    ).select(
        "keyspace", "table_name", "partition_key", "tables", "pre_size",
        "merged_size", "reclaimable", "rank",
    )


def purge_totals(per_part: DataFrame) -> DataFrame:
    """Per-table totals of a per-partition purge frame
    (PurgeStatisticsCollector.java:62-76)."""
    return per_part.groupBy("keyspace", "table_name").agg(
        F.count(F.lit(1)).alias("partitions"),
        F.sum("pre_size").alias("total_size"),
        F.sum("merged_size").alias("total_merged"),
        F.sum("reclaimable").alias("total_reclaimable"),
    )


def purge_top(spark: SparkSession, sf_dir: str, n: int = DEFAULT_TOP_N) -> DataFrame:
    """Top-N partitions by reclaimable bytes of the parquet cells
    (``top_reclaimable``)."""
    return top_reclaimable(_per_partition(spark, sf_dir), n)


def purge_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global totals of the parquet cells (``purge_totals``)."""
    return purge_totals(_per_partition(spark, sf_dir))


ORACLE_PURGE_TOP = with_adapter(f""",
{purge_stats_sql().lstrip()}
SELECT keyspace, table_name, partition_key, tables, pre_size, merged_size,
       reclaimable, rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY keyspace, table_name
        ORDER BY reclaimable DESC, pre_size DESC, partition_key ASC) AS rank
    FROM purge_per_partition
) WHERE rank <= {DEFAULT_TOP_N}
""")

ORACLE_PURGE_GLOBAL = with_adapter(f""",
{purge_stats_sql().lstrip()}
SELECT keyspace, table_name,
       count(*) AS partitions,
       CAST(sum(pre_size) AS BIGINT) AS total_size,
       CAST(sum(merged_size) AS BIGINT) AS total_merged,
       CAST(sum(reclaimable) AS BIGINT) AS total_reclaimable
FROM purge_per_partition
GROUP BY 1, 2
""")

def compaction_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What compaction would WRITE, per (table, cell class): row and byte
    counts before the merge vs in the merged output -- the content-level
    view the reference's byte-total reports don't give (which data rows LWW
    kept, which delete markers survived GC, what the boundary-split
    remnants add). Consumes the same merge_enriched core as purge_stats, so
    the two reports cannot drift; the oracle re-derives the same grain from
    the per-kind survivor CTEs of the SQL mirror. Aggregation grain is
    (table, class) -- aggregate-sized output at any corpus scale, same
    exchange-free two-level shape as purge_stats off the pk-clustered
    cells cache."""
    cells = tpch_adapter.cells(spark, sf_dir)
    enriched, survives = merge_enriched(cells)
    cls = (
        F.when(
            F.col("kind").isin("CELL", "STATIC_CELL", "ROW_MARKER"), "data"
        )
        .when(F.col("kind") == "PARTITION_DELETE", "partition_delete")
        .when(F.col("kind") == "ROW_DELETE", "row_delete")
        .otherwise("range_tombstone")
        .alias("cell_class")
    )
    base = enriched.groupBy("keyspace", "table_name", cls).agg(
        F.count(F.lit(1)).alias("rows_pre"),
        F.sum("cell_size").alias("bytes_pre"),
        # coalesce per row: a NULL survives-verdict (dirty cell attributes)
        # is "not kept", matching the oracle's CASE ... ELSE 0
        F.sum(F.coalesce(survives.cast("int"), F.lit(0)))
        .cast("bigint")
        .alias("rows_merged"),
        F.sum(F.when(survives, F.col("cell_size")).otherwise(F.lit(0))).alias(
            "bytes_merged_raw"
        ),
    )
    # boundary-split remnant bytes belong to the range_tombstone class; the
    # per-pk remnant rides every enriched row of its pk (broadcast map), so
    # max-per-pk then sum-per-table recovers the exact total
    rem = (
        enriched.groupBy("keyspace", "table_name", "partition_key")
        .agg(F.max("remnant").alias("r"))
        .groupBy("keyspace", "table_name")
        .agg(F.sum("r").alias("rem_bytes"))
    )
    return (
        base.join(rem, ["keyspace", "table_name"], "left")
        .select(
            "keyspace",
            "table_name",
            "cell_class",
            "rows_pre",
            "bytes_pre",
            "rows_merged",
            (
                F.col("bytes_merged_raw")
                + F.when(
                    F.col("cell_class") == "range_tombstone",
                    F.coalesce(F.col("rem_bytes"), F.lit(0)),
                ).otherwise(F.lit(0))
            ).alias("bytes_merged"),
        )
    )


ORACLE_COMPACTION_PREVIEW = with_adapter(f""",
{purge_stats_sql().lstrip()},
pre_cls AS (
    SELECT keyspace, table_name,
           CASE WHEN kind IN ('CELL', 'STATIC_CELL', 'ROW_MARKER') THEN 'data'
                WHEN kind = 'PARTITION_DELETE' THEN 'partition_delete'
                WHEN kind = 'ROW_DELETE' THEN 'row_delete'
                ELSE 'range_tombstone' END AS cell_class,
           count(*) AS rows_pre,
           CAST(sum(cell_size) AS BIGINT) AS bytes_pre
    FROM cells GROUP BY 1, 2, 3
),
m_cls AS (
    SELECT keyspace, table_name, 'data' AS cell_class,
           count(*) AS rows_merged,
           CAST(sum(cell_size) AS BIGINT) AS bytes_merged
    FROM surviving_cells GROUP BY 1, 2
    UNION ALL
    SELECT keyspace, table_name, 'partition_delete', count(*),
           CAST(sum(cell_size) AS BIGINT)
    FROM pd_surv GROUP BY 1, 2
    UNION ALL
    SELECT keyspace, table_name, 'row_delete', count(*),
           CAST(sum(cell_size) AS BIGINT)
    FROM rd_surv GROUP BY 1, 2
    UNION ALL
    SELECT keyspace, table_name, 'range_tombstone',
           CAST(sum(CASE WHEN is_row THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(cell_size) AS BIGINT)
    FROM (SELECT keyspace, table_name, cell_size, true AS is_row FROM rtm_surv
          UNION ALL
          SELECT keyspace, table_name, cell_size, false FROM rtm_remnant)
    GROUP BY 1, 2
)
SELECT p.keyspace, p.table_name, p.cell_class, p.rows_pre, p.bytes_pre,
       CAST(coalesce(m.rows_merged, 0) AS BIGINT) AS rows_merged,
       CAST(coalesce(m.bytes_merged, 0) AS BIGINT) AS bytes_merged
FROM pre_cls p
LEFT JOIN m_cls m USING (keyspace, table_name, cell_class)
""")

QUERIES = {
    "purge_top": purge_top,
    "purge_global": purge_global,
    "compaction_preview": compaction_preview,
}
ORACLES = {
    "purge_top": ORACLE_PURGE_TOP,
    "purge_global": ORACLE_PURGE_GLOBAL,
    "compaction_preview": ORACLE_COMPACTION_PREVIEW,
}
