"""`cfstats` -- full cell-level scan statistics (reference command 4).

Reference: cli/ColumnFamilyStatisticsCollector.java:36-353 -- one streaming
pass over Data.db updates, per partition: row/cell/tombstone/TTL counters
(DataReader.java:46-123), feeding 5 bounded top-N heaps, 4 histograms, global
counters, a TTL histogram, and per-SSTable statistics with liveness %.

Semantics mapping onto the `cells` event table (SURVEY.md §1.2):
- a *physical row* is a distinct (sstable_id, partition_key, clustering) among
  row-bearing kinds (CELL / ROW_MARKER / ROW_DELETE) -- each sstable's copy
  counts separately, as in the reference where every SSTable's Row object is
  folded (DataReader.java:63-110) then collated (PartitionStatistics.java:118-130);
- cell counts cover kinds CELL / STATIC_CELL;
- live cell = non-tombstone cell that is not an expired expiring cell
  (Cell.isLive semantics, DataReader.java:86): expiring counts as live iff
  ``local_deletion_time > NOW``;
- droppable = tombstone with ``local_deletion_time < NOW - gc_grace`` (strict,
  DataReader.java:100 / PurgeStatisticBackend.java:208);
- liveness % uses int truncation (SSTableStatistics.java:152-154).

Spark shape: ONE groupBy per grain over a shared cached scan -- Catalyst fuses
all counters of a grain into a single HashAggregateExec (the analog of the
reference's fused single-pass loop, SURVEY.md §4). Rankings reuse the
per-partition frame (1 row per key -- orders of magnitude smaller than cells).
All shuffles key on partition_key or sstable_id; no driver-side state beyond
report rows.

Each section is written once, as a function over a DataFrame
(``fold_partitions``, ``table_totals``, ``sstable_sums``/``sstable_stats``,
``ttl_histogram``, ``rank_partitions``), for both sources: the parquet
adapter's ``cells`` (the registered queries here) and a Cassandra data
directory's decoded Data.db cells plus Index.db-delta partition sizes (the
``directory_*`` compositions behind ``cfstats --cassandra-dir`` and the
registered ``cfstats_*_cassdir`` queries; sources/data_cells.py supplies
the two frames). What differs per source is passed in as data: the input
frames, the source's own per-sstable aggregates, the section columns and
the ranking orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_sstable_tools_spark.constants import (
    DEFAULT_TOP_N,
    GC_BEFORE,
    NO_TTL,
    NOW_SECONDS,
)
from cassandra_sstable_tools_spark.operators.percentiles import (
    percentile_cols,
    percentile_sql,
)
from cassandra_sstable_tools_spark.operators.topn import top_n_per_group
from cassandra_sstable_tools_spark.oracles import with_adapter
from cassandra_sstable_tools_spark.queries.pstats import collate_sizes
from cassandra_sstable_tools_spark.sources import tpch_adapter

_ROW_KINDS = ("CELL", "ROW_MARKER", "ROW_DELETE")
_CELL_KINDS = ("CELL", "STATIC_CELL")
_PK = ["keyspace", "table_name", "partition_key"]
_SST = ["keyspace", "table_name", "sstable_id"]
_SSTABLE_COLUMNS = [
    "partitions", "row_count", "row_delete_count", "cell_count",
    "live_cell_count", "expiring_cell_count", "counter_cell_count",
    "tombstone_count", "droppable_tombstone_count", "range_tombstone_count",
    "partition_delete_count", "size", "max_cell_size", "min_timestamp",
    "max_timestamp",
]
# counts at either grain: 0 where a LEFT-joined frame has no row
_COUNTS = frozenset({
    *_SSTABLE_COLUMNS, "tables", "rows", "row_deletes", "cells",
    "tombstones", "droppable_tombstones",
}) - {"size", "max_cell_size", "min_timestamp", "max_timestamp"}


def _flags(c: DataFrame) -> DataFrame:
    """Classification predicates (F4) as boolean columns -- stays in codegen."""
    is_cell = F.col("kind").isin(*_CELL_KINDS)
    is_row = F.col("kind").isin(*_ROW_KINDS)
    expired = F.col("is_expiring") & (F.col("local_deletion_time") <= NOW_SECONDS)
    return c.select(
        "*",
        is_cell.cast("int").alias("f_cell"),
        is_row.alias("f_rowkind"),
        # full physical-row identity: distinct-counting it inside ANY coarser
        # grouping (per-partition OR per-sstable) yields that grain's row
        # count; a partial key would collapse rows across the omitted column.
        F.when(is_row, F.concat_ws("#", "sstable_id", "partition_key", "clustering"))
        .alias("row_key"),
        (F.col("kind") == "ROW_DELETE").cast("int").alias("f_rowdel"),
        (F.col("kind") == "RANGE_TOMBSTONE_MARKER").cast("int").alias("f_rtm"),
        (F.col("kind") == "PARTITION_DELETE").cast("int").alias("f_partdel"),
        # coalesce(flag, 0): classification inputs can be NULL on dirty rows
        # (unbackfilled cell attributes); the oracle's CASE ... ELSE 0 says a
        # cell whose class is unknowable belongs to NO class, and a bare
        # cast would sum NULL instead
        F.coalesce(F.col("is_tombstone").cast("int"), F.lit(0)).alias("f_tomb"),
        F.coalesce(
            (F.col("is_tombstone") & (F.col("local_deletion_time") < GC_BEFORE))
            .cast("int"),
            F.lit(0),
        ).alias("f_droppable"),
        F.coalesce(
            (is_cell & ~F.col("is_tombstone") & ~expired).cast("int"), F.lit(0)
        ).alias("f_live"),
        F.coalesce(F.col("is_expiring").cast("int"), F.lit(0)).alias("f_expiring"),
        F.coalesce(F.col("is_counter").cast("int"), F.lit(0)).alias("f_counter"),
    )


_FLAGS_SQL = f"""
flags AS (
    SELECT *,
           CASE WHEN kind IN ('CELL', 'STATIC_CELL') THEN 1 ELSE 0 END AS f_cell,
           kind IN ('CELL', 'ROW_MARKER', 'ROW_DELETE') AS f_rowkind,
           CASE WHEN kind IN ('CELL', 'ROW_MARKER', 'ROW_DELETE')
                THEN concat(sstable_id, '#', partition_key, '#', clustering)
           END AS row_key,
           CASE WHEN kind = 'ROW_DELETE' THEN 1 ELSE 0 END AS f_rowdel,
           CASE WHEN kind = 'RANGE_TOMBSTONE_MARKER' THEN 1 ELSE 0 END AS f_rtm,
           CASE WHEN kind = 'PARTITION_DELETE' THEN 1 ELSE 0 END AS f_partdel,
           CASE WHEN is_tombstone THEN 1 ELSE 0 END AS f_tomb,
           CASE WHEN is_tombstone AND local_deletion_time < {GC_BEFORE}
                THEN 1 ELSE 0 END AS f_droppable,
           CASE WHEN kind IN ('CELL', 'STATIC_CELL') AND NOT is_tombstone
                     AND NOT (is_expiring AND local_deletion_time <= {NOW_SECONDS})
                THEN 1 ELSE 0 END AS f_live,
           CASE WHEN is_expiring THEN 1 ELSE 0 END AS f_expiring,
           CASE WHEN is_counter THEN 1 ELSE 0 END AS f_counter
    FROM cells
)"""


def fold_partitions(cells: DataFrame) -> DataFrame:
    """A1: per-partition collated counters of any cell frame (the
    reference's PartitionStatistics after cross-sstable collate): size,
    tables, rows, row_deletes, cells, tombstones, droppable_tombstones.

    Two-level fold (guide §2.3): the one-level form's TWO countDistincts
    plan an Expand (x3 row blowup of the cell scan) that every COLD first
    run pays -- which is what a real 100 TB job is. Level 1 groups by
    (pk grain, sstable_id) with the single remaining distinct (Spark 4
    plans one distinct Expand-free); level 2 then counts level-1 groups for
    `tables` and sums the per-sstable row distincts for `rows`. Equivalent
    because row_key embeds sstable_id ('#'-joined; fixture, adapter and
    decoded sstable_ids are '#'-free and non-null), so per-sstable
    distincts are disjoint across level-1 groups of one partition -- and
    the oracle hash gate certifies it on every fixture SF."""
    l1 = _flags(cells).groupBy(*_PK, "sstable_id").agg(
        F.sum("cell_size").alias("_size"),
        F.countDistinct("row_key").alias("_rows"),
        F.sum("f_rowdel").alias("_row_deletes"),
        F.sum("f_cell").alias("_cells"),
        F.sum("f_tomb").alias("_tombstones"),
        F.sum("f_droppable").alias("_droppable"),
    )
    return l1.groupBy(*_PK).agg(
        F.sum("_size").alias("size"),
        F.count(
            F.when(F.col("sstable_id").isNotNull(), F.lit(1))
        ).alias("tables"),
        # coalesce: value-identical (every group is non-empty and _rows
        # is non-null) but pins `rows` back to NOT NULL, matching the
        # one-level countDistinct's declared schema
        F.coalesce(F.sum("_rows"), F.lit(0).cast("bigint")).alias("rows"),
        F.sum("_row_deletes").alias("row_deletes"),
        F.sum("_cells").alias("cells"),
        F.sum("_tombstones").alias("tombstones"),
        F.sum("_droppable").alias("droppable_tombstones"),
    )


def per_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``fold_partitions`` of the parquet cells, persisted via the
    adapter's cache registry: the global summary and all five rankings
    reuse ONE collate pass (the reference's single stream feeding 5 heaps
    + 4 histograms, cli/ColumnFamilyStatisticsCollector.java:121-141)."""
    return tpch_adapter._cached(
        spark, sf_dir, "cfstats_per_partition",
        lambda: fold_partitions(tpch_adapter.cells(spark, sf_dir)),
    )


def _left_join(frames: list[DataFrame], key: list[str]) -> DataFrame:
    """``frames[0]`` (the report's universe) LEFT JOIN each later frame on
    ``key``; a count read from a joined frame is 0 where that frame has no
    row (the oracles' count(...) over an empty group)."""
    out = frames[0]
    for f in frames[1:]:
        out = out.join(f, key, "left")
    for c in [c for f in frames[1:] for c in f.columns if c in _COUNTS]:
        out = out.withColumn(c, F.coalesce(c, F.lit(0).cast("bigint")))
    return out


_PER_PARTITION_SQL = """
per_partition_stats AS (
    SELECT keyspace, table_name, partition_key,
           CAST(sum(cell_size) AS BIGINT) AS size,
           count(DISTINCT sstable_id) AS tables,
           count(DISTINCT row_key) AS rows,
           CAST(sum(f_rowdel) AS BIGINT) AS row_deletes,
           CAST(sum(f_cell) AS BIGINT) AS cells,
           CAST(sum(f_tomb) AS BIGINT) AS tombstones,
           CAST(sum(f_droppable) AS BIGINT) AS droppable_tombstones
    FROM flags
    GROUP BY 1, 2, 3
)"""


def table_totals(parts: DataFrame, approx: bool = False) -> DataFrame:
    """A4 global scalars + A5 size percentiles, per table, over a
    per-partition frame."""
    return parts.groupBy("keyspace", "table_name").agg(
        F.count(F.lit(1)).alias("partitions"),
        F.sum("size").alias("total_size"),
        F.sum("rows").alias("row_count"),
        F.sum("row_deletes").alias("row_delete_count"),
        F.sum("cells").alias("cell_count"),
        F.sum("tombstones").alias("tombstone_count"),
        F.sum("droppable_tombstones").alias("droppable_tombstone_count"),
        F.floor(F.sum("size") / F.count(F.lit(1))).alias("avg_partition_size"),
        *percentile_cols("size", approx=approx),
    )


def cfstats_global(spark: SparkSession, sf_dir: str, approx: bool = False) -> DataFrame:
    """A4 global scalars + A5 size/cells-per-partition percentiles, per table."""
    return table_totals(per_partition(spark, sf_dir), approx)


def sstable_sums(cells: DataFrame, *extra) -> DataFrame:
    """A3 counters per sstable in ONE aggregate: distinct-free, a pure
    map-side partial combine folds the whole scan to #sstables rows before
    the (tiny) shuffle. ``extra`` are the source's own aggregates (its
    byte sizes, or its row distinct), placed before the timestamps."""
    return _flags(cells).groupBy(*_SST).agg(
        F.sum("f_rowdel").alias("row_delete_count"),
        F.sum("f_cell").alias("cell_count"),
        F.sum("f_live").alias("live_cell_count"),
        F.sum("f_expiring").alias("expiring_cell_count"),
        F.sum("f_counter").alias("counter_cell_count"),
        F.sum("f_tomb").alias("tombstone_count"),
        F.sum("f_droppable").alias("droppable_tombstone_count"),
        F.sum("f_rtm").alias("range_tombstone_count"),
        F.sum("f_partdel").alias("partition_delete_count"),
        *extra,
        F.min("writetime").alias("min_timestamp"),
        F.max("writetime").alias("max_timestamp"),
    )


def sstable_rows(cells: DataFrame) -> DataFrame:
    """Physical rows per sstable -- distinct (pk, clustering) of the
    row-bearing kinds -- as one single-purpose distinct over the narrow
    row identity: on a pk-partitioned input (the parquet cells cache) the
    distinct needs no exchange."""
    return (
        _flags(cells).where("f_rowkind")
        .select(*_SST, "partition_key", "clustering")
        .distinct()
        .groupBy(*_SST)
        .agg(F.count(F.lit(1)).alias("row_count"))
    )


def sstable_stats(frames: list[DataFrame], columns: list[str]) -> DataFrame:
    """A3: the per-sstable section -- ``frames`` LEFT-joined onto the first
    (the sstable universe), ``columns`` selected, and the int-truncated
    liveness %."""
    return _left_join(frames, _SST).select(*_SST, *columns).withColumn(
        "liveness_pct",
        F.when(
            F.col("cell_count") > 0,
            F.floor(F.col("live_cell_count") * 100 / F.col("cell_count")),
        ).otherwise(F.lit(0)),
    )


def cfstats_sstables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: per-sstable statistics with int-truncated liveness %.

    Every aggregate is single-distinct or distinct-free: the counter sums
    carry no distinct, `partitions` counts the (sstable, partition) grain
    already materialized in the shared partition_sizes cache, and
    `row_count` is one narrow distinct. Avoids the multi-countDistinct
    Expand (x3 row blowup of the cell scan) of the naive one-level
    formulation. LEFT joins: an sstable whose cells are all
    partition-grain (no CELL/ROW_MARKER/ROW_DELETE kinds) must still
    report, with row_count=0 -- the sums frame (all cell kinds) is the
    authoritative sstable universe."""
    cells = tpch_adapter.cells(spark, sf_dir)
    parts = (
        tpch_adapter.partition_sizes_cached(spark, sf_dir)
        .groupBy(*_SST)
        .agg(F.count(F.lit(1)).alias("partitions"))
    )
    sums = sstable_sums(
        cells,
        F.sum("cell_size").alias("size"),
        F.max("cell_size").alias("max_cell_size"),
    )
    return sstable_stats([sums, parts, sstable_rows(cells)], _SSTABLE_COLUMNS)


def ttl_histogram(cells: DataFrame) -> DataFrame:
    """A6: TTL histogram -- count per distinct TTL (NO_TTL sentinel -1).

    groupBy on the TTL value beats a MapType union-aggregate at scale
    (SURVEY.md A6): partial aggregation makes the shuffle O(#distinct ttl)."""
    return (
        cells.where(F.col("kind").isin(*_CELL_KINDS))
        .groupBy(
            "keyspace",
            "table_name",
            F.coalesce(F.col("ttl"), F.lit(NO_TTL)).alias("ttl"),
        )
        .agg(F.count(F.lit(1)).alias("cell_count"))
    )


def cfstats_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: TTL histogram of the parquet cells (see ``ttl_histogram``)."""
    return ttl_histogram(tpch_adapter.cells(spark, sf_dir))


def rank_partitions(
    parts: DataFrame, metrics: list[str], order: tuple[str, ...], n: int,
    admit: str | None = None,
) -> DataFrame:
    """T1: top-``n`` partitions per table of a per-partition frame, ranked
    by ``order`` (column names, ``-`` prefix = descending; ending in
    partition_key so ties resolve deterministically); ``admit`` keeps only
    partitions where that column is > 0 (F2 conditional admission)."""
    if admit:
        parts = parts.where(F.col(admit) > 0)
    by = [F.desc(c[1:]) if c.startswith("-") else F.asc(c) for c in order]
    return top_n_per_group(parts, ["keyspace", "table_name"], by, n).select(
        "keyspace", "table_name", "partition_key", *metrics, "rank"
    )


def _ranking(metrics: list[str], order: tuple[str, ...],
             admit: str | None = None, doc: str | None = None):
    def run(spark: SparkSession, sf_dir: str, n: int = DEFAULT_TOP_N) -> DataFrame:
        return rank_partitions(
            per_partition(spark, sf_dir), metrics, order, n, admit
        )

    run.__doc__ = doc or "cfstats per-table top-N ranking (T1)."
    return run


cfstats_top_size = _ranking(
    ["size", "tables"], ("-size", "partition_key"),
    doc="Largest partitions per table by merged size (T1; the reference's "
        "MinMaxPriorityQueue size ranking, CFStatsCollector.java)."
)
cfstats_widest = _ranking(
    ["cells", "size"], ("-cells", "-size", "partition_key"),
    doc="Widest partitions per table by live cell count (T1)."
)
cfstats_top_tombstones = _ranking(
    ["tombstones", "size"], ("-tombstones", "-size", "partition_key"),
    admit="tombstones",
    doc="Most-tombstoned partitions per table; zero-tombstone partitions "
        "never enter the heap (F2 conditional admission)."
)
cfstats_most_deleted = _ranking(
    ["row_deletes", "size"], ("-row_deletes", "-size", "partition_key"),
    admit="row_deletes",
    doc="Partitions with the most row deletes per table (F2-gated T1)."
)
cfstats_top_tables = _ranking(
    ["tables", "size"], ("-tables", "-size", "partition_key"),
    doc="Partitions spread over the most SSTables per table (compaction "
        "debt signal)."
)
# report order of the five ranking sections
RANKINGS = (cfstats_top_size, cfstats_widest, cfstats_top_tombstones,
            cfstats_most_deleted, cfstats_top_tables)


# --------------------------------------------------------------------------
# The same sections over a Cassandra data directory: decoded Data.db cells
# (``cell_size`` = a record's serialized span) plus the Index.db-delta
# partition sizes (sources/data_cells.py supplies both frames)
# --------------------------------------------------------------------------

# the directory per-sstable section: sizes come from Index.db deltas, and
# per-cell byte spans are a serialization detail the reference does not
# report either, so no max_cell_size
_DIRECTORY_SSTABLE_COLUMNS = [
    c for c in _SSTABLE_COLUMNS if c != "max_cell_size"
]
# (metric, admission column) of the four decoded-record rankings
_DIRECTORY_RANKINGS = (
    ("cells", None), ("tombstones", "tombstones"),
    ("row_deletes", "row_deletes"), ("tables", None),
)


def directory_totals(counted: DataFrame, sizes: DataFrame) -> DataFrame:
    """Totals over every Index.db partition (sizes = the reference's
    scanner deltas, DataReader.java:118-121), with ``counted`` -- the
    ``fold_partitions`` of the decoded cells, whose record-span size gives
    way to the index sizes -- LEFT-joined, and exact percentiles."""
    return table_totals(_left_join(
        [collate_sizes(sizes).drop("tables"), counted.drop("size")], _PK
    ))


def directory_sstables(cells: DataFrame, sizes: DataFrame) -> DataFrame:
    """Per-SSTable over the Index.db universe: partitions and size from
    the index deltas, counters from the decoded cells."""
    per_sst = sizes.groupBy(*_SST).agg(
        F.count(F.lit(1)).alias("partitions"),
        F.sum("size").alias("size"),
    )
    # the decoded frame has no useful partitioning, so the row distinct
    # (``sstable_rows``' identity) rides the counter aggregate's shuffle
    # instead of scanning the decode a second time
    rows = F.countDistinct(
        F.when(F.col("f_rowkind"), F.struct("partition_key", "clustering"))
    ).alias("row_count")
    return sstable_stats(
        [per_sst, sstable_sums(cells, rows)], _DIRECTORY_SSTABLE_COLUMNS
    )


def directory_report(
    cells: DataFrame, sizes: DataFrame, typed_sizes: DataFrame, n: int
) -> list[DataFrame]:
    """The eight ``cfstats --cassandra-dir`` sections, in report order.
    The per-partition counters feed the totals and four rankings, so they
    are materialized once; ``typed_sizes`` (the sizes with ``--key-type``
    keys) feed the largest-partitions ranking, which shows the size only.
    The decoded rankings rank only partitions that have records and break
    ties on partition_key."""
    counted = fold_partitions(cells).localCheckpoint(eager=True)
    return [
        directory_totals(counted, sizes),
        directory_sstables(cells, sizes),
        ttl_histogram(cells),
        rank_partitions(
            collate_sizes(typed_sizes), ["size"], ("-size", "partition_key"), n
        ),
        *(
            rank_partitions(counted, [m], (f"-{m}", "partition_key"), n, admit)
            for m, admit in _DIRECTORY_RANKINGS
        ),
    ]


def _rank_sql(metric_cols: str, order: str, where: str = "") -> str:
    return with_adapter(f""",
{_FLAGS_SQL.lstrip()},
{_PER_PARTITION_SQL.lstrip()}
SELECT keyspace, table_name, partition_key, {metric_cols}, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY keyspace, table_name ORDER BY {order}) AS rank
    FROM per_partition_stats {where}
) WHERE rank <= {DEFAULT_TOP_N}
""")


ORACLE_CFSTATS_GLOBAL = with_adapter(f""",
{_FLAGS_SQL.lstrip()},
{_PER_PARTITION_SQL.lstrip()}
SELECT keyspace, table_name,
       count(*) AS partitions,
       CAST(sum(size) AS BIGINT) AS total_size,
       CAST(sum(rows) AS BIGINT) AS row_count,
       CAST(sum(row_deletes) AS BIGINT) AS row_delete_count,
       CAST(sum(cells) AS BIGINT) AS cell_count,
       CAST(sum(tombstones) AS BIGINT) AS tombstone_count,
       CAST(sum(droppable_tombstones) AS BIGINT) AS droppable_tombstone_count,
       CAST(floor(sum(size) / count(*)) AS BIGINT) AS avg_partition_size,
       {percentile_sql('size')}
FROM per_partition_stats
GROUP BY 1, 2
""")

ORACLE_CFSTATS_SSTABLES = with_adapter(f""",
{_FLAGS_SQL.lstrip()}
SELECT keyspace, table_name, sstable_id,
       count(DISTINCT partition_key) AS partitions,
       count(DISTINCT row_key) AS row_count,
       CAST(sum(f_rowdel) AS BIGINT) AS row_delete_count,
       CAST(sum(f_cell) AS BIGINT) AS cell_count,
       CAST(sum(f_live) AS BIGINT) AS live_cell_count,
       CAST(sum(f_expiring) AS BIGINT) AS expiring_cell_count,
       CAST(sum(f_counter) AS BIGINT) AS counter_cell_count,
       CAST(sum(f_tomb) AS BIGINT) AS tombstone_count,
       CAST(sum(f_droppable) AS BIGINT) AS droppable_tombstone_count,
       CAST(sum(f_rtm) AS BIGINT) AS range_tombstone_count,
       CAST(sum(f_partdel) AS BIGINT) AS partition_delete_count,
       CAST(sum(cell_size) AS BIGINT) AS size,
       max(cell_size) AS max_cell_size,
       min(writetime) AS min_timestamp,
       max(writetime) AS max_timestamp,
       CASE WHEN sum(f_cell) > 0
            THEN CAST(floor(sum(f_live) * 100 / sum(f_cell)) AS BIGINT)
            ELSE 0 END AS liveness_pct
FROM flags
GROUP BY 1, 2, 3
""")

ORACLE_CFSTATS_TTL = with_adapter(f"""
SELECT keyspace, table_name,
       coalesce(ttl, {NO_TTL}) AS ttl,
       count(*) AS cell_count
FROM cells
WHERE kind IN ('CELL', 'STATIC_CELL')
GROUP BY 1, 2, 3
""")

def cfstats_global_scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-style single-table scoping (`--keyspace/--table`, the
    reference's `<keyspace> <table>` positionals --
    cli/ColumnFamilyStatisticsCollector.java:50) certified through the
    driver oracle, not just golden transcripts: cfstats_global under
    ``table_scope('ks1', 'tab_lcs')``. The scope applies at the cells ROOT
    (sources/tpch_adapter.table_scope), so the predicate constant-folds
    onto the source scan and every derived frame inherits it -- the oracle
    filters the SAME derivation, proving scoped == filtered-superset."""
    from cassandra_sstable_tools_spark.sources.tpch_adapter import table_scope

    with table_scope("ks1", "tab_lcs"):
        return cfstats_global(spark, sf_dir)


ORACLE_CFSTATS_GLOBAL_SCOPED = f"""
SELECT * FROM ({ORACLE_CFSTATS_GLOBAL.strip()})
WHERE keyspace = 'ks1' AND table_name = 'tab_lcs'
"""

QUERIES = {
    "cfstats_global": cfstats_global,
    "cfstats_global_scoped": cfstats_global_scoped,
    "cfstats_sstables": cfstats_sstables,
    "cfstats_ttl": cfstats_ttl,
    "cfstats_top_size": cfstats_top_size,
    "cfstats_widest": cfstats_widest,
    "cfstats_top_tombstones": cfstats_top_tombstones,
    "cfstats_most_deleted": cfstats_most_deleted,
    "cfstats_top_tables": cfstats_top_tables,
}
ORACLES = {
    "cfstats_global": ORACLE_CFSTATS_GLOBAL,
    "cfstats_global_scoped": ORACLE_CFSTATS_GLOBAL_SCOPED,
    "cfstats_sstables": ORACLE_CFSTATS_SSTABLES,
    "cfstats_ttl": ORACLE_CFSTATS_TTL,
    "cfstats_top_size": _rank_sql(
        "size, tables", "size DESC, partition_key ASC"
    ),
    "cfstats_widest": _rank_sql(
        "cells, size", "cells DESC, size DESC, partition_key ASC"
    ),
    "cfstats_top_tombstones": _rank_sql(
        "tombstones, size",
        "tombstones DESC, size DESC, partition_key ASC",
        "WHERE tombstones > 0",
    ),
    "cfstats_most_deleted": _rank_sql(
        "row_deletes, size",
        "row_deletes DESC, size DESC, partition_key ASC",
        "WHERE row_deletes > 0",
    ),
    "cfstats_top_tables": _rank_sql(
        "tables, size", "tables DESC, size DESC, partition_key ASC"
    ),
}
