"""Operator A7 -- compaction simulation (merge -> purge -> measure).

Reference: cassandra/PurgeStatisticBackend.java:70-257 -- per partition key:
measure every SSTable copy's serialized size (pre-merge), merge all copies
with last-writer-wins reconciliation + tombstone shadowing
(UnfilteredRowIterators.merge, :129), purge droppable tombstones
(PurgeFunction, predicate ``localDeletionTime < gcBefore`` strict, :208),
measure the merged size; ``reclaimable = pre_size - merged_size`` (:139).

Merge semantics on the `cells` event model:

1. LWW: among duplicate (partition_key, clustering, cell_name) records across
   sstables only the max-writetime copy survives; markers reconcile per scope
   (partition deletes per pk; row deletes per (pk, clustering); range
   tombstones per (pk, range)).
2. Shadowing (deletes remove older data, regardless of their own
   purgeability -- purge only decides whether the *marker itself* is kept):
   - PARTITION_DELETE with writetime W shadows everything in the partition
     with writetime < W;
   - ROW_DELETE shadows cells of its (pk, clustering) with writetime < W;
   - RANGE_TOMBSTONE_MARKER shadows cells with clustering in
     [range_start, range_end] and writetime < W.
3. Purge: surviving tombstone cells and delete markers with
   ``local_deletion_time < gcBefore`` are dropped. Expired expiring cells
   act as tombstones: droppable once ldt < gcBefore.

Deviation from the reference (documented, SURVEY.md A7): sizes are declared
``cell_size`` bytes, not Cassandra serialization; STATIC_CELLs merge like
regular cells.

Range-tombstone boundary splitting (reference :233-256) in the declared-size
model: where a droppable RTM's bound coincides with an opposite-type bound of
a surviving RTM (its ``range_end`` == the survivor's ``range_start`` or vice
versa -- a boundary marker in the reference's merged stream), the reference
replaces the boundary with the surviving side's bound marker instead of
dropping the whole marker (``createCorrespondingOpenMarker`` /
``createCorrespondingCloseMarker``). The declared-size analog: a marker's
size covers its two bounds, so the purged marker retains ``cell_size / 2``
(integer floor) per shared boundary (at most its two bounds). Both-sides
droppable -> whole boundary purged (reference returns null), no remnant.

Two formulations of these rules live here. The DataFrame one
(``purge_stats`` = ``merge_enriched`` + ``_purge_aggregate``) is the oracle
and the path of the parquet adapter's ``purge``, the registered
``purge_*_cassdir`` queries and ``compact``. ``purge_partition`` applies
the same rules to one partition's copies in plain Python: ``purge
--cassandra-dir`` runs it inside the task that merges every sstable of a
table in key order (sources/merge_scan.py), so no cell is shuffled and no
SQL plan is built. tests/test_purge_differential.py and
tests/test_purge_semantics.py hold the two equal.

Spark shape of the DataFrame formulation -- ZERO corpus shuffles on the
cached path, ONE corpus sort, no Python anywhere: the adapter caches
`cells` hash-partitioned on (keyspace, table_name, partition_key), and
every corpus-wide operator here -- the LWW
``row_number`` window and the two-level final aggregation -- keys on a
superset of that partitioning, so ClusteredDistribution is satisfied straight
off the cache (an uncached input just gets one planner-inserted window
exchange). ALL tombstone interactions -- partition-delete watermark,
row-delete watermark, RTM interval shadowing, and the RTM boundary-splitting
remnant -- ride ONE rare-row broadcast side table (deletes are a small
fraction of any real corpus): a single marker scan aggregates per-pk structs
and the remnant is computed with array expressions on that one row, so the
corpus pays a hash probe per row where the r02-r03 formulation paid two more
corpus-wide windows, a sort-merge anti-join, and a melt + self-join remnant
branch. Survival is then a per-row boolean, and pre_size / merged_size /
tables / remnant come out of a SINGLE two-level aggregation pass
((pk, sstable) partials -> pk, both exchange-free on the corpus
partitioning). At 100 TB: if a pathological corpus ever made the delete map
too big to broadcast, it is a _PK-keyed equi-join, so dropping the broadcast
hint falls back to a co-partitioned join on the existing partitioning; AQE
decides at runtime.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from cassandra_sstable_tools_spark.constants import GC_BEFORE

_PK = ["keyspace", "table_name", "partition_key"]
_CELLISH = ("CELL", "STATIC_CELL", "ROW_MARKER")


def purge_stats(cells: DataFrame, gc_before: int = GC_BEFORE) -> DataFrame:
    """Per-partition (pre_size, merged_size, reclaimable, tables)."""
    enriched, survives = merge_enriched(cells, gc_before)
    return _purge_aggregate(enriched, survives)


def merge_enriched(cells: DataFrame, gc_before: int = GC_BEFORE):
    """The compaction-merge core: (enriched frame, survives Column).

    `enriched` is every cell copy with its LWW rank and the broadcast
    per-pk delete map (pd_wt / rds / rtms / remnant) joined on; `survives`
    is the post-merge-post-purge keep decision per row. purge_stats
    aggregates this to sizes; compaction_preview aggregates it per cell
    class -- both consume ONE shared formulation so the semantics can't
    fork."""
    # No explicit repartition: the adapter's cells cache is hash-partitioned
    # on (keyspace, table_name, partition_key), which satisfies the
    # ClusteredDistribution of the LWW window AND the final aggregation --
    # zero corpus exchanges on the cached path. An arbitrary (uncached)
    # input just gets the planner-inserted window exchange instead.
    c = cells

    # Scope-aware dedup key: partition deletes reconcile per pk, row deletes
    # per (pk, clustering), RTMs per (pk, range), cells per (pk, clustering,
    # cell_name), row markers per (pk, clustering).
    dedup_clustering = F.when(
        F.col("kind").isin("PARTITION_DELETE", "RANGE_TOMBSTONE_MARKER"), F.lit("")
    ).otherwise(F.col("clustering"))
    dedup_name = (
        F.when(F.col("kind") == "ROW_DELETE", F.lit("<rd>"))
        .when(F.col("kind") == "PARTITION_DELETE", F.lit("<pd>"))
        .when(
            F.col("kind") == "RANGE_TOMBSTONE_MARKER",
            F.concat(F.lit("<rtm>"), "range_start", F.lit("|"), "range_end"),
        )
        .when(
            # complex (collection-level) deletions reconcile per
            # (pk, clustering, column) -- cell_name is the BASE column on
            # these records (the path fold only applies to cells)
            F.col("kind") == "COMPLEX_DELETE",
            F.concat(F.lit("<cd>"), F.coalesce("cell_name", F.lit(""))),
        )
        .otherwise(F.coalesce(F.col("cell_name"), F.lit("<marker>")))
    )

    w_lww = Window.partitionBy(
        *_PK, dedup_clustering, dedup_name
    ).orderBy(F.desc("writetime"))

    # Delete-marker side table: ONE pass over the (cached) raw input builds,
    # per pk, everything tombstone-related the merge needs --
    #   pd_wt:   partition-delete watermark (scalar)
    #   rds:     row-delete watermarks as (clustering, wt) structs
    #   rtms:    every RTM copy as a (rs, re, wt, ldt, cs) struct
    #   remnant: the RTM boundary-splitting byte count (below)
    # -- and broadcast-joins it back on pk. Deletes are a small fraction of
    # any real corpus, so this frame is tiny; one broadcast replaces two
    # corpus-wide windows and a sort-merge anti-join from the r02-r03
    # formulation (the corpus paid a sort for each -- now it pays a hash
    # probe per row), and fusing everything keeps it to a single
    # materialization job over a single marker scan (profiled: the separate
    # pd/rd/rtm/remnant subtrees each re-scanned the corpus cache at ~0.5s
    # apiece). collect_list skips nulls, so the conditional structs
    # partition the marker rows by kind.
    delete_map_raw = (
        cells.where(
            F.col("kind").isin(
                "PARTITION_DELETE", "ROW_DELETE", "RANGE_TOMBSTONE_MARKER",
                "COMPLEX_DELETE",
            )
        )
        .groupBy(*_PK)
        .agg(
            F.max(
                F.when(F.col("kind") == "PARTITION_DELETE", F.col("writetime"))
            ).alias("pd_wt"),
            F.collect_list(
                F.when(
                    F.col("kind") == "ROW_DELETE",
                    F.struct(
                        F.col("clustering").alias("cl"),
                        F.col("writetime").alias("wt"),
                    ),
                )
            ).alias("rds"),
            F.collect_list(
                F.when(
                    F.col("kind") == "RANGE_TOMBSTONE_MARKER",
                    F.struct(
                        F.col("range_start").alias("rs"),
                        F.col("range_end").alias("re"),
                        F.col("writetime").alias("wt"),
                        F.col("local_deletion_time").alias("ldt"),
                        F.col("cell_size").alias("cs"),
                    ),
                )
            ).alias("rtms"),
            # complex (collection) deletion watermarks per (clustering,
            # column): they shadow that column's path-addressed cells
            F.collect_list(
                F.when(
                    F.col("kind") == "COMPLEX_DELETE",
                    F.struct(
                        F.col("clustering").alias("cl"),
                        F.col("cell_name").alias("col"),
                        F.col("writetime").alias("wt"),
                    ),
                )
            ).alias("cds"),
        )
    )

    # RTM boundary splitting (docstring above) as pure array expressions on
    # the per-pk rtms -- no extra scan, window, or join (the r03 melt +
    # self-join formulation re-evaluated a corpus window stack per side):
    # 1. winners: per distinct (rs, re) range, the last-writer copy.
    #    array_sort on (rs, re, wt, ldt, cs) structs is lexicographic, so
    #    within one range the max element is the max-writetime copy (tie ->
    #    max ldt, cs -- the same this-row-or-that-row arbitrariness the
    #    previous row_number() ordering by writetime alone had).
    # 2. live: not shadowed by the partition-delete watermark.
    # 3. A PURGED (ldt < gc_before) live winner's bound that coincides with
    #    an OPPOSITE-type bound of a KEPT live winner is a reference
    #    boundary marker -> floor(cs/2) survives per such bound; a
    #    degenerate rs==re marker counts its position once.
    # Common-subexpression materialization (optimization round: the
    # single-expression formulation inlined the winners subtree ~6x in one
    # Project AND re-derived the kept-winner arrays PER PURGED ELEMENT
    # inside the aggregate lambda -- visible in plans/r12/
    # purge_top_before.txt node 18). Helper columns are multi-referenced,
    # so CollapseProject keeps each as its own Project stage, evaluated
    # once per delete-map row; only cheap field extractions remain inside
    # the per-element lambdas. Values are identical by construction.
    # A range with a NULL bound has no winner: NULL never equals itself,
    # so its filter below would be empty (element_at of [] raises).
    _range = F.array_distinct(
        F.transform(
            F.filter("rtms", lambda m: m["rs"].isNotNull() & m["re"].isNotNull()),
            lambda m: F.struct(m["rs"].alias("rs"), m["re"].alias("re")),
        )
    )
    winners = F.transform(
        _range,
        lambda r: F.element_at(
            F.array_sort(
                F.filter(
                    "rtms", lambda m: (m["rs"] == r["rs"]) & (m["re"] == r["re"])
                )
            ),
            -1,
        ),
    )
    live = lambda m: F.col("pd_wt").isNull() | (m["wt"] > F.col("pd_wt"))  # noqa: E731
    dm = delete_map_raw.withColumn("_winners", winners)
    dm = dm.withColumn(
        "_kept_w",
        F.filter("_winners", lambda m: live(m) & (m["ldt"] >= gc_before)),
    ).withColumn(
        "_purged_w",
        F.filter("_winners", lambda m: live(m) & (m["ldt"] < gc_before)),
    )
    kept_open_pos = F.transform(F.col("_kept_w"), lambda m: m["rs"])
    kept_close_pos = F.transform(F.col("_kept_w"), lambda m: m["re"])
    # purged OPEN bound (pos=rs) meets a kept CLOSE bound; purged CLOSE
    # bound (pos=re) meets a kept OPEN bound.
    def _remnant_bounds(m):
        open_met = F.exists(kept_close_pos, lambda p: p == m["rs"])
        close_met = F.exists(kept_open_pos, lambda p: p == m["re"])
        both_same_pos = m["rs"] == m["re"]
        n_bounds = F.when(
            both_same_pos, F.when(open_met | close_met, 1).otherwise(0)
        ).otherwise(
            open_met.cast("int") + close_met.cast("int")
        )
        return F.floor(m["cs"] / 2) * n_bounds.cast("bigint")

    remnant = F.aggregate(
        F.col("_purged_w"), F.lit(0).cast("bigint"),
        lambda acc, m: acc + _remnant_bounds(m),
    )
    delete_map = broadcast(
        dm.withColumn("remnant", remnant)
        .drop("_winners", "_kept_w", "_purged_w")
    )

    enriched = c.withColumn("rn", F.row_number().over(w_lww)).join(
        delete_map, _PK, "left"
    )

    is_cellish = F.col("kind").isin(*_CELLISH)
    not_pd_shadowed = F.col("pd_wt").isNull() | (F.col("writetime") > F.col("pd_wt"))
    # Row-delete watermark: max wt among this row's (pk, clustering) row
    # deletes -- an O(|rds|) array probe, |rds| is per-pk delete count.
    rd_wt = F.array_max(
        F.transform(
            F.filter(F.col("rds"), lambda r: r["cl"] == F.col("clustering")),
            lambda r: r["wt"],
        )
    )
    not_rd_shadowed = rd_wt.isNull() | (F.col("writetime") > rd_wt)
    # Complex-deletion watermark: max wt among this row's (clustering,
    # BASE column) complex deletes -- the base of a path-folded cell name
    # like 'm0[k3]' is 'm0' (plain names, which never contain '[', pass
    # through substring_index unchanged).
    cd_wt = F.array_max(
        F.transform(
            F.filter(
                F.col("cds"),
                lambda r: (r["cl"] == F.col("clustering"))
                & (r["col"] == F.substring_index(F.col("cell_name"), "[", 1)),
            ),
            lambda r: r["wt"],
        )
    )
    not_cd_shadowed = cd_wt.isNull() | (F.col("writetime") > cd_wt)
    acts_as_tombstone = F.col("is_tombstone") | (
        F.col("is_expiring") & (F.col("local_deletion_time") < gc_before)
    )
    not_purged_cell = ~(acts_as_tombstone & (F.col("local_deletion_time") < gc_before))
    marker_not_purged = F.col("local_deletion_time") >= gc_before
    # RTM interval shadowing as a per-row array probe (same predicate the
    # old anti-join carried; exists() over null/empty rtms -> coalesce).
    rtm_shadowed = F.coalesce(
        F.exists(
            F.col("rtms"),
            lambda r: (F.col("clustering") >= r["rs"])
            & (F.col("clustering") <= r["re"])
            & (F.col("writetime") < r["wt"]),
        ),
        F.lit(False),
    )

    survives = (F.col("rn") == 1) & (
        F.when(
            is_cellish,
            not_pd_shadowed & not_rd_shadowed & not_cd_shadowed
            & not_purged_cell & ~rtm_shadowed,
        )
        .when(F.col("kind") == "PARTITION_DELETE", marker_not_purged)
        .when(
            # a complex deletion is row-scoped state: a newer row delete
            # (or partition delete) supersedes it; purge drops it once
            # its own ldt passes gc_before
            F.col("kind") == "COMPLEX_DELETE",
            not_pd_shadowed & not_rd_shadowed & marker_not_purged,
        )
        .otherwise(not_pd_shadowed & marker_not_purged)  # ROW_DELETE / RTM
    )
    return enriched, survives


def _purge_aggregate(enriched: DataFrame, survives) -> DataFrame:
    # ONE fused aggregation pass: pre_size (every copy), merged_size
    # (survivors only -- the boolean above), and tables (distinct sstables)
    # come out of a two-level aggregate. Level 1 groups by (pk, sstable_id)
    # -- a superset of the corpus partitioning, so no exchange and heavy
    # partial-agg reduction; level 2 counts level-1 rows for the exact
    # distinct-sstable count WITHOUT countDistinct's Expand (which would
    # double the corpus through the aggregate). The r02-r03 shape computed
    # pre and merged as two corpus-sized aggregates and joined them.
    # The per-pk remnant is a constant on every joined row of the pk (it
    # rides the broadcast map), so max() carries it through both levels --
    # no separate remnant frame, no extra join.
    level1 = enriched.groupBy(*_PK, "sstable_id").agg(
        F.sum("cell_size").alias("ps"),
        F.sum(F.when(survives, F.col("cell_size")).otherwise(F.lit(0))).alias("ms"),
        F.max("remnant").alias("remnant"),
    )
    stats = level1.groupBy(*_PK).agg(
        F.sum("ps").alias("pre_size"),
        F.sum("ms").alias("merged_size"),
        F.count(F.lit(1)).alias("tables"),
        F.max("remnant").alias("remnant"),
    )

    return (
        stats.withColumn(
            "merged_size",
            F.col("merged_size") + F.coalesce(F.col("remnant"), F.lit(0)),
        )
        .drop("remnant")
        .withColumn("reclaimable", F.col("pre_size") - F.col("merged_size"))
    )


# ---------------------------------------------------------------------------
# The same rules over ONE partition's copies, in plain Python: the directory
# CLI merges every sstable's partitions in key order inside a task
# (sources/merge_scan.py) and runs this on each merged partition. NULLs
# follow the SQL formulation above (three-valued logic, NULL-ignoring sums),
# so the two agree, header-resident partition deletes (NULL cell_size) and
# range tombstones with a NULL bound included.
# ---------------------------------------------------------------------------

# field order of one copy handed to purge_partition
PURGE_FIELDS = (
    "sstable_id", "kind", "clustering", "cell_name", "cell_size",
    "writetime", "is_tombstone", "is_expiring", "local_deletion_time",
    "range_start", "range_end",
)


def _and(*vs):
    """SQL AND: False wins, then NULL (None)."""
    out = True
    for v in vs:
        if v is False:
            return False
        if v is None:
            out = None
    return out


def _or(a, b):
    """SQL OR: True wins, then NULL (None)."""
    if a is True or b is True:
        return True
    return None if a is None or b is None else False


def _cmp(a, b, op):
    return None if a is None or b is None else op(a, b)


def _newer(wt, watermark):
    """``watermark IS NULL OR wt > watermark``."""
    return True if watermark is None else _cmp(wt, watermark, operator.gt)


def _purge_sum(total, v):
    """One step of SQL ``sum``: NULLs are skipped; all-NULL stays NULL."""
    return total if v is None else (total or 0) + v


def _null_first(v):
    return (0,) if v is None else (1, v)



def purge_partition(copies, gc_before: int = GC_BEFORE) -> tuple:
    """``purge_stats`` of one partition: ``copies`` are every sstable's
    records of it as ``PURGE_FIELDS`` tuples -> ``(tables, pre_size,
    merged_size, reclaimable)``.

    The rules are ``merge_enriched`` + ``_purge_aggregate``'s: scope-aware
    LWW (the same dedup key strings; NULL writetimes lose, and of two
    copies with the same writetime the first one stays -- the frame picks
    either), partition/row/complex/range-tombstone shadowing, purge on
    strict ``ldt < gc_before``, the RTM boundary remnant (per distinct
    range the max ``(writetime, ldt, cell_size)`` copy), and the
    ``m0[k3]`` cell-path fold's base column for complex deletes."""
    winners: dict = {}
    pd_wt = None
    rd_wt: dict = {}
    cd_wt: dict = {}
    rtms = []
    pre = None
    for c in copies:
        _, kind, cl, name, cs, wt, _, _, _, rs, re = c
        pre = _purge_sum(pre, cs)
        if kind == "PARTITION_DELETE":
            key = ("", "<pd>")
            if wt is not None and (pd_wt is None or wt > pd_wt):
                pd_wt = wt
        elif kind == "RANGE_TOMBSTONE_MARKER":
            # concat() with a NULL bound is NULL
            key = ("", None if rs is None or re is None else
                   f"<rtm>{rs}|{re}")
            rtms.append(c)
        elif kind == "ROW_DELETE":
            key = (cl, "<rd>")
            if cl is not None and wt is not None:
                rd_wt[cl] = max(rd_wt.get(cl, wt), wt)
        elif kind == "COMPLEX_DELETE":
            key = (cl, "<cd>" + (name or ""))
            if cl is not None and name is not None and wt is not None:
                cd_wt[cl, name] = max(cd_wt.get((cl, name), wt), wt)
        else:
            key = (cl, "<marker>" if name is None else name)
        w = winners.get(key)
        if w is None or (wt is not None and (w[5] is None or wt > w[5])):
            winners[key] = c

    # LWW losers add 0, not NULL, to the merged sum
    merged = 0 if len(winners) < len(copies) else None
    for w in winners.values():
        _, kind, cl, name, cs, wt, tomb, exp, ldt, _, _ = w
        if kind in _CELLISH:
            base = None if name is None else name.split("[", 1)[0]
            purgeable = _cmp(ldt, gc_before, operator.lt)
            dropped = _and(_or(tomb, _and(exp, purgeable)), purgeable)
            keep = _and(
                _newer(wt, pd_wt), _newer(wt, rd_wt.get(cl)),
                _newer(wt, cd_wt.get((cl, base))),
                None if dropped is None else not dropped,
                not any(
                    cl is not None and r[9] is not None and r[10] is not None
                    and wt is not None and r[5] is not None
                    and r[9] <= cl <= r[10] and wt < r[5]
                    for r in rtms
                ),
            )
        elif kind == "PARTITION_DELETE":
            keep = _cmp(ldt, gc_before, operator.ge)
        elif kind == "COMPLEX_DELETE":
            keep = _and(_newer(wt, pd_wt), _newer(wt, rd_wt.get(cl)),
                        _cmp(ldt, gc_before, operator.ge))
        else:  # ROW_DELETE / RANGE_TOMBSTONE_MARKER
            keep = _and(_newer(wt, pd_wt), _cmp(ldt, gc_before, operator.ge))
        merged = _purge_sum(merged, cs if keep is True else 0)

    if merged is not None and rtms:
        merged += _rtm_remnant(rtms, pd_wt, gc_before)
    reclaimable = None if pre is None or merged is None else pre - merged
    tables = len({c[0] for c in copies})
    return tables, pre, merged, reclaimable


def _rtm_remnant(rtms, pd_wt, gc_before: int) -> int:
    """The boundary remnant of ``merge_enriched``: per distinct (start,
    end) range the max (writetime, ldt, cell_size) copy wins; a PURGED
    live winner keeps ``floor(cell_size / 2)`` per bound that meets an
    opposite-type bound of a KEPT live winner (a degenerate start == end
    marker counts its position once). A range with a NULL bound has no
    winner (NULL never equals itself), and a NULL size in a purged
    winner makes the whole remnant NULL, which adds 0."""
    best: dict = {}
    for r in rtms:
        if r[9] is None or r[10] is None:
            continue
        rank = tuple(_null_first(v) for v in (r[5], r[8], r[4]))
        k = (r[9], r[10])
        if k not in best or rank > best[k][0]:
            best[k] = (rank, r)
    kept, purged = [], []
    for _, r in best.values():
        if _newer(r[5], pd_wt) is not True or r[8] is None:
            continue
        (kept if r[8] >= gc_before else purged).append(r)
    opens = {r[9] for r in kept}
    closes = {r[10] for r in kept}
    remnant = 0
    for r in purged:
        open_met, close_met = r[9] in closes, r[10] in opens
        if r[9] == r[10]:
            n = int(open_met or close_met)
        else:
            n = open_met + close_met
        if r[4] is None:
            return 0
        remnant += (r[4] // 2) * n
    return remnant


def purge_stats_sql(gc_before: int = GC_BEFORE) -> str:
    """DuckDB mirror of ``purge_stats`` over the adapter's `cells` CTE.

    Returns a CTE chain ending in ``purge_per_partition``; append a SELECT.
    (Different physical formulation -- per-branch CTEs -- but identical
    semantics; the hash comparison is the proof.)"""
    return f"""
pre AS (
    SELECT keyspace, table_name, partition_key,
           CAST(sum(cell_size) AS BIGINT) AS pre_size,
           count(DISTINCT sstable_id) AS tables
    FROM cells GROUP BY 1, 2, 3
),
pd_wt AS (
    SELECT keyspace, table_name, partition_key, max(writetime) AS pd_wt
    FROM cells WHERE kind = 'PARTITION_DELETE' GROUP BY 1, 2, 3
),
rd_wt AS (
    SELECT keyspace, table_name, partition_key, clustering, max(writetime) AS rd_wt
    FROM cells WHERE kind = 'ROW_DELETE' GROUP BY 1, 2, 3, 4
),
cd_wt AS (
    -- complex (collection) deletion watermark per (row, base column)
    SELECT keyspace, table_name, partition_key, clustering,
           cell_name AS col, max(writetime) AS cd_wt
    FROM cells WHERE kind = 'COMPLEX_DELETE' GROUP BY 1, 2, 3, 4, 5
),
lww AS (
    SELECT *, row_number() OVER (
        PARTITION BY keyspace, table_name, partition_key, clustering,
                     coalesce(cell_name, '<marker>')
        ORDER BY writetime DESC) AS rn
    FROM cells WHERE kind IN ('CELL', 'STATIC_CELL', 'ROW_MARKER')
),
surviving_cells AS (
    SELECT w.keyspace, w.table_name, w.partition_key, w.cell_size
    FROM lww w
    LEFT JOIN pd_wt p USING (keyspace, table_name, partition_key)
    LEFT JOIN rd_wt r USING (keyspace, table_name, partition_key, clustering)
    LEFT JOIN cd_wt c
      ON c.keyspace = w.keyspace AND c.table_name = w.table_name
     AND c.partition_key = w.partition_key AND c.clustering = w.clustering
     AND c.col = split_part(w.cell_name, '[', 1)
    WHERE w.rn = 1
      AND (p.pd_wt IS NULL OR w.writetime > p.pd_wt)
      AND (r.rd_wt IS NULL OR w.writetime > r.rd_wt)
      AND (c.cd_wt IS NULL OR w.writetime > c.cd_wt)
      AND NOT EXISTS (
          SELECT 1 FROM cells t
          WHERE t.kind = 'RANGE_TOMBSTONE_MARKER'
            AND t.keyspace = w.keyspace AND t.table_name = w.table_name
            AND t.partition_key = w.partition_key
            AND w.clustering >= t.range_start AND w.clustering <= t.range_end
            AND w.writetime < t.writetime)
      AND NOT ((w.is_tombstone OR (w.is_expiring AND w.local_deletion_time < {gc_before}))
               AND w.local_deletion_time < {gc_before})
),
pd_surv AS (
    SELECT keyspace, table_name, partition_key, cell_size FROM (
        SELECT *, row_number() OVER (
            PARTITION BY keyspace, table_name, partition_key
            ORDER BY writetime DESC) AS rn
        FROM cells WHERE kind = 'PARTITION_DELETE')
    WHERE rn = 1 AND local_deletion_time >= {gc_before}
),
rd_surv AS (
    SELECT d.keyspace, d.table_name, d.partition_key, d.cell_size FROM (
        SELECT *, row_number() OVER (
            PARTITION BY keyspace, table_name, partition_key, clustering
            ORDER BY writetime DESC) AS rn
        FROM cells WHERE kind = 'ROW_DELETE') d
    LEFT JOIN pd_wt p USING (keyspace, table_name, partition_key)
    WHERE d.rn = 1 AND d.local_deletion_time >= {gc_before}
      AND (p.pd_wt IS NULL OR d.writetime > p.pd_wt)
),
cd_surv AS (
    SELECT d.keyspace, d.table_name, d.partition_key, d.cell_size FROM (
        SELECT *, row_number() OVER (
            PARTITION BY keyspace, table_name, partition_key, clustering,
                         cell_name
            ORDER BY writetime DESC) AS rn
        FROM cells WHERE kind = 'COMPLEX_DELETE') d
    LEFT JOIN pd_wt p USING (keyspace, table_name, partition_key)
    LEFT JOIN rd_wt r USING (keyspace, table_name, partition_key, clustering)
    WHERE d.rn = 1 AND d.local_deletion_time >= {gc_before}
      AND (p.pd_wt IS NULL OR d.writetime > p.pd_wt)
      AND (r.rd_wt IS NULL OR d.writetime > r.rd_wt)
),
rtm_live AS (
    SELECT d.* FROM (
        SELECT *, row_number() OVER (
            PARTITION BY keyspace, table_name, partition_key, range_start, range_end
            ORDER BY writetime DESC) AS rn
        FROM cells WHERE kind = 'RANGE_TOMBSTONE_MARKER') d
    LEFT JOIN pd_wt p USING (keyspace, table_name, partition_key)
    WHERE d.rn = 1 AND (p.pd_wt IS NULL OR d.writetime > p.pd_wt)
),
rtm_surv AS (
    SELECT keyspace, table_name, partition_key, cell_size
    FROM rtm_live WHERE local_deletion_time >= {gc_before}
),
-- boundary splitting (declared-size model, reference
-- PurgeStatisticBackend.java:233-256): a purged marker's bound meeting an
-- opposite-type bound of a kept marker retains floor(cell_size / 2)
rtm_remnant AS (
    SELECT keyspace, table_name, partition_key,
           CAST(sum(CAST(floor(cell_size / 2) AS BIGINT)) AS BIGINT) AS cell_size
    FROM (
        SELECT DISTINCT pb.keyspace, pb.table_name, pb.partition_key,
               pb.range_start, pb.range_end, pb.cell_size, pb.pos
        FROM (
            SELECT keyspace, table_name, partition_key, range_start, range_end,
                   cell_size, range_start AS pos, 'open' AS typ
            FROM rtm_live WHERE local_deletion_time < {gc_before}
            UNION ALL
            SELECT keyspace, table_name, partition_key, range_start, range_end,
                   cell_size, range_end, 'close'
            FROM rtm_live WHERE local_deletion_time < {gc_before}
        ) pb
        JOIN (
            SELECT keyspace, table_name, partition_key,
                   range_start AS pos, 'open' AS typ
            FROM rtm_live WHERE local_deletion_time >= {gc_before}
            UNION ALL
            SELECT keyspace, table_name, partition_key, range_end, 'close'
            FROM rtm_live WHERE local_deletion_time >= {gc_before}
        ) kb
          ON pb.keyspace = kb.keyspace AND pb.table_name = kb.table_name
         AND pb.partition_key = kb.partition_key
         AND pb.pos = kb.pos AND pb.typ <> kb.typ
    ) GROUP BY 1, 2, 3
),
survivors AS (
    SELECT * FROM surviving_cells
    UNION ALL SELECT * FROM pd_surv
    UNION ALL SELECT * FROM rd_surv
    UNION ALL SELECT * FROM cd_surv
    UNION ALL SELECT * FROM rtm_surv
    UNION ALL SELECT * FROM rtm_remnant
),
merged AS (
    SELECT keyspace, table_name, partition_key,
           CAST(sum(cell_size) AS BIGINT) AS merged_size
    FROM survivors GROUP BY 1, 2, 3
),
purge_per_partition AS (
    SELECT pre.keyspace, pre.table_name, pre.partition_key, pre.pre_size,
           pre.tables,
           coalesce(m.merged_size, 0) AS merged_size,
           pre.pre_size - coalesce(m.merged_size, 0) AS reclaimable
    FROM pre
    LEFT JOIN merged m USING (keyspace, table_name, partition_key)
)"""
