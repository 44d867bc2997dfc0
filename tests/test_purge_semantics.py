"""Unit tests for operator A7 on tiny hand-built frames (SURVEY.md §5.1).

Covers the fidelity-critical edges:
- droppability boundary: ldt == gc_before is NOT droppable (strict <,
  reference PurgeStatisticBackend.java:208);
- last-writer-wins keeps exactly the newest duplicate;
- partition delete shadows older cells but not newer ones;
- row delete shadows only its clustering;
- range tombstone shadows only clusterings inside [start, end] with older wt;
- fully-shadowed partition reclaims everything except surviving markers.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cassandra_sstable_tools_spark.operators.purge import purge_stats

GC = 1000  # use a tiny gc_before for readable test data

COLS = (
    "keyspace string, table_name string, sstable_id string, partition_key string,"
    "clustering string, kind string, cell_name string, cell_size long,"
    "writetime long, ttl int, is_tombstone boolean, is_expiring boolean,"
    "is_counter boolean, local_deletion_time long, range_start string,"
    "range_end string, gc_grace_seconds int"
)


def _cell(pk, clustering, name, size, wt, sstable="s1", kind="CELL",
          tomb=False, ldt=None, rs=None, re=None):
    return ("ks", "t", sstable, pk, clustering, kind, name, size, wt,
            None, tomb, False, False, ldt, rs, re, 0)


def _run(spark, rows):
    """purge_stats per partition; every case also runs through the
    directory CLI's in-task Python purge (``purge_partition``), which must
    agree with it exactly, so each assertion below holds for both."""
    from cassandra_sstable_tools_spark.operators.purge import (
        PURGE_FIELDS,
        purge_partition,
    )

    df = spark.createDataFrame(rows, schema=COLS)
    out = {
        r["partition_key"]: r.asDict()
        for r in purge_stats(df, gc_before=GC).collect()
    }
    names = [f.split()[0] for f in COLS.split(",")]
    for pk, got in out.items():
        copies = [
            tuple(dict(zip(names, r))[f] for f in PURGE_FIELDS)
            for r in rows if r[3] == pk
        ]
        tables, pre, merged, reclaimable = purge_partition(copies, GC)
        assert (tables, pre, merged, reclaimable) == (
            got["tables"], got["pre_size"], got["merged_size"],
            got["reclaimable"],
        ), pk
    return out


def test_lww_dedup(spark):
    out = _run(spark, [
        _cell("p1", "r1", "ca", 100, 10, sstable="s1"),
        _cell("p1", "r1", "ca", 60, 20, sstable="s2"),   # newer wins
        _cell("p1", "r1", "cb", 40, 10),
    ])
    assert out["p1"]["pre_size"] == 200
    assert out["p1"]["merged_size"] == 100  # 60 (winner ca) + 40 (cb)
    assert out["p1"]["reclaimable"] == 100
    assert out["p1"]["tables"] == 2


def test_droppable_boundary_strict(spark):
    out = _run(spark, [
        # ldt == GC -> NOT droppable, survives
        _cell("p1", "r1", "ca", 50, 10, tomb=True, ldt=GC),
        # ldt < GC -> droppable, purged
        _cell("p2", "r1", "ca", 50, 10, tomb=True, ldt=GC - 1),
    ])
    assert out["p1"]["merged_size"] == 50
    assert out["p2"]["merged_size"] == 0
    assert out["p2"]["reclaimable"] == 50


def test_partition_delete_shadowing(spark):
    out = _run(spark, [
        _cell("p1", "r1", "ca", 100, 10),                      # shadowed (wt 10 < 15)
        _cell("p1", "r2", "cb", 70, 20),                       # survives (wt 20 > 15)
        _cell("p1", "", None, 5, 15, kind="PARTITION_DELETE", ldt=GC + 1),
    ])
    # merged = cb(70) + surviving partition-delete marker (5)
    assert out["p1"]["merged_size"] == 75
    assert out["p1"]["reclaimable"] == 100


def test_partition_delete_purged_but_still_shadows(spark):
    out = _run(spark, [
        _cell("p1", "r1", "ca", 100, 10),
        _cell("p1", "", None, 5, 15, kind="PARTITION_DELETE", ldt=GC - 1),
    ])
    # marker is droppable (purged) AND its shadowing still removes the cell
    assert out["p1"]["merged_size"] == 0
    assert out["p1"]["reclaimable"] == 105


def test_row_delete_scope(spark):
    out = _run(spark, [
        _cell("p1", "r1", "ca", 100, 10),                      # shadowed by row delete
        _cell("p1", "r2", "ca", 80, 10),                       # other row: survives
        _cell("p1", "r1", None, 5, 15, kind="ROW_DELETE", ldt=GC + 1),
    ])
    assert out["p1"]["merged_size"] == 85  # 80 + marker 5


def test_range_tombstone_interval(spark):
    out = _run(spark, [
        _cell("p1", "b", "ca", 100, 10),   # in [a, c], older -> shadowed
        _cell("p1", "d", "ca", 80, 10),    # outside range -> survives
        _cell("p1", "b", "cb", 60, 30),    # in range but newer -> survives
        _cell("p1", "", None, 5, 20, kind="RANGE_TOMBSTONE_MARKER",
              ldt=GC + 1, rs="a", re="c"),
    ])
    assert out["p1"]["merged_size"] == 145  # 80 + 60 + marker 5


def test_marker_reconciliation_keeps_newest(spark):
    out = _run(spark, [
        _cell("p1", "", None, 5, 10, kind="PARTITION_DELETE", ldt=GC + 1),
        _cell("p1", "", None, 7, 20, kind="PARTITION_DELETE", ldt=GC + 2),
    ])
    # only the newest marker survives the merge
    assert out["p1"]["merged_size"] == 7
    assert out["p1"]["reclaimable"] == 5


def test_rtm_boundary_split(spark):
    """Boundary splitting (cassandra/PurgeStatisticBackend.java:233-256):
    when two adjacent range tombstones meet at a boundary and only ONE side
    is purgeable, the reference replaces the boundary marker with the
    unpurgeable side's bound marker (``createCorrespondingOpenMarker``)
    instead of dropping it whole -- part of the boundary's bytes survive.

    Declared-size analog (operators/purge.py docstring): the purged marker
    retains floor(cell_size / 2) -- the shared bound's half -- per boundary
    it forms with a kept marker.

    Fixture: r1=[a,c] droppable, r2=[c,e] kept; they meet at 'c'
    (r1's close bound == r2's open bound). r1 retains 9 // 2 = 4."""
    rtm_size = 9
    out = _run(spark, [
        _cell("p1", "b", "ca", 100, 10),  # shadowed by r1 (older, in [a,c])
        _cell("p1", "", None, rtm_size, 20, kind="RANGE_TOMBSTONE_MARKER",
              ldt=GC - 1, rs="a", re="c"),   # droppable side of the boundary
        _cell("p1", "", None, rtm_size, 20, kind="RANGE_TOMBSTONE_MARKER",
              ldt=GC + 1, rs="c", re="e"),   # kept side of the boundary
    ])
    # merged = r2 whole (9) + r1's surviving shared bound (9 // 2 = 4)
    assert out["p1"]["merged_size"] == rtm_size + rtm_size // 2
    assert out["p1"]["reclaimable"] == 100 + rtm_size - rtm_size // 2


def test_rtm_boundary_both_sides_droppable_purged_whole(spark):
    """Both sides of a boundary purgeable -> the reference returns null for
    the whole boundary marker; no remnant survives."""
    out = _run(spark, [
        _cell("p1", "", None, 9, 20, kind="RANGE_TOMBSTONE_MARKER",
              ldt=GC - 1, rs="a", re="c"),
        _cell("p1", "", None, 7, 30, kind="RANGE_TOMBSTONE_MARKER",
              ldt=GC - 1, rs="c", re="e"),
    ])
    assert out["p1"]["merged_size"] == 0
    assert out["p1"]["reclaimable"] == 16


def test_rtm_same_type_bounds_do_not_form_boundary(spark):
    """Two markers OPENING at the same position (overlap, not adjacency) do
    not form a reference boundary marker -> no remnant for the purged one."""
    out = _run(spark, [
        _cell("p1", "", None, 9, 20, kind="RANGE_TOMBSTONE_MARKER",
              ldt=GC - 1, rs="a", re="c"),
        _cell("p1", "", None, 7, 30, kind="RANGE_TOMBSTONE_MARKER",
              ldt=GC + 1, rs="a", re="e"),  # same OPEN bound 'a', kept
    ])
    assert out["p1"]["merged_size"] == 7  # r2 whole, r1 purged with no remnant


def test_reclaimable_bounded_by_size(spark, sf_dir):
    from cassandra_sstable_tools_spark.sources import tpch_adapter

    df = purge_stats(tpch_adapter.cells(spark, sf_dir))
    bad = df.where(
        (F.col("reclaimable") < 0) | (F.col("reclaimable") > F.col("pre_size"))
    ).count()
    assert bad == 0


def _sql(rows) -> dict:
    """The DuckDB mirror (``purge_stats_sql``) per partition."""
    import duckdb
    import pandas as pd

    from cassandra_sstable_tools_spark.operators.purge import purge_stats_sql

    con = duckdb.connect()
    con.register("cells", pd.DataFrame(
        rows, columns=[f.split()[0] for f in COLS.split(",")]
    ))
    sql = ("WITH " + purge_stats_sql(gc_before=GC).lstrip().lstrip(",")
           + "\nSELECT * FROM purge_per_partition")
    return {r["partition_key"]: r
            for r in con.execute(sql).fetchdf().to_dict("records")}


def test_rtm_null_bound_has_no_remnant_winner(spark):
    """An open-ended range delete (``ck < 'a'``) decodes with a NULL
    range_start. Its range takes no part in the boundary remnant (NULL
    never equals itself), so the DataFrame no longer raises on the empty
    winner pick; the other two markers still form their boundary (e:
    9 // 2 = 4 kept). All three formulations agree."""
    rows = [
        _cell("p1", "b", "ca", 100, 10),
        _cell("p1", "", None, 5, 20, kind="RANGE_TOMBSTONE_MARKER",
              ldt=GC + 1, rs=None, re="a"),
        _cell("p1", "", None, 9, 20, kind="RANGE_TOMBSTONE_MARKER",
              ldt=GC - 1, rs="c", re="e"),
        _cell("p1", "", None, 7, 20, kind="RANGE_TOMBSTONE_MARKER",
              ldt=GC + 1, rs="e", re="g"),
    ]
    out = _run(spark, rows)
    assert out["p1"]["pre_size"] == 121
    assert out["p1"]["merged_size"] == 100 + 5 + 7 + 4
    sql = _sql(rows)["p1"]
    assert (sql["pre_size"], sql["merged_size"]) == (121, 116)


def test_rtm_null_bound_other_bound_meets_purged_marker(spark):
    """A kept open-ended marker (NULL start, end 'c') next to a purged
    marker opening at 'c': the DataFrame and the in-task Python purge give
    the NULL-bound range no winner, so no remnant is kept (merged = cell
    + kept marker). The SQL mirror ranks NULL-bound ranges too (its window
    groups NULLs together), so it still counts the 'c' boundary and keeps
    9 // 2 = 4 more bytes: the formulations disagree here until open
    bounds get Cassandra's semantics in all three."""
    rows = [
        _cell("p1", "b", "ca", 100, 10),
        _cell("p1", "", None, 5, 20, kind="RANGE_TOMBSTONE_MARKER",
              ldt=GC + 1, rs=None, re="c"),
        _cell("p1", "", None, 9, 20, kind="RANGE_TOMBSTONE_MARKER",
              ldt=GC - 1, rs="c", re="e"),
    ]
    out = _run(spark, rows)
    assert out["p1"]["merged_size"] == 100 + 5
    assert out["p1"]["reclaimable"] == 9
    assert _sql(rows)["p1"]["merged_size"] == 100 + 5 + 9 // 2
